"""Per-key profiling for the optimization rounds: time registry keys the
way bench.py does (noop sink, shared shingle warm-up, cache clear between
trials), printing per-trial seconds so interleaved A/B comparisons can be
read off one session.

Usage: python scripts/profile_keys.py key [key ...]        # 3 trials each
       SPARK_GRAFT_PROFILE_TRIALS=5 python scripts/profile_keys.py ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    keys = sys.argv[1:]
    if not keys:
        raise SystemExit("usage: profile_keys.py key [key ...]")
    trials = int(os.environ.get("SPARK_GRAFT_PROFILE_TRIALS", "3"))
    from cloud2sql_spark import memo
    from cloud2sql_spark.queries.extensions import _doc_shingles
    from cloud2sql_spark.registry import queries
    from cloud2sql_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("cloud2sql_spark-profile")
    registry = queries()
    # same warm-up as bench.py
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        registry["agg_groupby"](spark, warm_dir).collect()
    best: dict[str, float] = {}
    for trial in range(trials):
        memo.reset()
        t0 = time.time()
        _doc_shingles(spark, sf_dir, nonempty=True).count()
        _doc_shingles(spark, sf_dir).count()
        dt = round(time.time() - t0, 3)
        print(f"trial {trial}: shingle_build {dt}", flush=True)
        best["shingle_build"] = min(best.get("shingle_build", 1e9), dt)
        for key in keys:
            spark.sparkContext.setJobDescription(f"profile:{key}")
            t0 = time.time()
            df = registry[key](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            print(f"trial {trial}: {key} {dt}", flush=True)
            best[key] = min(best.get(key, 1e9), dt)
        spark.catalog.clearCache()
    print("--- best ---")
    for k, v in best.items():
        print(f"{v:7.3f}  {k}")
    spark.stop()


if __name__ == "__main__":
    main()
