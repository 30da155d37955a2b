"""B-11 extension operators: deduplication + similarity search (SURVEY.md
§2; BASELINE.json north star — the training-data-pipeline surface).

Shared building blocks:

- **Shingles**: word 3-grams (sequence-sensitive; word-set Jaccard is
  useless on this corpus — 59% of pairs share ≥60% vocabulary, while
  shingle Jaccard is bimodal: planted near-dups at J≥0.9, background <0.2).
- **Quantized embeddings**: round(x*1000) int64 — dot products/norms are
  exact integer arithmetic, making cosine a fixed chain of IEEE ops that
  hashes identically across Spark and DuckDB (float-sum accumulation order
  never matters).

Scale design (100 TB):

- MinHash/SimHash banding: candidates come from equality joins on
  (band, signature) — shuffle is keyed and linear in data, never O(n²).
- Exact n-gram join is an inverted index on rare shingles (max df here 7;
  under heavy-tail shingle df, SPARK_GRAFT_PREFIX_FILTER=1 swaps in the
  AllPairs prefix-filter plan — identical output, stop-shingles excluded
  from the join; see _exact_jaccard_pairs).
- Brute-force cosine is the small-side baseline; the IVF variant probes
  top-2 of 10 centroid partitions, cutting the scan ~5× and partitioning
  cleanly by centroid id on a cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from cloud2sql_spark.checkpointing import truncate_lineage
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud2sql_spark import memo
from cloud2sql_spark.catalog import load_table
from cloud2sql_spark.flags import flag_enabled
from cloud2sql_spark.memo import session_memo, track
from cloud2sql_spark.queries.rounding import (
    ratio_round_oracle,
    ratio_round_spark,
)
from cloud2sql_spark.registry import register

# ---------------------------------------------------------------- helpers

# DuckDB twin of _doc_shingles' trigram construction (the list
# comprehension is empty for <3 words, matching the Python builder)
_SHINGLES_SQL = """
list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               for i in range(1, len(ws) - 1)])
"""

_EXACT_JACCARD_PAIRS_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sg FROM w)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.sg, b.sg)) * 1.0 /
           len(list_distinct(list_concat(a.sg, b.sg))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sg, b.sg)) * 1.0 /
          len(list_distinct(list_concat(a.sg, b.sg))) >= {{thr}}
"""


# The bench/test reset hook under its old name: perfbench/worker.py:206
# imports it from here, and perfbench/ is read-only outside a benchmark
# change. Everything else calls memo.reset().
clear_shingle_cache = memo.reset


def _doc_shingles(
    spark: SparkSession, sf_dir: str, nonempty: bool = False
) -> DataFrame:
    """Word 3-gram shingles per doc, built in ONE Arrow-batched pass.

    History: the expression form (split → repartition barrier →
    transform(sequence, i -> concat_ws(slice)) + array_distinct) was
    itself two fixes deep (inlined split re-evaluated per index; explode's
    inferred filter re-ran the HOF) and still burned interpreter time per
    shingle outside codegen — the SKILL gotcha. Python slicing +
    dict.fromkeys does the identical construction (same trigram strings,
    same first-occurrence distinct order, and str.split(' ') keeps
    trailing empties exactly like Spark's split) ~3× faster end-to-end at
    10× sf0.1. The repartition spreads the CPU-heavy pass across all
    cores (the fixture is a single file split; on a many-split lake table
    it is a cheap rebalance).

    Ten keys read this memo: dedup_near_minhash, the exact-Jaccard truth
    pairs (dedup_ngram_jaccard, dedup_minhash_banding_curve and
    dedup_quality_report's truth arm), the df-capped index and its
    verify join (dedup_ngram_capped, dedup_containment,
    dedup_cluster_cc), dedup_sorted_neighborhood, text_fingerprint and
    text_contamination. dedup_simhash does not: _simhash_sig_frame
    repeats these shingling rules inside its own single pass, and
    tests/test_queries.py pins its signatures to the oracle's."""
    # ONE Arrow pass per (session, sf_dir): the nonempty variant is a
    # filter over the same memoized frame, not a second build (the two
    # variants used to cost two full shingle passes per session).
    full = session_memo(
        spark, ("shingles", sf_dir), lambda: _shingle_build(spark, sf_dir)
    )
    return full.filter(F.size("sg") > 0) if nonempty else full


def _shingle_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism * 2
    base = docs.select("doc_id", "text").repartition(par)

    def shingle(batches):
        import pandas as pd

        for pdf in batches:
            ids, sgs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL text → NULL shingle list, matching SQL NULL
                # propagation (split(NULL) IS NULL on both engines; the
                # r13 NULL-injection probe caught the old []-collapse
                # making text_fingerprint emit ''/0 where the oracle
                # emits NULL/NULL). Every nonempty=True consumer filters
                # size(sg) > 0, which drops NULL exactly like [].
                if not isinstance(text, str):
                    ids.append(doc_id)
                    sgs.append(None)
                    continue
                ws = text.split(" ")
                if len(ws) >= 3:
                    sg = list(
                        dict.fromkeys(
                            " ".join(ws[i : i + 3])
                            for i in range(len(ws) - 2)
                        )
                    )
                else:
                    sg = []
                ids.append(doc_id)
                sgs.append(sg)
            yield pd.DataFrame({"doc_id": ids, "sg": sgs})

    return base.mapInPandas(shingle, "doc_id BIGINT, sg ARRAY<STRING>")


def _tok_with_df(shingled: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared token-index build for the prefix-filter family: the
    exploded (doc_id, n, g) token frame (persisted + tracked — every
    caller reads it at least twice) and its per-shingle document
    frequency from a plain partial-aggregable COUNT (never a posting
    array).

    explode_outer, not explode: InferFiltersFromGenerate turns a plain
    explode into a size(sg)>0 AND isnotnull(sg) filter that Catalyst
    pushes below the repartition exchange — re-evaluating the whole
    shingle HOF twice per doc inside the single-task scan stage
    (measured 3× the stage). outer explode infers nothing; the cheap
    g IS NOT NULL post-filter restores identical rows. One definition
    so a fix to either hazard reaches every flagged plan at once."""
    sized = shingled.withColumn("n", F.size("sg"))
    tok = track(
        sized.select("doc_id", "n", F.explode_outer("sg").alias("g"))
        .filter(F.col("g").isNotNull())
        .persist()
    )
    df_g = tok.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return tok, df_g


def _prefix_len(threshold: float) -> Column:
    """AllPairs prefix length n − ⌈t·n⌉ + 1 over the column ``n``. The
    1e-9 slack inside ceil() is load-bearing: binary-unrepresentable
    thresholds (0.8·5 → 4.0000000000000002) must round DOWN so float
    noise only ever LENGTHENS a prefix — a short prefix silently loses
    boundary pairs (property-tested in tests/test_prefix_filter.py)."""
    return (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
        + 1
    )


def _exact_jaccard_pairs_shared(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Session-memoized exact-Jaccard truth pairs over the corpus
    shingles — one build serves dedup_ngram_jaccard, the quality
    report's truth side and the banding curve's S-curve input."""
    flag = flag_enabled("SPARK_GRAFT_PREFIX_FILTER")
    return session_memo(
        spark,
        ("jaccard_pairs", sf_dir, threshold, flag),
        lambda: _exact_jaccard_pairs(
            _doc_shingles(spark, sf_dir, nonempty=True), threshold
        ),
    )


def _exact_jaccard_pairs(shingled: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-Jaccard pairs ≥ threshold.

    Default plan: inverted-index self-join — explode shingles, join on
    the shingle with doc_a < doc_b, count shared, derive |union| =
    na + nb − shared. Candidate volume is Σ_g df(g)²; on THIS corpus max
    df is 7, so the quadratic term is negligible and the two extra
    linear shuffles the prefix path needs (global df groupBy + per-doc
    prefix rank window) cost more than they save (measured 1.7s vs 4.8s
    at sf0.1).

    ``SPARK_GRAFT_PREFIX_FILTER=1`` swaps in AllPairs prefix filtering
    (Bayardo/Ma/Srikant, WWW'07) — the plan that survives a heavy-tail
    shingle distribution at 100 TB, where stop-shingles make Σ df²
    superlinear. Output is bit-identical (equivalence pinned on the real
    corpus and a crafted stop-shingle fixture in
    tests/test_prefix_filter.py); the choice is purely physical."""
    sized = shingled.withColumn("n", F.size("sg"))
    tok, df_g = _tok_with_df(shingled)
    if not flag_enabled("SPARK_GRAFT_PREFIX_FILTER"):
        a, b = tok.alias("a"), tok.alias("b")
        shared = (
            a.join(
                b,
                (F.col("a.g") == F.col("b.g"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n").alias("na"),
                F.col("b.n").alias("nb"),
            )
            .agg(F.count("*").alias("inter"))
        )
        j = F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter"))
        return shared.filter(j >= threshold).select(
            "doc_a", "doc_b", j.alias("jaccard")
        )
    # --- prefix-filter scale path ---------------------------------------
    # Order every doc's shingles by one global rare-first total order
    # (document frequency, then the shingle string) and keep only the
    # PREFIX of length n − ⌈t·n⌉ + 1. Pigeonhole guarantee: a pair with
    # J ≥ t has inter ≥ ⌈t·n⌉ common shingles on each side, so its
    # globally-smallest common shingle cannot sit in either
    # (⌈t·n⌉−1)-long suffix — it lands in BOTH prefixes, and the prefix
    # equi-join finds every qualifying pair. Candidates then pass the
    # length filter (min(na,nb) ≥ t·max(na,nb), another J ≥ t
    # consequence) and an exact array_intersect verification. A frequent
    # shingle sorts to the END of every doc — outside the prefix
    # whenever the doc has ⌈t·n⌉−1 rarer ones — so join volume
    # concentrates on low-df² terms. The 1e-9 slack on ⌈t·n⌉ and the
    # length filter only ever LENGTHENS a prefix / loosens the filter
    # (float noise in t·n must never prune a boundary pair); exactness
    # comes from the verify step regardless.
    w = Window.partitionBy("doc_id").orderBy("df", "g")
    prefix = track(
        tok.join(df_g, "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _prefix_len(threshold))
        .select("doc_id", "n", "g")
        .persist()
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least("a.n", "b.n") * F.lit(1.0)
                >= F.lit(threshold) * F.greatest("a.n", "b.n") - F.lit(1e-9)
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    ver = (
        cand.join(
            sized.select(F.col("doc_id").alias("doc_a"), F.col("sg").alias("sga")),
            "doc_a",
        )
        .join(
            sized.select(F.col("doc_id").alias("doc_b"), F.col("sg").alias("sgb")),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sga", "sgb")))
    )
    j = F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter"))
    return ver.filter(j >= threshold).select(
        "doc_a", "doc_b", j.alias("jaccard")
    )


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings quantized to integer milli-units (exact arithmetic);
    memoized per (session, sf_dir): a dozen embedding ops (and several
    branches WITHIN ops — centroids, probes, candidate sides) would each
    re-derive it from the parquet scan otherwise."""

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        qv = F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000, 0).cast("long"),
        )
        return emb.select("vec_id", "label", qv.alias("v"))

    return session_memo(spark, ("quant", sf_dir), build)


def _int_dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


_QUANT_SQL = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))"


def _ordered_collect(idx_col: str, val_col: str) -> Column:
    """Deterministic array rebuild from exploded (index, value) rows:
    collect_list order is partition-dependent, so the struct sort on the
    index is what makes the result reproducible. Shared by the embed
    family's centroid/direction rebuilds and RAKE's phrase assembly."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct(idx_col, val_col))),
        lambda x: x[val_col],
    )


# ---------------------------------------------------------------- dedup

# The dedup family's shared intermediates are session-memoized: the
# exact-Jaccard truth pair set (consumed by dedup_ngram_jaccard,
# dedup_quality_report AND dedup_minhash_banding_curve), the SimHash
# signature frame (dedup_simhash + dedup_quality_report), and the
# df-capped candidate metadata (_capped_sr_meta: dedup_ngram_capped,
# dedup_containment, dedup_cluster_cc). Each was rebuilt — explode, df
# groupBy, posting lists, Arrow signature pass and all — once PER
# CONSUMER per session (measured: 3 full _capped_sr_meta builds and 3
# truth builds in one bench trial); a production pipeline derives each
# index once per corpus. Bench resets the memo between trials, so every
# trial still computes from the parquet inputs. Keys carry the
# PREFIX_FILTER flag state so a flagged test run never serves a frame
# built under the other plan shape. The truth pairs and sr_meta are built
# over the shingles memo; the SimHash signature is not — it shingles the
# text inside its own single Arrow pass (see _simhash_sig_frame).


@register(
    "dedup_exact",
    oracle="""
    SELECT text, min(doc_id) AS rep_doc_id, count(*) AS n_copies
    FROM (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a column subset, deterministic representative
    (min doc_id) — dropDuplicates keeps an arbitrary row, so a keyed
    group-by is the reproducible form. Input has injected duplicates
    (every 7th doc re-appended under a shifted id)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return (
        docs.unionByName(dups)
        .groupBy("text")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_copies"))
    )


@register("dedup_near_minhash", oracle=_EXACT_JACCARD_PAIRS_SQL.format(thr=0.8))
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection: a 128-signature md5-seeded
    multiply-shift hash family (numpy via mapInPandas, Arrow-batched) over
    word 3-gram shingles, banded 32×4; band-equality join yields
    candidates, exact Jaccard verifies (≥0.8). Determinism comes from the
    md5-derived salts, not the hash library.

    Oracle is the EXACT Jaccard pair set: with 32 bands of 4 rows, a J=0.8
    pair collides with p = 1-(1-0.8^4)^32 ≈ 0.9998 (J=0.9: 1-5e-8), and the
    corpus is bimodal (J≥0.9 or <0.2), so LSH recall is exactly 1 here —
    verified at sf0.01.  At 100 TB the banding join is the whole point:
    no pairwise comparison ever happens outside shared buckets.
    """
    n_hashes, n_bands, rows_per_band = 128, 32, 4
    # persist: shingled feeds the bucket build AND both verify-join sides;
    # buckets feed both candidate-join sides — cache each so the shingle
    # expression and the 128-hash fold run once, not 2-4×
    shingled = _doc_shingles(spark, sf_dir, nonempty=True)
    # Signature pass = Arrow-batched mapInPandas: md5 base hash per
    # shingle, then a 128-salt multiply-shift family minimized in ONE
    # numpy (|sg| × 128) wrapping-uint64 broadcast per doc. The history
    # of this expression: a 128-column min-agg was 18× slower (codegen
    # blowup), an explode+narrow-agg shuffles 128× the rows, and the
    # per-row HOF fold (aggregate×zip_with×transform) that replaced them
    # still ran ~128·|sg| interpreted hash evals per doc outside codegen
    # — the SKILL gotcha; numpy does the same math vectorized, ~2× the
    # end-to-end op. Salts derive from md5(i), so the signature is
    # deterministic across runs/engines; the oracle is the EXACT Jaccard
    # pair set, which is hash-family-independent — only the banding
    # recall bound matters (unchanged: p_collide(J=0.8) ≈ 0.9998).
    def minhash_sig(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        A = np.array(
            [
                int.from_bytes(
                    hashlib.md5(f"mh_a_{i}".encode()).digest()[:8], "big"
                )
                | 1
                for i in range(n_hashes)
            ],
            dtype=np.uint64,
        )
        B = np.array(
            [
                int.from_bytes(
                    hashlib.md5(f"mh_b_{i}".encode()).digest()[:8], "big"
                )
                for i in range(n_hashes)
            ],
            dtype=np.uint64,
        )
        for pdf in batches:
            sigs = []
            for sg in pdf["sg"]:
                base = np.array(
                    [
                        int.from_bytes(
                            hashlib.md5(g.encode()).digest()[:8], "big"
                        )
                        for g in sg
                    ],
                    dtype=np.uint64,
                )
                with np.errstate(over="ignore"):
                    m = (base[:, None] * A[None, :] + B[None, :]).min(axis=0)
                sigs.append(m.view(np.int64).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    sig = shingled.mapInPandas(minhash_sig, "doc_id BIGINT, sig ARRAY<BIGINT>")
    band_sigs = F.array(
        *[
            F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band))
            for b in range(n_bands)
        ]
    )
    buckets = track(
        sig.select("doc_id", F.posexplode(band_sigs).alias("band", "sig")).persist()
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sized = shingled.withColumn("n", F.size("sg"))
    sa = sized.select(
        F.col("doc_id").alias("doc_a"), F.col("sg").alias("sg_a"), F.col("n").alias("na")
    )
    sb = sized.select(
        F.col("doc_id").alias("doc_b"), F.col("sg").alias("sg_b"), F.col("n").alias("nb")
    )
    verified = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sg_a", "sg_b"))
    j = inter * 1.0 / (F.col("na") + F.col("nb") - inter)
    return verified.select("doc_a", "doc_b", j.alias("jaccard")).filter(
        F.col("jaccard") >= 0.8
    )


@register("dedup_ngram_jaccard", oracle=_EXACT_JACCARD_PAIRS_SQL.format(thr=0.5))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-Jaccard pairs (threshold 0.5) via inverted-index
    self-join — the deterministic ground truth the approximate dedup
    variants are judged against. Pair volume is Σ df² over shingles (54k
    here); under a heavy-tail shingle distribution at 100 TB, set
    SPARK_GRAFT_PREFIX_FILTER=1 for the AllPairs prefix-filter plan
    (identical output, candidates restricted to rare-prefix collisions —
    see _exact_jaccard_pairs).

    nonempty=True builds the SAME index plan as minhash/capped/cc (docs
    with empty shingle sets produce no tokens, hence no pairs — output
    identical), so one cached shingle index serves every dedup op in a
    session, the way a production pipeline shares it."""
    return _exact_jaccard_pairs_shared(spark, sf_dir, 0.5)


# SimHash band cut and pair threshold, shared by dedup_simhash, its
# oracle and tests/test_properties.py's recall property: more bands than
# the hamming bound means a pair within the bound leaves at least one
# band untouched (pigeonhole), so the band-equality pre-join loses none.
_SIMHASH_MAX_HAMMING = 10
_SIMHASH_N_BANDS = 11
_SIMHASH_CHUNK_BITS = -(-64 // _SIMHASH_N_BANDS)  # ceil(64 / n_bands)

# The oracle's signature CTEs, ending in sig(doc_id, s): docs with no
# shingles (NULL text, fewer than 3 words) get no row.
_SIMHASH_SIG_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sg FROM w),
    t AS (SELECT doc_id, unnest(sg) AS g FROM sh WHERE len(sg) > 0),
    hx AS (SELECT doc_id, md5(g) AS m FROM t),
    bits AS (SELECT doc_id, bit,
                    CASE WHEN ((strpos('0123456789abcdef',
                                       substr(m, bit // 4 + 1, 1)) - 1)
                               >> (bit % 4)) & 1 = 1
                         THEN 1 ELSE -1 END AS vote
             FROM hx, generate_series(0, 63) gs(bit)),
    votes AS (SELECT doc_id, bit, sum(vote) AS v FROM bits GROUP BY 1, 2),
    sig AS (SELECT doc_id,
                   -- CAST: DuckDB sum(BIGINT) is HUGEINT; xor/bit_count on
                   -- int128 would count 64 extra sign bits for negatives
                   CAST(sum(CASE WHEN v > 0 THEN
                         CASE WHEN bit = 63 THEN -9223372036854775808
                              ELSE (1::BIGINT << bit) END
                       ELSE 0 END) AS BIGINT) AS s
            FROM votes GROUP BY doc_id)
"""

_SIMHASH_PAIRS_SQL = f"""{_SIMHASH_SIG_SQL.rstrip()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= {_SIMHASH_MAX_HAMMING}
"""


def _simhash_sig_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signature per doc (16 bytes/doc), session-memoized:
    the banded candidate join reads it from both sides (no exchange
    reuse across join branches), and dedup_quality_report re-derives the
    identical frame for its candidate arm — one build per (session,
    sf_dir) serves all of them.

    ONE Arrow pass straight from documents(doc_id, text): the Python
    function shingles each text by _shingle_build's rules (split(" "),
    word trigrams, first-occurrence distinct), drops the docs that
    nonempty=True drops (NULL text, fewer than 3 words) and runs the md5
    nibble vote in the same loop. It does not read the shared shingle
    memo: a Python-worker task costs ~0.27s of fixed overhead whatever
    its row count (an 8-row mapInPandas on local[4], 4 vCPUs), and
    shipping the shingle arrays back to Python for a second pass cost
    more than the whole hash. One task per core
    (defaultParallelism) runs the pass in a single wave.
    tests/test_queries.py pins the signatures to the oracle's sig CTE."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        base = docs.repartition(spark.sparkContext.defaultParallelism)

        def simhash_sig(batches):
            import hashlib

            import numpy as np
            import pandas as pd

            bit_src = np.arange(64) // 4  # hex-nibble index per bit
            bit_shift = np.arange(64) % 4
            for pdf in batches:
                keep, sigs = [], []
                for j, text in enumerate(pdf["text"]):
                    # NULL text and <3-word docs have no shingles: no
                    # signature row, like the oracle's len(sg) > 0
                    if not isinstance(text, str):
                        continue
                    ws = text.split(" ")
                    if len(ws) < 3:
                        continue
                    sgs = dict.fromkeys(
                        " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
                    )
                    # md5 digest bytes 0..7 hold hex chars 0..15 (hi
                    # nibble first) = the 64 signature bits the oracle
                    # extracts
                    raw = b"".join(
                        hashlib.md5(g.encode("utf-8")).digest()[:8]
                        for g in sgs
                    )
                    by = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 8)
                    nibs = np.empty((by.shape[0], 16), dtype=np.uint8)
                    nibs[:, 0::2] = by >> 4
                    nibs[:, 1::2] = by & 15
                    bits = (nibs[:, bit_src] >> bit_shift) & 1
                    votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                    val = 0
                    for i in np.nonzero(votes > 0)[0]:
                        val |= 1 << int(i)
                    keep.append(j)
                    sigs.append(val - (1 << 64) if val >= 1 << 63 else val)
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].iloc[keep].to_numpy(),
                        "s": np.array(sigs, dtype=np.int64),
                    }
                )

        return base.mapInPandas(simhash_sig, "doc_id BIGINT, s BIGINT")

    return session_memo(spark, ("simhash_sig", sf_dir), build)


@register("dedup_simhash", oracle=_SIMHASH_PAIRS_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature from md5-derived shingle
    bits (md5 is identical across engines, so the oracle replicates the
    signature bit-for-bit in SQL), pairs at hamming distance <= 10.

    Signature: for each shingle, md5 hex chars 1..16 give 64 bits; each
    bit votes +1/-1; signature bit = sign of the vote sum. The signature
    build (_simhash_sig_frame) is one Arrow-batched mapInPandas straight
    from the document text — shingling, md5 and vote in one Python pass,
    not a pass over the shared shingle memo: hashlib.md5 matches SQL md5
    byte-for-byte, and the 64-bit voting is one numpy matrix op per doc.
    (A pure-SQL higher-order-function fold of the same
    computation falls out of codegen and was measured >90s for 500 docs;
    exploding (doc, shingle, bit) rows shuffles 64× the data.) Candidate
    pairs come from an 11-band equality pre-join with provably perfect
    recall at hamming <= 10 (pigeonhole over the band cut, see inline
    comment and _SIMHASH_N_BANDS), verified with bit_count(xor) on the
    packed BIGINT — never an O(n²) pair scan. The signature map is
    embarrassingly parallel.
    """
    sig = _simhash_sig_frame(spark, sf_dir)

    # Banded candidate generation (Manku/Das Sarma-style): cut the 64 bits
    # into 11 bands (ceil(64/11)=6-bit chunks). Any pair at hamming <= 10
    # differs in at most 10 bit positions, which can dirty at most 10 of
    # the 11 bands — the pigeonhole principle guarantees one band matches
    # exactly. So an EQUALITY join on (band, chunk) yields a candidate set
    # with provably perfect recall, and the O(n²) pair scan becomes a keyed
    # shuffle join that partitions cleanly on a cluster. Verification then
    # computes exact hamming on the full signature per candidate.
    chunk_bits = _SIMHASH_CHUNK_BITS
    chunks = F.array(
        *[
            F.shiftrightunsigned("s", b * chunk_bits).bitwiseAND(
                F.lit((1 << chunk_bits) - 1)
            )
            for b in range(_SIMHASH_N_BANDS)
        ]
    )
    buckets = sig.select(
        "doc_id", "s", F.posexplode(chunks).alias("band", "chunk")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


@register(
    "dedup_embed_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM q)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
    """,
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (quantized-int cosine ≥ 0.4 — this
    synthetic space has no pairs above 0.52, so the 'near-dup' band is
    0.4+).

    Block-nested gram matrix: vectors hash into B blocks; each of the
    B(B+1)/2 block pairs is one task running a NumPy int64 matmul over its
    two ~n/B-row matrices. int64 matmul and the two IEEE ops per cosine are
    exact, so the values hash-match the oracle's per-pair list arithmetic.
    This is the scale shape: work is B² tasks of dense BLAS, shuffle is
    one row per block (the packed matrix), never the O(n²) pair stream —
    per-pair higher-order-function dot products were measured 20× slower.
    B scales with n so each task stays a bounded ~1k×1k matmul (a fixed
    B=8 was measured 25× slower at 10× data: per-task work grew as n²).
    Exact all-pairs is inherently n² compute — that is this operator's
    contract as the dedup ground truth; sim_search_ivf is the pruned path.
    """
    import math

    import numpy as np
    import pandas as pd

    # parquet-footer count: one cheap metadata action to size the blocks
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    n_blocks = max(4, math.ceil(n_vecs / 1000))
    # NULL vectors have no cosine to any row — the oracle drops them via
    # NULL-propagating dot/threshold; dropping them before the block
    # pack is the same contract (and keeps the numpy matrices dense)
    q = (
        _quantized(spark, sf_dir)
        .filter(F.col("v").isNotNull())
        .withColumn("block", (F.col("vec_id") % n_blocks).cast("int"))
    )
    # persist: the B-row packed frame feeds both sides of the block-pair join
    blocks = track(
        q.groupBy("block")
        .agg(F.collect_list(F.struct("vec_id", "v")).alias("vecs"))
        .persist()
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    bp = a.join(b, F.col("a.block") <= F.col("b.block")).select(
        F.col("a.block").alias("block_a"),
        F.col("b.block").alias("block_b"),
        F.col("a.vecs").alias("vecs_a"),
        F.col("b.vecs").alias("vecs_b"),
    ).repartition(
        min(
            n_blocks * (n_blocks + 1) // 2,
            8 * spark.sparkContext.defaultParallelism,
        )
    )

    def gram(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ids_a = np.array([x["vec_id"] for x in row["vecs_a"]], dtype=np.int64)
                mat_a = np.array([x["v"] for x in row["vecs_a"]], dtype=np.int64)
                ids_b = np.array([x["vec_id"] for x in row["vecs_b"]], dtype=np.int64)
                mat_b = np.array([x["v"] for x in row["vecs_b"]], dtype=np.int64)
                dots = mat_a @ mat_b.T
                na = np.sqrt((mat_a * mat_a).sum(axis=1).astype(np.float64))
                nb = np.sqrt((mat_b * mat_b).sum(axis=1).astype(np.float64))
                cos = dots / (na[:, None] * nb[None, :])
                if row["block_a"] == row["block_b"]:
                    # diagonal block: each unordered pair appears twice
                    mask = (cos >= 0.4) & (ids_a[:, None] < ids_b[None, :])
                else:
                    # off-diagonal: each unordered pair appears exactly once
                    mask = cos >= 0.4
                ia, ib = np.nonzero(mask)
                lo = np.minimum(ids_a[ia], ids_b[ib])
                hi = np.maximum(ids_a[ia], ids_b[ib])
                out_a.extend(lo)
                out_b.extend(hi)
                out_c.extend(cos[ia, ib])
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "cos": out_c})

    pairs = bp.mapInPandas(gram, "vec_a BIGINT, vec_b BIGINT, cos DOUBLE")
    return pairs.select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))


# ---------------------------------------------------------- similarity

@register(
    "sim_search_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM q)
    SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos,
             row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC,
                          b.vec_id) AS rank
      FROM n a JOIN n b ON b.vec_id != a.vec_id
      WHERE a.vec_id < 5)
    WHERE rank <= 10
    """,
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 per query vector (queries: vec_id < 5) —
    the exact baseline for ANN. Rank on the exact integer-derived cosine
    with vec_id tie-break."""
    q = _quantized(spark, sf_dir)
    n = q.select("vec_id", "v", F.sqrt(_int_dot("v", "v").cast("double")).alias("nrm"))
    queries = n.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cands = n.select("vec_id", F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    cos = _int_dot("qv", "cv").cast("double") / (F.col("qn") * F.col("cn"))
    scored = (
        F.broadcast(queries)
        .join(cands, F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank")
    )


@register(
    "sim_search_ivf",
    oracle=f"""
    WITH q AS (SELECT vec_id, label, {_QUANT_SQL} AS v FROM embeddings),
    flat AS (SELECT vec_id, label, i, v[i] AS val
             FROM q, generate_series(1, 64) g(i)),
    cent AS (SELECT label, i, sum(val) AS s FROM flat GROUP BY label, i),
    cnorm AS (SELECT label, sqrt(sum(s * s)) AS cn FROM cent GROUP BY label),
    qrs AS (SELECT vec_id, v FROM q WHERE vec_id < 5),
    qflat AS (SELECT vec_id, i, v[i] AS val
              FROM qrs, generate_series(1, 64) g(i)),
    qdot AS (SELECT f.vec_id, c.label, sum(f.val * c.s) AS dot
             FROM qflat f JOIN cent c ON f.i = c.i GROUP BY 1, 2),
    probes AS (SELECT vec_id, label FROM (
        SELECT d.vec_id, d.label,
               row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY d.dot / n.cn DESC, d.label) AS rn
        FROM qdot d JOIN cnorm n ON d.label = n.label)
      WHERE rn <= 2),
    nq AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM q)
    SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
      SELECT p.vec_id AS query_id, c.vec_id AS vec_id,
             list_dot_product(a.v, c.v) / (a.nrm * c.nrm) AS cos,
             row_number() OVER (PARTITION BY p.vec_id
                 ORDER BY list_dot_product(a.v, c.v) / (a.nrm * c.nrm) DESC,
                          c.vec_id) AS rank
      FROM probes p
      JOIN q e ON e.label = p.label AND e.vec_id != p.vec_id
      JOIN nq c ON c.vec_id = e.vec_id
      JOIN nq a ON a.vec_id = p.vec_id)
    WHERE rank <= 10
    """,
)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: 10 coarse partitions (label-keyed), centroids =
    un-normalized integer sum vectors (exact), each query probes its top-2
    centroids by cosine and searches only those partitions (~5× less scan).
    The probe ordering uses only exact-integer-derived values, so the
    result set is deterministic and fully SQL-verifiable. On a cluster the
    candidate join is partitioned by centroid id — each probe touches 2
    partitions, not the full index."""
    q = _quantized(spark, sf_dir)
    flat = q.select("vec_id", "label", F.posexplode("v").alias("i", "val"))
    cent = flat.groupBy("label", "i").agg(F.sum("val").alias("s"))
    cnorm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("s") * F.col("s")).cast("double")).alias("cn")
    )
    queries = q.filter(F.col("vec_id") < 5)
    qflat = queries.select("vec_id", F.posexplode("v").alias("i", "val"))
    qdot = (
        qflat.join(cent, "i")
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("val") * F.col("s")).alias("dot"))
    )
    wp = Window.partitionBy("vec_id").orderBy(
        (F.col("dot") / F.col("cn")).desc(), F.col("label")
    )
    probes = (
        qdot.join(cnorm, "label")
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 2)
        .select(F.col("vec_id").alias("query_id"), "label")
    )
    n = q.select("vec_id", "label", "v", F.sqrt(_int_dot("v", "v").cast("double")).alias("nrm"))
    qn = n.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cands = (
        F.broadcast(probes)
        .join(n, "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(qn), "query_id")
    )
    cos = _int_dot("qv", "v").cast("double") / (F.col("qn") * F.col("nrm"))
    wr = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        cands.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank")
    )


# Shared random-hyperplane LSH bucket machinery (sim_search_lsh +
# embed_knn_graph): L=4 tables x k=8 signed hyperplanes, component
# (l, p, d) = +-1 from the first md5 nibble of "l_p_d" — md5 is identical
# across engines, so the oracle CTE below reconstructs the exact same
# buckets the numpy sign-matmul produces (no literals shipped, no seeds).
_LSH_BUCKETS_SQL = f"""q AS (SELECT vec_id, {_QUANT_SQL} AS v
           FROM embeddings WHERE embedding IS NOT NULL),
    H AS (SELECT l, p, d,
                 CASE WHEN (strpos('0123456789abcdef',
                            substr(md5(l || '_' || p || '_' || d), 1, 1)) - 1)
                      & 1 = 1 THEN 1 ELSE -1 END AS h
          FROM generate_series(0, 3) gl(l),
               generate_series(0, 7) gp(p),
               generate_series(1, 64) gd(d)),
    flat AS (SELECT vec_id, d, v[d] AS val
             FROM q, generate_series(1, 64) g(d)),
    dots AS (SELECT f.vec_id, H.l, H.p, sum(f.val * H.h) AS dot
             FROM flat f JOIN H ON f.d = H.d GROUP BY 1, 2, 3),
    buckets AS (SELECT vec_id, l,
                       sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS bucket
                FROM dots GROUP BY 1, 2)"""


def _lsh_bucket_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, l, bucket) for every vector under the shared hyperplane
    tables — numpy sign-matmul per Arrow batch, memoized per
    (session, sf_dir) since it feeds both sides of candidate joins in
    two operators."""
    return session_memo(
        spark, ("lsh", sf_dir), lambda: _lsh_bucket_build(spark, sf_dir)
    )


def _lsh_bucket_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np
    import pandas as pd

    n_tables, n_planes = 4, 8
    H = np.empty((n_tables, n_planes, 64), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(1, 65):
                nib = int(
                    hashlib.md5(f"{t}_{p}_{d}".encode()).hexdigest()[0], 16
                )
                H[t, p, d - 1] = 1 if nib & 1 else -1
    pows = (1 << np.arange(n_planes)).astype(np.int64)

    # a NULL embedding has no hyperplane signs: it never enters the
    # index, on either engine (r14 NULL-probe — the unfiltered oracle
    # form's CASE WHEN NULL-dot collapsed every NULL vector into bucket
    # 0, and the numpy matmul crashed on the ragged batch)
    q = (
        _quantized(spark, sf_dir)
        .filter(F.col("v").isNotNull())
        .select("vec_id", "v")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def bucketize(batches):
        for pdf in batches:
            V = np.array(pdf["v"].tolist(), dtype=np.int64)
            ids = pdf["vec_id"].to_numpy()
            out_id, out_l, out_b = [], [], []
            for t in range(n_tables):
                bits = (V @ H[t].T) >= 0  # (n, k)
                bkt = (bits * pows).sum(axis=1)
                out_id.extend(ids)
                out_l.extend([t] * len(ids))
                out_b.extend(bkt)
            yield pd.DataFrame(
                {"vec_id": out_id, "l": out_l, "bucket": out_b}
            )

    return q.mapInPandas(bucketize, "vec_id BIGINT, l INT, bucket BIGINT")


@register(
    "sim_search_lsh",
    oracle=f"""
    WITH {_LSH_BUCKETS_SQL},
    qb AS (SELECT * FROM buckets WHERE vec_id < 5),
    cand AS (SELECT DISTINCT qb.vec_id AS query_id, b.vec_id
             FROM qb JOIN buckets b
               ON qb.l = b.l AND qb.bucket = b.bucket
              AND b.vec_id != qb.vec_id),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM q)
    SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
      SELECT c.query_id, c.vec_id,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos,
             row_number() OVER (PARTITION BY c.query_id
                 ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC,
                          c.vec_id) AS rank
      FROM cand c
      JOIN n a ON a.vec_id = c.query_id
      JOIN n b ON b.vec_id = c.vec_id)
    WHERE rank <= 10
    """,
)
def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (the LSH-bucketed scale path next to
    sim_search_ivf): L=4 tables x k=8 signed hyperplanes. Hyperplane
    component (l, p, d) is +-1 from the first md5 nibble of "l_p_d" —
    md5 is identical across engines, so the DuckDB oracle reconstructs
    the exact same tables and buckets (no literals shipped, no seeds).
    Bucketing is a numpy sign-matmul per Arrow batch; candidates come
    from equality joins on (table, bucket) — keyed shuffle, linear in
    data — then exact integer cosine ranks the candidates. Recall is
    probabilistic by design (multi-table union raises it); the oracle
    replicates the algorithm, not a brute-force answer. Buckets and
    hyperplane tables live in _lsh_bucket_frame (shared with
    embed_knn_graph)."""
    buckets = _lsh_bucket_frame(spark, sf_dir)
    qb = buckets.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "l", "bucket"
    )
    cand = (
        qb.join(buckets, ["l", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    n = _quantized(spark, sf_dir).select(
        "vec_id", "v", F.sqrt(_int_dot("v", "v").cast("double")).alias("nrm")
    )
    qside = n.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        cand.join(F.broadcast(qside), "query_id")
        .join(n, "vec_id")
        .withColumn(
            "cos", _int_dot("qv", "v").cast("double") / (F.col("qn") * F.col("nrm"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank")
    )


# dedup_cluster_cc: below this edge count the pair graph is labeled by a
# single bounded driver collect + union-find; above it, the distributed
# min-label propagation loop runs. Module-level so tests can force the
# distributed path on small graphs (equivalence is pinned in
# tests/test_properties.py).
_CC_UNION_FIND_MAX_EDGES = 2_000_000

def _capped_sr_meta(spark: SparkSession, sf_dir: str, df_cap: int = 10) -> DataFrame:
    """Shared df-capped inverted-index candidate generation for the
    Jaccard/containment dedup family.

    Returns one row per candidate pair (docs sharing >= 1 RARE shingle,
    df <= df_cap) with the columns the exact pruning bound needs:
    ``doc_a, doc_b, sr, na, ra, nb, rb`` where sr = shared-rare count
    (= |A∩B| restricted to rare shingles), na/nb = full shingle-set
    sizes, ra/rb = per-doc rare-shingle counts. Callers derive the
    metric-specific upper bound — inter <= sr + min(na-ra, nb-rb) — and
    filter BEFORE fetching full shingle arrays for exact verification.
    See dedup_ngram_capped's docstring for the derivation and measured
    effect (436k -> ~350 verify pairs at sf0.1).

    Default plan — ONE keyed shuffle does df-count + posting-list build
    + pair generation: groupBy(g) collects the doc list per shingle,
    then the i<j pairs are emitted combinatorially map-side for rare
    shingles. The posting-list frame is persisted because it is read
    twice: once for pair generation, once for the per-doc rare counts
    (df=1 shingles count as rare there — they cannot be shared, which
    is exactly what tightens the bound). The hazard at 100 TB is the
    collect_list itself: a df=10^9 stop-shingle materializes ONE
    gigantic posting array in a single aggregate row before the size
    filter can drop it.

    ``SPARK_GRAFT_PREFIX_FILTER=1`` retires that hazard for this
    frame's consumers (dedup_ngram_capped, dedup_cluster_cc;
    dedup_containment switches to _containment_prefix_candidates
    instead): document frequency comes from a
    plain groupBy COUNT (partial-aggregable, constant row width), rare
    tokens are the df<=cap join, and sr is the rare-token equi
    self-join's pair count — the identical sr_meta frame, no posting
    array anywhere, join volume Σ_rare df² <= df_cap · |rare tokens|.
    On THIS corpus (max df 7) the default is faster — the flagged form
    shuffles the token set twice — so the flag stays off by default;
    equivalence is property-tested in tests/test_prefix_filter.py.

    Session-memoized: three operators consume this exact frame per
    session (ngram_capped, containment, cluster_cc via ngram_capped) and
    each used to pay the full index build."""
    flag = flag_enabled("SPARK_GRAFT_PREFIX_FILTER")
    return session_memo(
        spark,
        ("sr_meta", sf_dir, df_cap, flag),
        lambda: _capped_sr_meta_build(spark, sf_dir, df_cap),
    )


def _capped_sr_meta_build(
    spark: SparkSession, sf_dir: str, df_cap: int
) -> DataFrame:
    shingled = _doc_shingles(spark, sf_dir, nonempty=True)
    if flag_enabled("SPARK_GRAFT_PREFIX_FILTER"):
        tok, df_g = _tok_with_df(shingled)
        # rare token index: persisted because it feeds the per-doc rare
        # counts and BOTH sides of the pair self-join
        rare_tok = track(
            tok.join(df_g.filter(F.col("df") <= df_cap), "g")
            .select("doc_id", "g")
            .persist()
        )
        nrare = rare_tok.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("nr")
        )
        a, b = rare_tok.alias("a"), rare_tok.alias("b")
        sr = (
            a.join(
                b,
                (F.col("a.g") == F.col("b.g"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("sr"))
        )
    else:
        # token index built HERE, not above the branch: the flagged arm
        # derives its own tok from _tok_with_df, and a shared top-level
        # explode would be a dead expression on that path (ADVICE r08)
        tok = (
            shingled.select("doc_id", F.explode_outer("sg").alias("g"))
            .filter(F.col("g").isNotNull())
        )
        byg_all = track(
            tok.groupBy("g")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
            .persist()
        )
        rare = byg_all.filter(F.size("ds") <= df_cap)
        nrare = (
            rare.select(F.explode("ds").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("nr"))
        )
        byg = rare.filter(F.size("ds") >= 2)
        pairs_expr = F.expr(
            """
            flatten(transform(ds, (x, i) ->
                transform(slice(ds, i + 2, size(ds)),
                          y -> struct(x AS doc_a, y AS doc_b))))
            """
        )
        # explode_outer + null filter: see _exact_jaccard_pairs (a plain
        # explode's inferred filter would re-run the pair transform). The
        # groupBy replaces a distinct — same shuffle volume, but the
        # count it produces is the sr term of the pruning bound for free.
        sr = (
            byg.select(F.explode_outer(pairs_expr).alias("p"))
            .filter(F.col("p").isNotNull())
            .groupBy("p.doc_a", "p.doc_b")
            .agg(F.count(F.lit(1)).alias("sr"))
        )
    meta = (
        shingled.select("doc_id", F.size("sg").alias("n"))
        .join(nrare, "doc_id", "left")
        .na.fill({"nr": 0})
    )
    ma = meta.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        F.col("nr").alias("ra"),
    )
    mb = meta.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("nr").alias("rb"),
    )
    return sr.join(F.broadcast(ma), "doc_a").join(F.broadcast(mb), "doc_b")


def _containment_prefix_candidates(
    spark: SparkSession, sf_dir: str, threshold: float, df_cap: int = 10
) -> DataFrame:
    """Prefix-filtered candidate pairs for df-capped CONTAINMENT
    (``SPARK_GRAFT_PREFIX_FILTER=1`` path of dedup_containment).

    Output-equivalent to _capped_sr_meta's candidate generation for any
    pair that can reach the final output (shares >= 1 rare shingle AND
    C >= threshold), while (a) never materializing a posting array for
    ANY shingle — document frequency comes from a plain groupBy count,
    so a df=10^9 stop-shingle costs one counter, not one 8 GB
    collect_list row — and (b) joining only a rare-first PREFIX of the
    smaller doc against the rare inverted index, so join volume is
    Σ_g prefix_df(g)·df(g) <= df_cap · |prefix tokens| — linear.

    Containment has no size-ratio filter (a tiny doc inside a huge one
    has C = 1.0), so the Jaccard path's symmetric prefix join does not
    apply; the correct adaptation is ASYMMETRIC — prefix side = the
    smaller doc of the pair (n, doc_id lexicographic tie-break), probe
    side = the full rare index. Pigeonhole proof: let A be the smaller
    doc (m = nA). An output pair has inter >= ⌈t·nA⌉ and, from the
    capped candidate semantics, sr >= 1 shared RARE shingles; shared
    stop-shingles number at most nA − rA, so
    sr >= s_min = max(1, ⌈t·nA⌉ − (nA − rA)). Order A's rA rare
    shingles by the global rare-first order (df, g): if no shared rare
    shingle sat within the first rA − s_min + 1 positions, all s_min of
    them would fit in the last s_min − 1 — contradiction. And
    rA − s_min + 1 = min(rA, nA − ⌈t·nA⌉ + 1), i.e. the standard
    AllPairs prefix length applied to the rare-ordered list. The 1e-9
    ceil slack only ever lengthens the prefix (float noise in t·n must
    never prune a boundary pair); candidates are verified exactly on
    full shingle arrays afterwards, so equality with the default path
    is structural (property-tested in tests/test_prefix_filter.py on
    the real corpus and a crafted heavy-tail one)."""
    shingled = _doc_shingles(spark, sf_dir, nonempty=True)
    tok, df_g = _tok_with_df(shingled)
    # rare inverted index: tokens of df<=cap shingles only; persisted
    # because it feeds both the prefix build and the probe side
    rare = track(tok.join(df_g.filter(F.col("df") <= df_cap), "g").persist())
    w = Window.partitionBy("doc_id").orderBy("df", "g")
    pref = rare.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _prefix_len(threshold)
    )
    a, b = pref.alias("a"), rare.alias("b")
    a_is_smaller = (F.col("a.n") < F.col("b.n")) | (
        (F.col("a.n") == F.col("b.n"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    return (
        a.join(b, (F.col("a.g") == F.col("b.g")) & a_is_smaller)
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _verify_pairs(
    spark: SparkSession, sf_dir: str, cand: DataFrame
) -> DataFrame:
    """Fetch full shingle arrays for the surviving candidate pairs.

    The repartition before the verify joins is load-bearing: the
    survivor set is a few KB of skinny (doc_a, doc_b) rows, so AQE
    coalesces it to ~1 partition — starving the array_intersect verify
    of parallelism. An explicit partition count is exempt from AQE
    coalescing."""
    par = spark.sparkContext.defaultParallelism * 2
    shingled = _doc_shingles(spark, sf_dir, nonempty=True)
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sg").alias("sg_a"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("sg").alias("sg_b"))
    return (
        cand.select("doc_a", "doc_b").repartition(par).join(sa, "doc_a").join(sb, "doc_b")
    )


_CAPPED_PAIRS_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sg FROM w),
    tok AS (SELECT doc_id, unnest(sg) AS g FROM sh),
    df AS (SELECT g, count(*) AS df FROM tok GROUP BY g),
    rare AS (SELECT t.doc_id, t.g FROM tok t JOIN df ON t.g = df.g
             WHERE df.df <= 10),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM rare a JOIN rare b
               ON a.g = b.g AND a.doc_id < b.doc_id)
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(sa.sg, sb.sg)) * 1.0 /
           len(list_distinct(list_concat(sa.sg, sb.sg))) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE len(list_intersect(sa.sg, sb.sg)) * 1.0 /
          len(list_distinct(list_concat(sa.sg, sb.sg))) >= 0.5
"""


@register("dedup_ngram_capped", oracle=_CAPPED_PAIRS_SQL)
def dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-capped n-gram Jaccard — the scale path of dedup_ngram_jaccard
    made concrete: candidate pairs come ONLY from shingles with document
    frequency <= 10, so the inverted-index join volume is bounded by
    C x rows instead of Σ df² (stop-shingles with huge df are exactly the
    ones that explode the quadratic term and never distinguish near-dups —
    a true near-dup pair shares many RARE shingles). Verification computes
    exact Jaccard on the FULL shingle sets, so reported values are
    identical to the uncapped op; only recall of pairs sharing solely
    stop-shingles is (deliberately) given up. The oracle replicates the
    same cap, making the op deterministic and hash-checkable.

    Candidate pruning (exact, output-preserving): the shared-rare count
    sr emitted by pair generation IS |A∩B| restricted to rare shingles
    (every shared shingle with df <= cap generates the pair), and the
    shared-stop part cannot exceed min(|A|-rareA, |B|-rareB), so
    inter <= sr + min(stopA, stopB) is a provable upper bound on the
    intersection and hence on Jaccard. Filtering on that bound BEFORE
    fetching full shingle arrays cut the expensive array_intersect
    verify from 436k candidate pairs to ~350 at sf0.1 (measured; 256
    true pairs) — the bound needs only two broadcast joins against a
    5k-row (size, rare-count) side table. Candidate generation and the
    verify fetch are shared with dedup_containment via _capped_sr_meta /
    _verify_pairs."""
    thr = 0.5
    sr_meta = _capped_sr_meta(spark, sf_dir)
    upper = F.col("sr") + F.least(
        F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
    )
    j_upper = upper * 1.0 / (F.col("na") + F.col("nb") - upper)
    verified = _verify_pairs(spark, sf_dir, sr_meta.filter(j_upper >= thr))
    inter = F.size(F.array_intersect("sg_a", "sg_b"))
    union = F.size("sg_a") + F.size("sg_b") - inter
    j = inter * 1.0 / union
    return verified.select("doc_a", "doc_b", j.alias("jaccard")).filter(
        F.col("jaccard") >= thr
    )


@register(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_CAPPED_PAIRS_SQL}),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
    lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM lab
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS via connected components over the
    df-capped Jaccard pair graph (pairwise dedup leaves A~B, B~C as two
    independent pairs; curation needs the {{A,B,C}} cluster with one
    representative). cluster_id = min doc_id reachable in the undirected
    pair graph; cluster_size counts members.

    Spark-first iterative algorithm, not a UDF: min-label propagation —
    labels(node) joined to edges, groupBy(node) min, until a fixpoint.
    Each round is one keyed shuffle of the edge list (Pregel's CC in
    DataFrame form), so 100 TB behavior is #rounds x one linear join;
    rounds = graph diameter, and near-dup clusters are tiny-diameter by
    construction (members all overlap the same text). The fixpoint check
    is a driver-side count of changed labels (a scalar per round, not a
    collect of data). The propagation step is hash-to-min with one
    pointer jump per round — reach doubles each round, so adversarially
    long path graphs converge in O(log d) rounds, not O(d) (property
    test on a synthetic path graph:
    tests/test_queries.py::test_cluster_cc_path_graph_log_rounds).
    The DuckDB oracle computes the same min-reachable-id label with a
    recursive CTE, so the clustering is hash-checked exactly.
    """
    pairs = dedup_ngram_capped(spark, sf_dir).select("doc_a", "doc_b")
    # Small-graph fast path: the pair list is the dedup DETECTOR's output —
    # orders of magnitude smaller than the corpus (df-capped candidate
    # generation bounds it at C×rows, and >99% of rows are not near-dups).
    # Below ~2M edges (driver cost: one bounded collect of two int64
    # columns, ~32 MB) a driver union-find replaces the iterative
    # propagation loop, whose per-round fixed cost (2-3 shuffle stages +
    # a count action, regardless of data volume) dominates wall-clock for
    # any small graph. The distributed loop below remains the >2M-edge
    # path, so the operator never requires the graph to fit anywhere.
    edge_rows = pairs.persist().limit(_CC_UNION_FIND_MAX_EDGES + 1).collect()
    if len(edge_rows) <= _CC_UNION_FIND_MAX_EDGES:
        parent: dict = {}

        def find(x: int) -> int:
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for r in edge_rows:
            a, b = find(r.doc_a), find(r.doc_b)
            if a != b:
                # min-id root keeps cluster_id = min member deterministically
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        members = sorted({x for r in edge_rows for x in (r.doc_a, r.doc_b)})
        labels_local = [(int(x), int(find(x))) for x in members]
        pairs.unpersist()
        labels = spark.createDataFrame(labels_local, "node BIGINT, label BIGINT")
        wsz = Window.partitionBy("cluster_id")
        return labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        ).withColumn("cluster_size", F.count("*").over(wsz))
    labels, _ = _min_label_propagate(spark, pairs)
    wsz = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).withColumn("cluster_size", F.count("*").over(wsz))


def _min_label_propagate(
    spark: SparkSession, pairs: DataFrame, max_rounds: int = 20
) -> tuple[DataFrame, int]:
    """Distributed hash-to-min label propagation over an undirected pair
    graph. Input: (doc_a, doc_b) edges. Returns (labels, rounds) where
    labels has (node, label) = (node, min reachable id) and rounds is the
    number of propagation rounds executed to reach the fixpoint —
    exposed so the path-graph property test can assert the O(log d)
    round bound that distinguishes hash-to-min from plain one-hop
    propagation."""
    # both orientations generated map-side by ONE explode — a
    # union(pairs, pairs.swapped) re-evaluates the whole upstream pair
    # pipeline once per branch (and once more on persist), measured 4x
    # the pair-detection cost
    undirected = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
                    ),
                    F.struct(
                        F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .persist()
    )
    n_edges = undirected.count()
    # Loop partitioning follows the EDGE volume, not the corpus: the pair
    # graph is orders of magnitude smaller than the documents table, and a
    # fixed 32/64-way shuffle makes every propagation round pay full
    # task-scheduling overhead on near-empty partitions (measured 10s for
    # a 3-round fixpoint on a 500-edge graph). ~100k edges per partition,
    # capped at the session parallelism — the same join scales linearly
    # when the edge list actually is 100 TB-sized.
    n_parts = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 100_000 + 1))
    edges = undirected.repartition(n_parts, "v").persist()
    edges.count()
    undirected.unpersist()
    # round 0 fused in: label(node) = min(node, direct neighbors)
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("node"), F.least("u", "mv").alias("label"))
        .persist()
    )
    labels.count()
    rounds = 0
    for _ in range(max_rounds):  # log-diameter bound; near-dups converge in ~2
        neigh = (
            edges.join(
                labels.select(
                    F.col("node").alias("v"), F.col("label").alias("nl")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("nl").alias("min_neigh"))
        )
        cand = labels.join(neigh, labels["node"] == neigh["u"], "left").select(
            "node",
            "label",
            F.least(
                F.col("label"),
                F.coalesce(F.col("min_neigh"), F.col("label")),
            ).alias("cl"),
        )
        # pointer-jumping (hash-to-min): chase one extra hop through the
        # label table — new(u) = min(cand(u), label(cand(u))). Labels are
        # node ids, so cand(u) always exists as a node; the jump doubles
        # propagation reach per round, turning the worst-case path graph
        # from O(diameter) rounds into O(log diameter) at the cost of one
        # extra keyed join per round (near-dup clusters still converge in
        # ~2 rounds either way). localCheckpoint, NOT persist: each round
        # references `labels` THREE times (neighbor join, candidate join,
        # pointer jump), so without lineage truncation the logical plan
        # grows ~3^rounds — a 3-round near-dup fixpoint never notices,
        # but the 8-round path-graph worst case hangs in the optimizer
        # (the graph_bfs_levels failure mode). The eager materialization
        # also serves the fixpoint count.
        joined = (
            cand.join(
                labels.select(
                    F.col("node").alias("cl"), F.col("label").alias("jl")
                ),
                "cl",
                "left",
            )
            .select(
                "node",
                "label",
                F.least(
                    F.col("cl"), F.coalesce(F.col("jl"), F.col("cl"))
                ).alias("new_label"),
            )
            .transform(truncate_lineage)
        )
        changed = joined.filter(F.col("new_label") != F.col("label")).count()
        labels.unpersist()
        labels = joined.select("node", F.col("new_label").alias("label"))
        rounds += 1
        if changed == 0:
            break
    return labels, rounds


_CONTAINMENT_PAIRS_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sg FROM w),
    tok AS (SELECT doc_id, unnest(sg) AS g FROM sh),
    df AS (SELECT g, count(*) AS df FROM tok GROUP BY g),
    rare AS (SELECT t.doc_id, t.g FROM tok t JOIN df ON t.g = df.g
             WHERE df.df <= 10),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM rare a JOIN rare b
               ON a.g = b.g AND a.doc_id < b.doc_id)
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(sa.sg, sb.sg)) * 1.0 /
           least(len(sa.sg), len(sb.sg)) AS containment
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE len(list_intersect(sa.sg, sb.sg)) * 1.0 /
          least(len(sa.sg), len(sb.sg)) >= 0.8
"""


@register("dedup_containment", oracle=_CONTAINMENT_PAIRS_SQL)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT dedup: C(A,B) = |A∩B| / min(|A|,|B|) — catches
    sub-document duplication (one doc embedded in a longer one) that
    symmetric Jaccard under-scores: a doc fully contained in a 10×
    longer doc has C = 1.0 but J ≈ 0.1.

    Candidates come from the SAME df-capped (df <= 10) inverted index as
    dedup_ngram_capped (_capped_sr_meta): the uncapped variant's join
    volume is Σ df² over shingles — quadratic on hot stop-shingles at
    scale — while a true contained doc shares many RARE shingles with
    its container, so the cap costs recall only for pairs overlapping
    solely on stop-shingles. Verification computes exact containment on
    the FULL shingle sets, so reported values equal the uncapped op's.
    The exact pruning bound inter <= sr + min(na-ra, nb-rb) (derivation
    in dedup_ngram_capped) filters candidates before the array fetch,
    with the denominator swapped to min(na, nb). The oracle replicates
    the same cap, keeping the op deterministic and hash-checkable.

    ``SPARK_GRAFT_PREFIX_FILTER=1`` swaps candidate generation for the
    asymmetric prefix-filtered form (_containment_prefix_candidates):
    bit-identical output, no posting arrays anywhere, join volume
    linear in the rare-token count — the plan that survives a
    heavy-tail shingle distribution at 100 TB."""
    thr = 0.8
    if flag_enabled("SPARK_GRAFT_PREFIX_FILTER"):
        verified = _verify_pairs(
            spark, sf_dir, _containment_prefix_candidates(spark, sf_dir, thr)
        )
    else:
        sr_meta = _capped_sr_meta(spark, sf_dir)
        upper = F.col("sr") + F.least(
            F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
        )
        c_upper = upper * 1.0 / F.least("na", "nb")
        verified = _verify_pairs(spark, sf_dir, sr_meta.filter(c_upper >= thr))
    c = (
        F.size(F.array_intersect("sg_a", "sg_b"))
        * 1.0
        / F.least(F.size("sg_a"), F.size("sg_b"))
    )
    return verified.select("doc_a", "doc_b", c.alias("containment")).filter(
        F.col("containment") >= thr
    )


@register(
    "dedup_quality_report",
    oracle=f"""
    WITH truth AS ({_EXACT_JACCARD_PAIRS_SQL.format(thr=0.5)}),
    cand AS ({_SIMHASH_PAIRS_SQL}),
    s AS (
      SELECT (SELECT count(*) FROM truth) AS n_truth,
             (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM truth t JOIN cand c
                ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit)
    SELECT n_truth, n_candidates, n_hit,
           {ratio_round_oracle("n_hit", "n_truth", 6)} AS recall,
           {ratio_round_oracle("n_hit", "n_candidates", 6)} AS precision
    FROM s
    """,
)
def dedup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-quality measurement as a first-class operator: recall and
    precision of the SimHash candidate set (hamming <= 10) against the
    exact-Jaccard ground truth (J >= 0.5) — the report a curation team
    runs before trusting an approximate dedup pass on a new corpus, here
    computable end-to-end because BOTH detectors are deterministic and
    oracle-replicable. One full-outer join on the pair key classifies
    every pair as hit / miss / false-candidate; the single-row summary
    aggregates globally. Cost is the two upstream detectors (the truth
    pairs over the session shingle memo, the SimHash signature from its
    own text pass; both memoized) plus one keyed join over their outputs
    — pair lists orders of magnitude smaller than the corpus."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_truth")
    )
    cand = dedup_simhash(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_cand")
    )
    both = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    return both.agg(
        F.count("in_truth").alias("n_truth"),
        F.count("in_cand").alias("n_candidates"),
        F.sum(
            F.when(F.col("in_truth").isNotNull() & F.col("in_cand").isNotNull(), 1)
        ).alias("n_hit"),
    ).select(
        "n_truth",
        "n_candidates",
        "n_hit",
        # exact integer rounding (queries/rounding.py): both ratios are
        # exact count rationals whose small denominators (hundreds of
        # pairs) make a 6th-decimal half boundary reachable at any
        # fixture regeneration — the cross-engine round() coin-flip
        F.expr(ratio_round_spark("n_hit", "n_truth", 6)).alias("recall"),
        F.expr(ratio_round_spark("n_hit", "n_candidates", 6)).alias(
            "precision"
        ),
    )


_MESSY_URL_SQL = """
    CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END
    || '://' ||
    CASE doc_id % 3 WHEN 0 THEN upper(source) WHEN 1 THEN source
         ELSE source END
    || CASE doc_id % 3 WHEN 0 THEN '.Example.COM' ELSE '.example.com' END
    || CASE WHEN doc_id % 5 = 0
            THEN CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
            ELSE '' END
    || '/docs/' || CAST(doc_id % 500 AS VARCHAR)
    || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
    || CASE doc_id % 4
       WHEN 0 THEN '?utm_source=feed&ref=' || lang
       WHEN 1 THEN '?ref=' || lang || '&utm_campaign=x'
       WHEN 2 THEN '?utm_medium=social'
       ELSE '' END
"""


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
             regexp_extract(url, '\\?(.*)$', 1) AS query
      FROM u),
    canon AS (
      SELECT doc_id,
             scheme || '://' ||
             CASE WHEN (scheme = 'http'  AND hostport LIKE '%:80')
                  THEN regexp_replace(hostport, ':80$', '')
                  WHEN (scheme = 'https' AND hostport LIKE '%:443')
                  THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END ||
             CASE WHEN path <> '/' THEN regexp_replace(path, '/$', '')
                  ELSE path END ||
             CASE WHEN len(list_filter(string_split(query, '&'),
                                       x -> x <> '' AND NOT starts_with(x, 'utm_'))) > 0
                  THEN '?' || array_to_string(
                         list_sort(list_filter(string_split(query, '&'),
                                   x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&')
                  ELSE '' END AS canonical_url
      FROM parts)
    SELECT canonical_url,
           count(*) AS n_docs,
           min(doc_id) AS rep_doc_id
    FROM canon
    GROUP BY canonical_url
    HAVING count(*) > 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the curation pass that collapses crawl
    records pointing at the same resource through cosmetic URL variation
    (scheme/host case, default ports, trailing slashes, utm_* tracking
    params, query-param order). The fixture has no URL column, so a messy
    URL is synthesized per doc from (doc_id, source, lang) with all six
    variation classes md5-free and deterministic; both engines build the
    SAME messy URLs, then canonicalize and group.

    Everything is codegen string/array expressions (lower, regexp, split,
    filter+sort lambdas) — one projection then one keyed groupBy whose
    shuffle carries (canonical_url, partial count), the ideal shape: at
    100 TB this is a map-side-combined count per URL group, no joins.
    Groups of 1 are dropped (HAVING n > 1) so the output is the dup
    report, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    messy = (
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    )
    host_src = (
        F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(F.col("source"))
    )
    host_dom = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(".Example.COM")).otherwise(
            F.lit(".example.com")
        )
    )
    port = F.when(
        F.col("doc_id") % 5 == 0,
        F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
    ).otherwise(F.lit(""))
    trail = F.when(F.col("doc_id") % 7 == 0, F.lit("/")).otherwise(F.lit(""))
    q = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("?utm_source=feed&ref="), F.col("lang")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("?ref="), F.col("lang"), F.lit("&utm_campaign=x")),
        )
        .when(F.col("doc_id") % 4 == 2, F.lit("?utm_medium=social"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        messy,
        F.lit("://"),
        host_src,
        host_dom,
        port,
        F.lit("/docs/"),
        (F.col("doc_id") % 500).cast("string"),
        trail,
        q,
    )
    u = docs.select("doc_id", url.alias("url"))
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1))
    path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract("url", r"\?(.*)$", 1)
    p = u.select(
        "doc_id",
        scheme.alias("scheme"),
        hostport.alias("hostport"),
        path.alias("path"),
        query.alias("query"),
    )
    host_c = (
        F.when(
            (F.col("scheme") == "http") & F.col("hostport").endswith(":80"),
            F.regexp_replace("hostport", ":80$", ""),
        )
        .when(
            (F.col("scheme") == "https") & F.col("hostport").endswith(":443"),
            F.regexp_replace("hostport", ":443$", ""),
        )
        .otherwise(F.col("hostport"))
    )
    path_c = F.when(
        F.col("path") != "/", F.regexp_replace("path", "/$", "")
    ).otherwise(F.col("path"))
    kept = F.array_sort(
        F.filter(
            F.split("query", "&"),
            lambda x: (x != "") & ~x.startswith("utm_"),
        )
    )
    query_c = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    canon = p.select(
        "doc_id",
        F.concat(
            F.col("scheme"), F.lit("://"), host_c, path_c, query_c
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("rep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH w AS (SELECT doc_id, source, text,
                      string_split(text, ' ') AS ws FROM documents
               WHERE text IS NOT NULL),
    sh AS (SELECT doc_id, source, substr(text, 1, 32) AS k,
                  {_SHINGLES_SQL} AS sg FROM w),
    ordered AS (
      SELECT doc_id, source, k, sg,
             lead(doc_id, 1) OVER so AS n1,
             lead(doc_id, 2) OVER so AS n2
      FROM sh
      WINDOW so AS (PARTITION BY source ORDER BY k, doc_id)),
    pairs AS (
      SELECT doc_id AS x, n1 AS y FROM ordered WHERE n1 IS NOT NULL
      UNION ALL
      SELECT doc_id AS x, n2 AS y FROM ordered WHERE n2 IS NOT NULL),
    j AS (
      SELECT least(p.x, p.y) AS doc_a, greatest(p.x, p.y) AS doc_b,
             len(list_intersect(a.sg, b.sg)) * 1.0 /
             len(list_distinct(list_concat(a.sg, b.sg))) AS jaccard
      FROM pairs p
      JOIN sh a ON p.x = a.doc_id AND len(a.sg) > 0
      JOIN sh b ON p.y = b.doc_id AND len(b.sg) > 0)
    SELECT DISTINCT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup — sort each source's documents by a
    cheap blocking key (first 32 chars), compare every record only to
    its w-1=2 following neighbors, verify with exact shingle Jaccard
    (≥ 0.5). The classic record-linkage alternative to LSH: candidate
    volume is EXACTLY (w-1)·n regardless of similarity structure, at
    the cost of recall for dups whose keys sort far apart. Partitioning
    by source keeps the sort distributed (each partition sorts locally
    — the real multi-pass SNM shape); the neighbor probe is two lead()
    calls on that one window, never a self-join — and lead() carries
    the neighbor's SHINGLE ARRAY too, so verification happens in-place
    on the window output with zero further joins or shuffles (the
    earlier shape re-joined the shingle frame twice to fetch arrays;
    the sort payload grows by |sg| bytes but two pair-frame shuffles
    disappear). Docs with empty shingle sets ride the window as sort
    neighbors but verify to Jaccard 0 (or NULL at 0/0), dropping the
    same pairs the old inner joins dropped — output identical.
    Determinism: binary string order with doc_id tie-break, exact
    integer set sizes, one mirrored double division.

    NULL text is filtered BEFORE the window on both engines (r13
    NULL-injection probe): a contentless doc must not occupy neighbor
    slots, and letting it ride is cross-engine nondeterministic anyway —
    its NULL blocking key sorts FIRST in Spark but LAST in DuckDB, so
    the two engines would form different candidate pairs around it
    (and two adjacent NULL docs hit ANSI 0/0 at the Jaccard)."""
    sh = _doc_shingles(spark, sf_dir).join(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", F.substring("text", 1, 32).alias("k")),
        "doc_id",
    )
    so = Window.partitionBy("source").orderBy("k", "doc_id")
    ordered = sh.select(
        "doc_id",
        "sg",
        F.lead("doc_id", 1).over(so).alias("n1"),
        F.lead("sg", 1).over(so).alias("sg1"),
        F.lead("doc_id", 2).over(so).alias("n2"),
        F.lead("sg", 2).over(so).alias("sg2"),
    )
    pairs = (
        ordered.select(
            "doc_id",
            "sg",
            F.col("n1").alias("y"),
            F.col("sg1").alias("sgb"),
        )
        .filter(F.col("y").isNotNull())
        .unionByName(
            ordered.select(
                "doc_id",
                "sg",
                F.col("n2").alias("y"),
                F.col("sg2").alias("sgb"),
            ).filter(F.col("y").isNotNull())
        )
    )
    j = pairs.select(
        F.least("doc_id", "y").alias("doc_a"),
        F.greatest("doc_id", "y").alias("doc_b"),
        (
            F.size(F.array_intersect("sg", "sgb")) * F.lit(1.0)
            / F.size(F.array_union("sg", "sgb"))
        ).alias("jaccard"),
    )
    return j.filter(F.col("jaccard") >= 0.5).distinct()


_BANDING_CONFIGS = [(64, 2), (32, 4), (16, 8), (8, 16)]


@register(
    "dedup_minhash_banding_curve",
    oracle=f"""
    WITH truth AS ({_EXACT_JACCARD_PAIRS_SQL.format(thr=0.5)}),
    cfg AS (SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _BANDING_CONFIGS)})
            t(bands, rows_per_band)),
    p AS (
      SELECT cfg.bands, cfg.rows_per_band,
             CAST(round((1 - pow(1 - pow(truth.jaccard, cfg.rows_per_band),
                                 cfg.bands)) * 1e9, 0) AS BIGINT) AS q
      FROM truth CROSS JOIN cfg)
    SELECT CAST(bands AS INT) AS bands,
           CAST(rows_per_band AS INT) AS rows_per_band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {ratio_round_oracle(
               "sum(q)", "CAST(count(*) AS HUGEINT) * 1000000000", 6)}
               AS expected_recall,
           CAST(sum(CASE WHEN q >= 900000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_confident
    FROM p GROUP BY bands, rows_per_band
    """,
)
def dedup_minhash_banding_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding S-curve evaluation — for each candidate (b, r) split
    of a 128-hash MinHash signature, the expected recall 1-(1-J^r)^b
    over the corpus's ACTUAL near-dup pair set (exact Jaccard ≥ 0.5
    from the shared inverted-index machinery). This is the tuning table
    an engineer reads before launching a 100 TB dedup: which banding
    catches the similarity mass this corpus actually has. The pair set
    reuses _exact_jaccard_pairs (bucketed inverted index, never
    all-pairs); the 4-row config frame cross-joins as a broadcast.
    Collision probabilities quantize to integer nano-units before
    summing (the Theil-index trick) so cross-engine pow() last-ulp
    noise can never reorder a float sum, and the final 6-decimal output
    rounds through the exact integer ratio_round template
    (queries/rounding.py, converted round 12) so the round() boundary
    class is retired outright."""
    truth = _exact_jaccard_pairs_shared(spark, sf_dir, 0.5)
    cfg = spark.createDataFrame(
        _BANDING_CONFIGS, "bands INT, rows_per_band INT"
    )
    p = truth.crossJoin(F.broadcast(cfg)).select(
        "bands",
        "rows_per_band",
        F.round(
            (
                F.lit(1)
                - F.pow(
                    F.lit(1) - F.pow("jaccard", F.col("rows_per_band")),
                    F.col("bands"),
                )
            )
            * F.lit(1e9),
            0,
        )
        .cast("bigint")
        .alias("q"),
    )
    return (
        p.groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("q").cast("decimal(38,0)")).alias("_sum_q"),
            F.sum(F.when(F.col("q") >= 900_000_000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_confident"),
        )
        .select(
            "bands",
            "rows_per_band",
            "n_pairs",
            # exact integer ratio_round of Σq / (n_pairs·1e9) — converted
            # from the float round in round 12 (queries/rounding.py); the
            # DECIMAL/HUGEINT sum keeps the overflow posture symmetric at
            # billion-pair scale.
            F.expr(
                ratio_round_spark(
                    "_sum_q",
                    "CAST(n_pairs AS DECIMAL(38,0)) * 1000000000",
                    6,
                )
            ).alias("expected_recall"),
            "n_confident",
        )
    )
