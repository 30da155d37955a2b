"""B-11 text analysis over ``documents`` (SURVEY.md §2; training-data
pipeline surface): TF-IDF, corpus stats, language ID, quality scoring,
token counting, fingerprinting.

Determinism policy: ranking keys are integers or exact-rational doubles;
the only libm value (ln in IDF) is rounded to 6 decimals on both sides and
used for ranking via its rounded form.

Scale notes: every op is one or two keyed shuffles over exploded tokens;
per-language profiles and corpus totals are tiny aggregates broadcast back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud2sql_spark.catalog import load_table
from cloud2sql_spark.memo import track
from cloud2sql_spark.queries.rounding import (
    ratio_round_oracle,
    ratio_round_spark,
)
from cloud2sql_spark.registry import register

_STOPWORDS = ["the", "a", "an", "of", "to", "in", "and", "or", "is", "on"]


@register(
    "text_tokenize_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, w AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY doc_id, w
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1)), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, term) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
)
def text_tokenize_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenize -> TF -> DF -> TF-IDF, top-3 terms per doc.
    IDF = ln((N+1)/(df+1)); ranked by rounded score (term tie-break) so
    cross-engine libm noise cannot flip ranks. The TF frame is
    session-persisted (r14): it feeds the DF aggregate AND the scoring
    join, and without the persist the tokenize+explode+aggregate
    subtree runs twice — exchange reuse does not cover the two
    different downstream shapes."""
    # repartition: the documents fixture is a single file split; spread the
    # tokenize/explode CPU across cores (no-op on a many-split lake table)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tf = track(
        # explode_outer: keeps InferFiltersFromGenerate from re-running
        # split() in a pushed-down pre-filter (see _exact_jaccard_pairs)
        docs.select("doc_id", F.explode_outer(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1)), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


@register(
    "text_stats",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus stats — integer sums with one exact IEEE
    division for the mean."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_words"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


@register(
    "text_lang_id",
    oracle="""
    WITH train AS (SELECT * FROM documents WHERE doc_id % 20 = 1),
    tri AS (SELECT lang, unnest([substr(text, i, 3)
                   for i in range(1, length(text) - 1)]) AS g FROM train),
    counts AS (SELECT lang, g, count(*) AS cnt FROM tri GROUP BY lang, g),
    profile AS (SELECT lang, g FROM (
        SELECT lang, g, row_number() OVER (PARTITION BY lang
                         ORDER BY cnt DESC, g) AS rn FROM counts)
      WHERE rn <= 30),
    doc_tri AS (SELECT doc_id, unnest(list_distinct([substr(text, i, 3)
                     for i in range(1, length(text) - 1)])) AS g
                FROM documents),
    overlap AS (SELECT d.doc_id, p.lang, count(*) AS score
                FROM doc_tri d JOIN profile p ON d.g = p.g
                GROUP BY d.doc_id, p.lang),
    langs AS (SELECT DISTINCT lang FROM documents),
    all_scores AS (
      SELECT doc.doc_id, l.lang,
             coalesce(o.score, 0) AS score
      FROM documents doc CROSS JOIN langs l
      LEFT JOIN overlap o ON o.doc_id = doc.doc_id AND o.lang = l.lang
    )
    SELECT doc_id, pred_lang, actual_lang,
           CAST(pred_lang = actual_lang AS BOOLEAN) AS correct FROM (
      SELECT s.doc_id, s.lang AS pred_lang, d.lang AS actual_lang,
             row_number() OVER (PARTITION BY s.doc_id
                 ORDER BY s.score DESC, s.lang) AS rn
      FROM all_scores s JOIN documents d ON s.doc_id = d.doc_id)
    WHERE rn = 1
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID: per-language profiles (top-30
    trigrams of a doc_id%20==1 training split, count-desc/trigram-asc) and
    argmax profile-overlap prediction (score-desc/lang-asc tie-break).
    Pure integer scoring — deterministic. Profiles are tiny and broadcast;
    the only big shuffle is the doc-trigram explode."""
    # Fit side only: the %20 split prunes at the scan (pushed filter), and
    # the char array is materialized once behind an exchange — substring
    # (text, i, 3) per trigram index is O(len²) per doc (each substring
    # re-scans the UTF-8 bytes); slicing the char array is O(1) per
    # position. The full corpus is never char-split: scoring reads raw
    # text (see below).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    # size>=3 guard (mirrors _WS_SHINGLES_EXPR in extensions.py): without it,
    # sequence(1, 0) yields a DESCENDING [1, 0] for docs shorter than 3 chars
    # and slice(cs, 0, 3) throws at runtime (array indices start at 1).
    trigrams = F.expr(
        "CASE WHEN size(cs) >= 3 THEN"
        " transform(sequence(1, size(cs) - 2),"
        " i -> concat_ws('', slice(cs, i, 3)))"
        " ELSE array() END"
    )
    # 5% train split: the char-trigram frequency ranking is stable under
    # sampling (top-30 per lang identical well below this rate), and at
    # 100 TB a fit pass over 80% of the corpus would dwarf the scoring
    # pass it feeds — fit-small/score-everything is the scale shape.
    # The oracle fits on the identical split, so the check stays exact
    # even where the model errs.
    train = docs.filter(F.col("doc_id") % 20 == 1).select(
        "lang", F.split("text", "").alias("cs")
    )
    counts = (
        # explode_outer: a plain explode makes InferFiltersFromGenerate
        # evaluate the whole trigram transform twice more per row in an
        # inferred pre-filter (see _exact_jaccard_pairs); outer + null
        # post-filter keeps the transform single-evaluation.
        train.select("lang", F.explode_outer(trigrams).alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("lang", "g")
        .agg(F.count("*").alias("cnt"))
    )
    wp = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("g"))
    profile = (
        counts.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 30)
        .select("lang", "g")
    )
    # The fitted model is bounded (n_langs × 30 trigrams), so collect it to
    # the driver and ship it back in the scoring closure — the standard
    # fit-small/broadcast pattern; no shuffle at all after the fit.
    prof: dict[str, list[str]] = {}
    for r in profile.collect():  # bounded: n_langs × 30
        prof.setdefault(r["lang"], []).append(r["g"])
    langs_sorted = [
        r["lang"] for r in docs.select("lang").distinct().orderBy("lang").collect()
    ]
    profiles = [prof.get(lang, []) for lang in langs_sorted]
    # Scoring is Arrow-batched mapInPandas over the RAW text: the earlier
    # all-expression form (char-split → transform(slice+concat_ws) per
    # trigram → array_intersect per language) is a nested HOF stack that
    # falls out of whole-stage codegen and re-allocates per element —
    # measured ~10× slower than this set-membership loop at 10× sf0.1
    # (22s → ~2s; the SKILL gotcha about HOF folds). Per doc: one pass
    # builds the distinct-trigram set, then |langs|·30 O(1) membership
    # tests. Python str slicing and Spark split('') both cut code points,
    # so the trigram universe is identical; scores are exact ints, and
    # taking the FIRST maximum over lang-ascending scores reproduces the
    # oracle's score-desc/lang-asc tie-break. Embarrassingly parallel —
    # no shuffle, linear at any corpus size.
    raw = docs  # same persisted frame the fit read — scanned once total

    def score(batches):
        import pandas as pd

        for pdf in batches:
            preds = []
            corrects = []
            for text, actual in zip(pdf["text"], pdf["lang"]):
                # NULL text scores 0 against every profile — the oracle's
                # LEFT JOIN + coalesce(score, 0) shape — so the argmax
                # tie-break picks the alphabetically-first lang (r13
                # NULL-injection probe; None must not reach len()).
                tri = (
                    {text[i : i + 3] for i in range(len(text) - 2)}
                    if isinstance(text, str)
                    else set()
                )
                best_i = 0
                best = -1
                for i, pr in enumerate(profiles):
                    s = sum(1 for g in pr if g in tri)
                    if s > best:  # strict: first max wins (lang-asc order)
                        best = s
                        best_i = i
                pred = langs_sorted[best_i]
                preds.append(pred)
                corrects.append(pred == actual)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "pred_lang": preds,
                    "actual_lang": pdf["lang"],
                    "correct": pd.array(corrects, dtype="boolean"),
                }
            )

    return raw.mapInPandas(
        score,
        "doc_id BIGINT, pred_lang STRING, actual_lang STRING, correct BOOLEAN",
    )


@register(
    "text_quality",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_words,
             length(text) AS n_chars,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({_STOPWORDS!r}, w))) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_words,
           CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
           CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
           (CAST(n_stop AS DOUBLE) / n_words) * 0.5
             + (least(n_words, 100) / 100.0) * 0.3
             + (least(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 10.0)
                / 10.0) * 0.2 AS quality_score
    FROM q
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring from length / stopword-ratio / word-length signals,
    composed with a fixed left-associative op order so the float result is
    IEEE-identical on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    n_stop = F.size(
        F.filter(words, lambda w: w.isin(*_STOPWORDS))
    )
    avg_wlen = (F.length("text") - (n_words - 1)).cast("double") / n_words
    stop_ratio = n_stop.cast("double") / n_words
    score = (
        stop_ratio * 0.5
        + (F.least(n_words, F.lit(100)) / 100.0) * 0.3
        + (F.least(avg_wlen, F.lit(10.0)) / 10.0) * 0.2
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        stop_ratio.alias("stop_ratio"),
        avg_wlen.alias("avg_word_len"),
        score.alias("quality_score"),
    )


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT)
               AS word_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est,
           length(text) AS n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, regex word tokens (BPE-ish
    pre-tokenization), and the chars/4 BPE-count estimate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).alias(
            "word_tokens"
        ),
        F.ceil(F.length("text") / 4.0).alias("bpe_est"),
        F.length("text").alias("n_chars"),
    )


@register(
    "text_fingerprint",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 for i in range(1, len(ws) - 1)]) AS sg
           FROM w)
    SELECT doc_id,
           array_to_string(list_sort(list_transform(sg, s -> md5(s)))[1:4], '|')
               AS fingerprint,
           CAST(len(sg) AS INT) AS n_shingles
    FROM sh
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min-4 winnowing over md5'd word 3-gram
    shingles (md5 identical across engines). Equal fingerprints <=> high
    shingle overlap — the cheap first-pass dedup key."""
    from cloud2sql_spark.queries.extensions import _doc_shingles

    shingled = _doc_shingles(spark, sf_dir)
    fps = F.slice(
        F.sort_array(F.transform("sg", lambda s: F.md5(s))), 1, 4
    )
    return shingled.select(
        "doc_id",
        F.array_join(fps, "|").alias("fingerprint"),
        F.size("sg").alias("n_shingles"),
    )


@register(
    "text_top_ngrams",
    oracle="""
    WITH toks AS (
      SELECT lang, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      FROM documents),
    idx AS (
      SELECT lang, ts, unnest(range(1, len(ts))) AS i
      FROM toks WHERE len(ts) >= 2),
    bg AS (SELECT lang, ts[i] || ' ' || ts[i + 1] AS bigram FROM idx),
    cnt AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
    rk AS (SELECT lang, bigram, n,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY n DESC, bigram) AS rk
           FROM cnt)
    SELECT lang, bigram, n, CAST(rk AS INT) AS rk
    FROM rk WHERE rk <= 3
    """,
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 bigrams per language — the n-gram vocabulary pass of corpus
    profiling. The token array is materialized once per row (never
    re-split inside the lambda — re-evaluated per element otherwise, see
    SKILL gotchas), adjacent pairs come from one zip_with over two
    slices (no self-join), and the per-lang top-k is a bounded window
    over the aggregated (lang, bigram) counts — the 2-shuffle shape that
    holds at corpus scale (counts shrink map-side; the window partitions
    by lang over already-aggregated rows)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.filter(F.split("text", " "), lambda t: t != "").alias("ts"),
    ).filter(F.size("ts") >= 2)
    bg = toks.select(
        "lang",
        F.explode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.size("ts") - 1),
                F.slice(F.col("ts"), 2, F.size("ts") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram"),
    )
    cnt = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        cnt.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
    )


@register(
    "text_histogram",
    oracle="""
    SELECT lang,
           CAST(length(bin(n_chars)) AS INT) AS log2_bucket,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def text_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂ document-length histogram per language — the corpus length
    profile that drives sequence-packing and truncation budgets. The
    bucket is length(bin(n)) = floor(log₂ n)+1 computed in INTEGER string
    space (bit-length), sidestepping libm log2 boundary rounding at exact
    powers of two. Pure partial-aggregable count/sum over ~|langs|·64
    keys."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        "lang",
        F.length(F.bin("n_chars")).cast("int").alias("log2_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "text_diversity",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
    cnt AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
    st AS (SELECT doc_id,
                  CAST(sum(c) AS BIGINT)          AS n_words,
                  count(*)                        AS n_distinct,
                  CAST(sum(c * (c - 1)) AS BIGINT) AS coll,
                  count_if(c = 1)                 AS hapax
           FROM cnt GROUP BY 1)
    SELECT doc_id, n_words, n_distinct,
           {ratio_round_oracle(
               "n_words * (n_words - 1) - coll",
               "n_words * (n_words - 1)", 6)} AS simpson_diversity,
           {ratio_round_oracle("hapax", "n_distinct", 6)} AS hapax_ratio,
           {ratio_round_oracle("n_distinct", "n_words", 6)}
               AS type_token_ratio
    FROM st
    WHERE n_words > 1
    """,
)
def text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals per document: Gini-Simpson
    diversity (1 - sum c_i(c_i-1)/(N(N-1))), hapax ratio, and type-token
    ratio — repetition/diversity filters for training-data curation
    (low diversity = boilerplate or degenerate generation). All three
    are EXACT rationals over integer counts (no log/float accumulation),
    so all three round through the exact integer ratio_round template
    (queries/rounding.py — converted round 12 when the composed fixture
    probe falsified the P(boundary) exemption class): both engines
    compute round(num/den, 6) in pure integer arithmetic, half away
    from zero, with no float in the path to disagree at a half
    boundary, at any document length. Spark plan:
    explode -> two partial-aggregable groupBys keyed by doc; the token
    shuffle is the corpus size, the doc shuffle is |docs| — both linear,
    no joins."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    cnt = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    st = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("coll"),
        F.expr("count_if(c = 1)").alias("hapax"),
    )
    n = F.col("n_words")
    return st.filter(n > 1).select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.expr(
            ratio_round_spark(
                "n_words * (n_words - 1) - coll",
                "n_words * (n_words - 1)",
                6,
            )
        ).alias("simpson_diversity"),
        F.expr(ratio_round_spark("hapax", "n_distinct", 6)).alias(
            "hapax_ratio"
        ),
        F.expr(ratio_round_spark("n_distinct", "n_words", 6)).alias(
            "type_token_ratio"
        ),
    )


@register(
    "text_chunk_split",
    oracle="""
    WITH starts AS (
      SELECT doc_id, text, unnest(range(1, length(text) + 1, 150)) AS s
      FROM documents)
    SELECT doc_id,
           CAST((s - 1) / 150 AS INT) AS chunk_idx,
           CAST(s AS INT) AS chunk_start,
           substring(text, CAST(s AS INT), 200) AS chunk_text,
           CAST(length(substring(text, CAST(s AS INT), 200)) AS INT)
               AS chunk_len
    FROM starts
    """,
)
def text_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking: 200-char windows with 50-char overlap (stride
    150), one row per chunk. Start offsets are generated per row with
    sequence()+explode — bounded fan-out proportional to document length,
    no shuffle at all (the whole operator is a narrow map), so chunking
    100 TB is embarrassingly parallel and chunk rows inherit the scan's
    partitioning for any downstream embed/tokenize stage. Offsets are
    1-based in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    starts = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text"), F.lit(150))
        ).alias("s"),
    )
    chunk = F.substring(F.col("text"), F.col("s").cast("int"), F.lit(200))
    return starts.select(
        "doc_id",
        ((F.col("s") - 1) / 150).cast("int").alias("chunk_idx"),
        F.col("s").cast("int").alias("chunk_start"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("int").alias("chunk_len"),
    )


@register(
    "text_lm_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                        t -> t <> '')) AS token
      FROM documents),
    vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    total AS (SELECT sum(cnt) AS t FROM vocab)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(ln(CAST(cnt AS DOUBLE) / t)), 2) AS avg_logp
    FROM tok JOIN vocab USING (token) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: each document's mean log-likelihood
    under the corpus's own unigram distribution — the perplexity-proxy
    quality filter of web-scale pipelines (low avg_logp = rare-token
    gibberish). Two aggregations: the vocabulary (small — token types,
    not occurrences; broadcast to the scoring join) and the per-doc mean.
    The token explode is map-side; the vocab join is broadcast; the
    final groupBy(doc_id) is the only big shuffle. ln() runs on
    identically-computed doubles in both engines and the mean is rounded
    to 2 decimals."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("token"),
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("t"))
    scored = tok.join(F.broadcast(vocab), "token").join(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.avg(F.log(F.col("cnt").cast("double") / F.col("t"))), 2
        ).alias("avg_logp"),
    )


@register(
    "text_repetition",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS ws
      FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS token FROM w),
    wc AS (SELECT doc_id, token, count(*) AS c
           FROM tok GROUP BY doc_id, token),
    wstats AS (SELECT doc_id,
                      CAST(sum(c) AS BIGINT) AS n_words,
                      count(*) AS n_distinct,
                      CAST(max(c) AS BIGINT) AS top_word_freq
               FROM wc GROUP BY doc_id),
    bg AS (SELECT doc_id,
                  unnest([ws[i] || ' ' || ws[i+1]
                          for i in range(1, len(ws))]) AS bigram
           FROM w WHERE len(ws) >= 2),
    bc AS (SELECT doc_id, bigram, count(*) AS c
           FROM bg GROUP BY doc_id, bigram),
    bstats AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_freq
               FROM bc GROUP BY doc_id)
    SELECT s.doc_id, s.n_words, s.n_distinct, s.top_word_freq,
           coalesce(b.top_bigram_freq, 0) AS top_bigram_freq,
           (s.top_word_freq * 5 > s.n_words
            OR coalesce(b.top_bigram_freq, 0) * 8 > s.n_words)
               AS is_repetitive
    FROM wstats s LEFT JOIN bstats b USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter (Rae et al. 2021, public): per-doc
    duplicate-word mass, the most-frequent word's count, and the
    most-frequent bigram's count, with a repetition verdict.

    The reference corpus has no newlines, so the published line-level
    rules map to word/bigram level. The verdict thresholds are integer
    comparisons (freq*5 > n_words), never float ratios, so the flag is
    bit-identical across engines.

    Every statistic here is PER-DOC — no cross-doc aggregation exists —
    so the whole operator is one Arrow-batched scan (r14): per-doc
    Counter over words and over adjacent-word bigrams, emitting the four
    counts directly. The previous form exploded both gram streams and
    shuffled them on (doc_id, gram) twice plus a doc_id join — three
    exchanges of token-volume data for an embarrassingly parallel
    computation (measured 1.007 → 0.895s interleaved min at sf0.1; at
    any scale the shuffle volume saved is ~|tokens|). Counts are exact
    integers either way, so output is bit-identical (equivalence
    asserted row-for-row at sf0.1 before the swap). A doc with no
    nonempty tokens (empty or NULL text) emits no row, matching the
    grouped form where it produced no (doc_id, token) rows; token
    strings contain no spaces, so tuple-keyed bigram counting equals the
    oracle's string-concat counting."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism * 2
    base = docs.select("doc_id", "text").repartition(par)

    def rep_stats(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            ids, nw, nd, twf, tbf = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue
                ws = [t for t in text.split(" ") if t != ""]
                if not ws:
                    continue
                wc = Counter(ws)
                tb = max(Counter(zip(ws, ws[1:])).values()) if len(ws) >= 2 else 0
                ids.append(doc_id)
                nw.append(len(ws))
                nd.append(len(wc))
                twf.append(max(wc.values()))
                tbf.append(tb)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_words": pd.Series(nw, dtype="int64"),
                    "n_distinct": pd.Series(nd, dtype="int64"),
                    "top_word_freq": pd.Series(twf, dtype="int64"),
                    "top_bigram_freq": pd.Series(tbf, dtype="int64"),
                }
            )

    stats = base.mapInPandas(
        rep_stats,
        "doc_id BIGINT, n_words BIGINT, n_distinct BIGINT,"
        " top_word_freq BIGINT, top_bigram_freq BIGINT",
    )
    return stats.withColumn(
        "is_repetitive",
        (F.col("top_word_freq") * 5 > F.col("n_words"))
        | (F.col("top_bigram_freq") * 8 > F.col("n_words")),
    )


@register(
    "text_pmi_bigrams",
    oracle="""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), t -> t <> '') AS ws
               FROM documents),
    tok AS (SELECT unnest(ws) AS token FROM w),
    wc AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    t AS (SELECT sum(c) AS total_w FROM wc),
    bg AS (SELECT unnest([{'w1': ws[i], 'w2': ws[i+1]}
                          for i in range(1, len(ws))]) AS b
           FROM w WHERE len(ws) >= 2),
    bc AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS cab
           FROM bg GROUP BY b.w1, b.w2),
    bt AS (SELECT sum(cab) AS total_b FROM bc)
    SELECT bc.w1, bc.w2, bc.cab,
           round(ln((CAST(bc.cab AS DOUBLE) / (SELECT total_b FROM bt))
                    / ((CAST(a.c AS DOUBLE) / (SELECT total_w FROM t))
                       * (CAST(b.c AS DOUBLE) / (SELECT total_w FROM t)))),
                 4) + 0.0 AS pmi
    FROM bc
    JOIN wc a ON bc.w1 = a.token
    JOIN wc b ON bc.w2 = b.token
    WHERE bc.cab >= 5
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation mining: pointwise mutual information of
    adjacent word pairs (PMI = ln(p(ab) / p(a)p(b))), support-filtered at
    5 occurrences — the phrase-detection pass (word2vec-style phrasing,
    tokenizer-merge candidates) of text pipelines.

    Counting is two keyed aggregates (unigrams, bigrams) with map-side
    combine; the PMI join attaches vocabulary counts to bigram rows on
    the word keys (vocab ≪ bigram occurrences, and both tables shrink
    with the type counts, not the corpus). Totals are 1-row broadcast
    scalars. All counts are exact integers; ln runs once per OUTPUT row
    on identically-derived doubles and is rounded to 4 decimals — the
    text_lm_score determinism posture."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("ws"),
    )
    tok = w.select(F.explode("ws").alias("token"))
    wc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total_w = wc.agg(F.sum("c").alias("total_w"))
    bg = w.filter(F.size("ws") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
            )
        ).alias("b")
    )
    bc = bg.groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")).agg(
        F.count(F.lit(1)).alias("cab")
    )
    total_b = bc.agg(F.sum("cab").alias("total_b"))
    a = wc.select(F.col("token").alias("w1"), F.col("c").alias("ca"))
    b = wc.select(F.col("token").alias("w2"), F.col("c").alias("cb"))
    pmi = F.log(
        (F.col("cab").cast("double") / F.col("total_b"))
        / (
            (F.col("ca").cast("double") / F.col("total_w"))
            * (F.col("cb").cast("double") / F.col("total_w"))
        )
    )
    # Vocab is the build side, explicitly: left unhinted the optimizer
    # broadcasts the FILTERED BIGRAM side (BuildLeft — the tpch_q3/q10
    # fact-broadcast disease), and supported-bigram types outnumber word
    # types on any real corpus. Word types are Heaps-law sublinear — the
    # legitimate dim table here.
    return (
        bc.filter(F.col("cab") >= 5)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .join(F.broadcast(total_w))
        .join(F.broadcast(total_b))
        # ``+ 0.0`` canonicalizes IEEE -0.0 (a PMI that rounds to zero from
        # below) to +0.0 on BOTH engines: the driver's value-hash does not
        # canonicalize signed zero (r05 red row; precedent multimodal_resize
        # r02), and -0.0 + 0.0 == +0.0 under round-to-nearest.
        .select("w1", "w2", "cab", (F.round(pmi, 4) + F.lit(0.0)).alias("pmi"))
    )


@register(
    "text_boilerplate_lines",
    oracle="""
    WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                          t -> t <> '') AS ws
               FROM documents),
    seg AS (
      SELECT doc_id,
             unnest([array_to_string(ws[(i-1)*5+1:(i-1)*5+5], ' ')
                     for i in range(1, len(ws) // 5 + 1)]) AS segment
      FROM w WHERE len(ws) >= 5),
    cnt AS (SELECT doc_id, segment,
                   count(*) OVER (PARTITION BY segment) AS df
            FROM seg)
    SELECT doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boilerplate,
           CAST(floor(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 10000.0
                      / count(*)) AS BIGINT) AS boilerplate_bp
    FROM cnt
    GROUP BY doc_id
    """,
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate detection (the CCNet/RefinedWeb paragraph
    dedup pass, at segment granularity): a document's LINES can be
    corpus-wide boilerplate (nav bars, license headers) even when the
    document as a whole is unique — whole-doc dedup never sees it. The
    fixture corpus has no newlines, so the segment unit is non-overlapping
    5-word windows; the repetition threshold is 2 (the synthetic corpus
    has no 5-gram repeated 5 times — real pipelines use higher).

    Shape: segment explode (narrow map) -> count(*) window partitioned by
    segment (ONE shuffle on the segment key gives every occurrence its
    corpus frequency — no self-join, no second scan) -> per-doc aggregate
    (second keyed shuffle). Both shuffles carry one row per segment
    occurrence, linear in corpus size. The boilerplate share is emitted
    as basis points via floor((nb * 10000.0) / ns) — floor of identically
    associated doubles, immune to the engines' round()-at-.5 divergence.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("ws"),
    ).filter(F.size("ws") >= 5)
    seg = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) div 5),"
                " i -> concat_ws(' ', slice(ws, (i-1)*5+1, 5)))"
            )
        ).alias("segment"),
    )
    cnt = seg.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("segment"))
    )
    nb = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("bigint")
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            nb.alias("n_boilerplate"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_boilerplate",
            F.floor(
                F.col("n_boilerplate") * 10000.0 / F.col("n_segments")
            ).cast("bigint").alias("boilerplate_bp"),
        )
    )


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    pos AS (
      SELECT doc_id, i, ws[i] AS word,
             CASE WHEN list_contains({_STOPWORDS!r}, ws[i])
                  THEN 1 ELSE 0 END AS is_stop
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w)
      WHERE ws[i] <> ''),
    seg AS (
      SELECT doc_id, i, word, is_stop,
             sum(is_stop) OVER (PARTITION BY doc_id ORDER BY i) AS phrase_id
      FROM pos),
    pw AS (SELECT doc_id, phrase_id, i, word FROM seg WHERE is_stop = 0),
    phrase AS (
      SELECT doc_id, phrase_id,
             string_agg(word, ' ' ORDER BY i) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM pw GROUP BY doc_id, phrase_id),
    occ AS (
      SELECT pw.word, p.plen
      FROM pw JOIN phrase p
        ON pw.doc_id = p.doc_id AND pw.phrase_id = p.phrase_id),
    wscore AS (
      SELECT word, CAST(sum(plen) AS BIGINT) AS deg FROM occ GROUP BY word),
    pscore AS (
      SELECT p.phrase, p.plen, CAST(sum(s.deg) AS BIGINT) AS score
      FROM pw JOIN phrase p
        ON pw.doc_id = p.doc_id AND pw.phrase_id = p.phrase_id
      JOIN wscore s ON pw.word = s.word
      GROUP BY p.doc_id, p.phrase_id, p.phrase, p.plen),
    agg AS (
      SELECT phrase, CAST(max(plen) AS INT) AS n_words,
             max(score) AS score, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM pscore GROUP BY phrase)
    SELECT phrase, n_words, score, n_occurrences
    FROM agg ORDER BY score DESC, phrase LIMIT 20
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), integer-score
    variant: candidate phrases are maximal stopword-free word runs
    (phrase_id = running stopword count — ONE (doc, pos) window), each
    word's degree is the summed length of every phrase it occurs in
    (corpus-level), and a phrase scores the SUM of its words' degrees —
    the deg-only RAKE variant, kept integer so cross-engine hashes are
    exact (canonical deg/freq is a fraction sum). Same phrase text ⇒
    same corpus-level score, so the final aggregate dedups phrase
    instances; top-20 orders by (score DESC, phrase). Shape (r14, guide
    §2.4): the phrase text and length attach to every word occurrence
    through a SECOND window over (doc_id, phrase_id) — satisfied by the
    doc_id partitioning the phrase-segmentation window already
    established, so it costs one local re-sort and NO exchange — where
    the previous form built a separate phrase aggregate and joined it
    back (one more exchange, and the explode+window subtree recomputed
    under both join sides). The occurrence frame is session-persisted
    for its two consumers (word degrees and phrase scores; exchange
    reuse does not span the two aggregate shapes). The word-score join
    stays vocabulary-sized and shuffled — NOT broadcast: a 100 TB
    corpus vocabulary outgrows a broadcast table even if this
    fixture's doesn't. r15 examined-and-declined: a narrow-join variant
    (occurrence rows carry no phrase text through the word exchange;
    phrase built once per instance by a co-partitioned aggregate and
    re-attached to instance scores by a (doc_id, phrase_id) join)
    measured 1.25 -> 1.38s interleaved best-of-4 — the extra instance
    aggregate + re-attach join outweigh the narrower exchange at this
    corpus, where phrases are short; the r14 window shape stands."""
    docs = load_table(spark, sf_dir, "documents")
    pos = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("i", "word"),
        )
        .filter(F.col("word") != "")
        .select(
            "doc_id",
            "i",
            "word",
            F.col("word").isin(*_STOPWORDS).cast("int").alias("is_stop"),
        )
    )
    seg = pos.select(
        "*",
        F.sum("is_stop")
        .over(Window.partitionBy("doc_id").orderBy("i"))
        .alias("phrase_id"),
    )
    pw = seg.filter(F.col("is_stop") == 0).select(
        "doc_id", "phrase_id", "i", "word"
    )
    wp = (
        Window.partitionBy("doc_id", "phrase_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    occ = track(
        pw.select(
            "doc_id",
            "phrase_id",
            "word",
            F.concat_ws(" ", F.collect_list("word").over(wp)).alias("phrase"),
            F.count(F.lit(1)).over(wp).cast("bigint").alias("plen"),
        ).persist()
    )
    wscore = occ.groupBy("word").agg(F.sum("plen").cast("bigint").alias("deg"))
    pscore = (
        # MERGE hint pins the sort-merge strategy: the word-degree side
        # IS vocabulary-sized, and the local fixture fitting under the
        # session's broadcast threshold must not bake in a plan that
        # broadcasts a 100 TB corpus vocabulary.
        occ.join(wscore.hint("merge"), "word")
        .groupBy("doc_id", "phrase_id", "phrase", "plen")
        .agg(F.sum("deg").cast("bigint").alias("score"))
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.max("plen").cast("int").alias("n_words"),
            F.max("score").alias("score"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .orderBy(F.col("score").desc(), "phrase")
        .limit(20)
    )


@register(
    "text_cross_source_overlap",
    oracle="""
    WITH d AS (
      SELECT text, source, count(*) AS n FROM documents
      GROUP BY text, source),
    x AS (
      SELECT text,
             CAST(count(*) AS BIGINT) AS n_sources,
             CAST(sum(n) AS BIGINT) AS n_docs,
             min(source) AS first_source
      FROM d GROUP BY text)
    SELECT text, n_sources, n_docs, first_source
    FROM x WHERE n_sources >= 2
    """,
)
def text_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate detection — text that appears in MULTIPLE
    sources is the contamination/plagiarism signal plain dedup_exact
    (which collapses within-corpus copies) does not expose: a benchmark
    answer leaking into a crawl shows up here first. Two keyed
    aggregates on the same text-prefixed key (the second reuses the
    first's clustering); at 100 TB the text key would be its md5 digest
    (the dedup_exact convention) so the shuffle carries 16-byte keys,
    not documents."""
    # Partition by text ONCE: the (text, source) aggregate's clustering
    # is satisfied by the coarser text hash, and the text-level rollup
    # reuses it — one exchange end to end.
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "text"
    )
    d = docs.groupBy("text", "source").agg(F.count(F.lit(1)).alias("n"))
    return (
        d.groupBy("text")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.sum("n").cast("bigint").alias("n_docs"),
            F.min("source").alias("first_source"),
        )
        .filter(F.col("n_sources") >= 2)
    )


@register(
    "text_hashing_trick_features",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    hx AS (
      SELECT doc_id, substr(md5(term), 1, 4) AS h FROM tok),
    b AS (
      SELECT doc_id,
             CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
                   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
                   + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 64
                  AS INT) AS bucket
      FROM hx)
    SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf
    FROM b GROUP BY doc_id, bucket
    """,
)
def text_hashing_trick_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick (feature-hashing) sparse vectors — each token maps
    to one of 64 buckets via md5, giving fixed-width features with no
    vocabulary build or broadcast dictionary: the property that makes
    the trick THE featurizer at 100 TB, where a vocab table is itself
    a big-data problem. Bucket = first 16 md5 bits mod 64 (md5 is
    byte-identical across engines; the oracle re-derives the hex→int
    conversion digit-by-digit since DuckDB lacks conv()). One explode +
    one map-side-combined (doc, bucket) count — no joins, no windows,
    embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = docs.select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isNotNull())
    bucket = (
        F.conv(F.substring(F.md5("term"), 1, 4), 16, 10).cast("bigint") % 64
    ).cast("int")
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
