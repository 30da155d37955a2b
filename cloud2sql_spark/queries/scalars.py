"""B-8 scalar function families (SURVEY.md §2).

Reference analogues: regex URI parsing (cloud2sql/collect.py:110-119),
string URL building (util.py:38-55), duration strings like '60d'/'1h'
(config-template.yaml:40-44), JSON-typed complex columns in SQL sinks
(SURVEY §1.2 [dep]).

Everything here is a built-in ``pyspark.sql.functions`` expression — JVM
whole-stage-codegen, no Python in the hot path. Cross-engine float policy:
single IEEE ops on identical operands (add/sub/mul/div/sqrt) are bit-exact
across engines and ship unrounded; libm-backed fns (ln/log10) are rounded
to 6 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud2sql_spark.catalog import load_table
from cloud2sql_spark.registry import register


@register(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           lower(c_name)                                    AS lname,
           upper(c_mktsegment)                              AS useg,
           substr(c_name, 1, 8)                             AS prefix,
           CAST(length(c_name) AS INT)                      AS name_len,
           trim(concat('  ', c_name, '  '))                 AS trimmed,
           concat_ws('|', c_name, c_mktsegment)             AS joined,
           replace(c_name, 'Customer#', 'C-')               AS replaced,
           string_split(c_name, '#')[2]                     AS num_part,
           CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS cust_num,
           regexp_replace(c_name, '0+', '0', 'g')           AS squeezed
    FROM customer
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family over customer names ('Customer#000000042' shape —
    the reference's Id-string parsing analogue, collect.py:110-119)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("lname"),
        F.upper("c_mktsegment").alias("useg"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.length("c_name").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("trimmed"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
        F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("C-")).alias("replaced"),
        F.split("c_name", "#").getItem(1).alias("num_part"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).cast("bigint").alias("cust_num"),
        F.regexp_replace("c_name", "0+", "0").alias("squeezed"),
    )


@register(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)                    AS yr,
           CAST(month(o_orderdate) AS INT)                   AS mo,
           CAST(day(o_orderdate) AS INT)                     AS dom,
           CAST(quarter(o_orderdate) AS INT)                 AS qtr,
           CAST(date_trunc('week', o_orderdate) AS DATE)     AS week_start,
           CAST(date_diff('day', o_orderdate,
                          TIMESTAMP '2000-01-01 00:00:00') AS INT) AS days_to_y2k,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)      AS plus_3mo,
           CAST(o_orderdate AS DATE)                         AS odate,
           strftime(o_orderdate, '%Y-%m')                    AS ym
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family (reference analogue: '60d'/'1h' duration handling,
    config-template.yaml:40-44). date_trunc('week') is Monday-start in both
    engines; datediff arg order is flipped between them (handled here)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate")).alias(
            "days_to_y2k"
        ),
        F.add_months("o_orderdate", 3).alias("plus_3mo"),
        F.col("o_orderdate").cast("date").alias("odate"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@register(
    "fn_math",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice, 0)                   AS rounded,
           abs(o_totalprice - 200000)               AS abs_dev,
           CAST(ceil(o_totalprice / 1000) AS BIGINT)  AS ceil_k,
           CAST(floor(o_totalprice / 1000) AS BIGINT) AS floor_k,
           CAST(o_orderkey % 7 AS BIGINT)           AS mod7,
           o_totalprice * o_totalprice              AS squared,
           round(ln(o_totalprice), 6)               AS ln_price,
           round(log10(o_totalprice), 6)            AS log10_price,
           sqrt(o_totalprice)                       AS sqrt_price,
           CAST(sign(o_totalprice - 200000) AS INT)   AS sign_dev
    FROM orders
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. sqrt/abs/mul are IEEE-exact (shipped raw); ln/log10 are
    libm-backed and rounded to 6 on both sides. round(x, 0) of positive
    doubles: both engines round half away from zero."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.round("o_totalprice", 0).alias("rounded"),
        F.abs(F.col("o_totalprice") - 200000).alias("abs_dev"),
        F.ceil(F.col("o_totalprice") / 1000).alias("ceil_k"),
        F.floor(F.col("o_totalprice") / 1000).alias("floor_k"),
        (F.col("o_orderkey") % 7).alias("mod7"),
        (F.col("o_totalprice") * F.col("o_totalprice")).alias("squared"),
        F.round(F.log(F.col("o_totalprice")), 6).alias("ln_price"),
        F.round(F.log10(F.col("o_totalprice")), 6).alias("log10_price"),
        F.sqrt("o_totalprice").alias("sqrt_price"),
        F.signum(F.col("o_totalprice") - 200000).cast("int").alias("sign_dev"),
    )


@register(
    "fn_cond",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'large'
                WHEN o_totalprice >= 150000 THEN 'medium'
                ELSE 'small' END                         AS size_band,
           coalesce(nullif(o_orderpriority, '4-NOT SPECIFIED'), 'UNKNOWN')
                                                         AS priority,
           least(o_totalprice, 250000.0)                 AS capped,
           greatest(o_totalprice, 50000.0)               AS floored,
           CASE WHEN o_orderstatus = 'O' THEN NULL
                ELSE o_orderstatus END                   AS closed_status
    FROM orders
    """,
)
def fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif / least / greatest."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "large")
        .when(F.col("o_totalprice") >= 150000, "medium")
        .otherwise("small")
        .alias("size_band"),
        F.coalesce(
            F.nullif("o_orderpriority", F.lit("4-NOT SPECIFIED")), F.lit("UNKNOWN")
        ).alias("priority"),
        F.least("o_totalprice", F.lit(250000.0)).alias("capped"),
        F.greatest("o_totalprice", F.lit(50000.0)).alias("floored"),
        F.when(F.col("o_orderstatus") == "O", F.lit(None).cast("string"))
        .otherwise(F.col("o_orderstatus"))
        .alias("closed_status"),
    )


@register(
    "fn_array",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT)           AS n_words,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
           string_split(text, ' ')[1]                          AS first_word,
           list_sort(string_split(text, ' '))[1]               AS first_sorted,
           list_contains(string_split(text, ' '), 'spark')     AS has_spark,
           CAST(list_aggregate(list_transform(string_split(text, ' '),
                        w -> length(w)), 'sum') AS BIGINT)       AS total_chars
    FROM documents
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family incl. higher-order transform/aggregate over tokenized
    document text (integer outputs — exact across engines)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        words.getItem(0).alias("first_word"),
        F.sort_array(words).getItem(0).alias("first_sorted"),
        F.array_contains(words, "spark").alias("has_spark"),
        F.aggregate(
            F.transform(words, lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("bigint").alias("total_chars"),
    )


@register(
    "fn_map",
    oracle="""
    SELECT event_id,
           'type,user'                        AS keys_joined,
           event_type                         AS type_val,
           CAST(user_id AS VARCHAR)           AS user_val,
           2                                  AS n_keys
    FROM events
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family (reference analogue: tags MAP<STRING,STRING> on every
    resource [dep]): build a map, then read it back via map_keys /
    element_at. The oracle verifies the round trip against the plain
    scalars the map was built from."""
    ev = load_table(spark, sf_dir, "events")
    tags = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("user"), F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.array_join(F.sort_array(F.map_keys(tags)), ",").alias("keys_joined"),
        F.element_at(tags, "type").alias("type_val"),
        F.element_at(tags, "user").alias("user_val"),
        F.size(tags).alias("n_keys"),
    )


@register(
    "fn_json",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT)      AS k_ext,
           CAST(props->>'$.k' AS BIGINT)      AS k_tuple,
           CAST(props->>'$.k' AS BIGINT)      AS k_typed,
           CAST(props->>'$.missing' AS BIGINT) AS missing
    FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events.props JSON-string column — the
    shape the reference uses for complex properties in SQL sinks
    (SURVEY §1.2 [dep]).

    Single-pass form (r15, guide §2.3/§4.1 per VERDICT r14 item 5): the
    original exercised get_json_object x2 + json_tuple + from_json —
    FOUR full JSON parses of props per row for four values one typed
    from_json supplies in one parse (codegen CSE evaluates the repeated
    from_json expression once). Value-identical on every path the
    column can take: well-formed {"k": int} yields the same BIGINT via
    every API, NULL/malformed props yield NULL from all of them, and a
    missing field is NULL in both the path-miss and the struct-field
    form — asserted row-identical at sf0.1 pre-swap and oracle-checked
    at both SFs. Output column ORDER matches the original exactly
    (k_tuple last — it was appended by withColumn). Boundary of the
    equivalence: a STRING-typed k ({"k": "7"}) parses as NULL here where
    the oracle's cast reads 7; tests/test_fixture_contracts.py::
    test_events_props_k_is_never_string_typed pins that no fixture row
    carries one. A/B best-of-4: 1.22 -> 0.63s."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT, missing BIGINT")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_ext"),
        parsed.getField("k").alias("k_typed"),
        parsed.getField("missing").alias("missing"),
        parsed.getField("k").alias("k_tuple"),
    )


@register(
    "fn_regex",
    oracle="""
    SELECT doc_id,
           CAST(regexp_matches(text, '(?i)\\bthe\\b') AS INT)      AS has_the,
           CAST(len(regexp_extract_all(text, '[aeiou]{2,}')) AS INT)
                                                                  AS vowel_runs,
           regexp_extract(text, '([A-Za-z]{7,})', 1)              AS first_long,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS INT)  AS ws_fields,
           regexp_replace(text, '[0-9]+', '#', 'g')               AS masked
    FROM documents
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family over document text: boolean match, match counting,
    first-group extraction, regex split, global replace. Patterns stay in
    the Java<->RE2 common subset (char classes, bounded repeats, \\b, (?i))
    so both engines agree byte-for-byte; all five run inside whole-stage
    codegen — regex is the right tool JVM-side long before a Python UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("text").rlike(r"(?i)\bthe\b").cast("int").alias("has_the"),
        F.regexp_count("text", F.lit(r"[aeiou]{2,}")).cast("int").alias(
            "vowel_runs"
        ),
        F.regexp_extract("text", r"([A-Za-z]{7,})", 1).alias("first_long"),
        F.size(F.split("text", r"\s+")).alias("ws_fields"),
        F.regexp_replace("text", r"[0-9]+", "#").alias("masked"),
    )


@register(
    "fn_struct",
    oracle="""
    SELECT o_orderkey,
           struct_pack(status := o_orderstatus,
                       priority := o_orderpriority).status    AS s_status,
           struct_pack(status := o_orderstatus,
                       priority := o_orderpriority).priority  AS s_priority,
           CAST(struct_pack(status := o_orderstatus,
                            priority := o_orderpriority)
                = struct_pack(status := 'F', priority := '1-URGENT')
                AS INT)                                       AS is_urgent_f
    FROM orders
    """,
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct family: construction, field access, and whole-struct
    equality (field-wise, both engines). Structs are how the engine
    carries the reference's nested resource shapes (SURVEY §1.2) through
    relational operators without flattening early."""
    o = load_table(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    )
    urgent_f = F.struct(
        F.lit("F").alias("status"), F.lit("1-URGENT").alias("priority")
    )
    return o.select(
        "o_orderkey",
        s.getField("status").alias("s_status"),
        s.getField("priority").alias("s_priority"),
        (s == urgent_f).cast("int").alias("is_urgent_f"),
    )


@register(
    "fn_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255                 AS low_bits,
           o_orderkey | 4096                AS with_flag,
           xor(o_orderkey, 255)             AS flipped_low,
           o_orderkey << 3                  AS shl3,
           o_orderkey >> 2                  AS shr2,
           CAST(bit_count(o_orderkey) AS INT) AS popcount,
           ~o_orderkey                      AS inverted
    FROM orders
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family over 64-bit keys: and/or/xor, shifts, popcount,
    complement — the building blocks of the hash/bucket/bloom arithmetic
    used across the dedup and sampling operators, all codegen'd JVM-side."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_bits"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(255)).alias("flipped_low"),
        F.shiftleft(k, 3).alias("shl3"),
        F.shiftright(k, 2).alias("shr2"),
        F.bit_count(k).alias("popcount"),
        F.bitwise_not(k).alias("inverted"),
    )


@register(
    "fn_format",
    oracle="""
    SELECT c_custkey,
           printf('%s|%08d', c_mktsegment, c_custkey) AS tagged,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0')  AS key_lpad,
           rpad(c_mktsegment, 12, '.')                AS seg_rpad,
           repeat('-', CAST(c_custkey % 5 AS INT))    AS dashes,
           reverse(c_name)                            AS name_rev
    FROM customer
    """,
)
def fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style formatting + padding/repetition primitives (the ID/
    partition-path building family — the reference builds JDBC URLs and
    S3 keys the same way, util.py:38-55). %s/%d only: float format
    specifiers round differently across Java Formatter and C printf
    (HALF_UP vs half-even) and are excluded by policy. Pure codegen
    projections."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.format_string("%s|%08d", "c_mktsegment", "c_custkey").alias("tagged"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_lpad"),
        F.rpad("c_mktsegment", 12, ".").alias("seg_rpad"),
        F.repeat(F.lit("-"), (F.col("c_custkey") % 5).cast("int")).alias(
            "dashes"
        ),
        F.reverse("c_name").alias("name_rev"),
    )


@register(
    "fn_hash",
    oracle="""
    SELECT c_custkey,
           md5(c_name)                       AS name_md5,
           sha256(c_name)                    AS name_sha256,
           CAST(position(substr(md5(c_name), 1, 1) IN '0123456789abcdef') - 1
                AS INT)                      AS md5_bucket16
    FROM customer
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digest functions — the content-addressing primitives
    every dedup/sampling operator here builds on (md5-derived keys are the
    repo-wide deterministic RNG substitute). md5/sha256 are bit-identical
    across engines by definition; the first-nibble bucket shows digest →
    integer bucketing without engine-specific conv() (DuckDB lacks it).
    Engine-native hash()/xxhash64 are deliberately excluded: their values
    are engine-defined and would never cross-verify."""
    cust = load_table(spark, sf_dir, "customer")
    md5 = F.md5("c_name")
    return cust.select(
        "c_custkey",
        md5.alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
        (F.position(F.substring(md5, 1, 1), F.lit("0123456789abcdef")) - 1)
        .cast("int")
        .alias("md5_bucket16"),
    )


@register(
    "fn_interval_arith",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 3 MONTH              AS plus_3mo,
           CAST(o_orderdate AS DATE) + 90              AS plus_90d,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(date_trunc('month', o_orderdate) AS DATE)    AS month_start,
           CAST(isodow(o_orderdate) AS INT)            AS iso_weekday,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01')
                AS INT)                                AS days_to_cutoff
    FROM orders
    """,
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic on naive timestamps: calendar-month addition
    (both engines clamp to month end), exact day addition, month
    boundaries, ISO weekday, and day differences — the reference parses
    '60d'/'1h' duration configs into exactly these operations
    (config-template.yaml:40-44). All codegen date math, no UDFs.
    plus_90d is DATE-typed on both sides: DuckDB 1.0.0's interval
    equality normalizes months to 30 days, so two "equal" interval
    constants (3 MONTH, 90 DAY) added to the same column CSE-fold into
    one — date+int arithmetic sidesteps the oracle-side bug."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.expr("o_orderdate + INTERVAL 3 MONTH").alias("plus_3mo"),
        F.date_add(F.col("o_orderdate").cast("date"), 90).alias("plus_90d"),
        F.last_day("o_orderdate").alias("month_end"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("iso_weekday"),
        F.datediff(F.lit("1998-12-01").cast("date"), F.col("o_orderdate"))
        .cast("int")
        .alias("days_to_cutoff"),
    )


@register(
    "fn_explode_lateral",
    oracle="""
    WITH parts AS (
      SELECT o_orderkey, string_split(o_orderpriority, '-') AS p
      FROM orders),
    idx AS (
      SELECT o_orderkey, p, unnest(range(1, len(p) + 1)) AS i
      FROM parts)
    SELECT o_orderkey, CAST(i AS INT) AS pos, p[i] AS token
    FROM idx
    """,
)
def fn_explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW posexplode — the table-generating-function shape
    (split a composite attribute into ordered rows). Spark's generator
    runs inside the same stage as the scan (no shuffle; row fan-out is
    bounded by the array length), identical to DuckDB's lateral unnest.
    1-based positions on both sides."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.posexplode(F.split("o_orderpriority", "-")).alias("pos0", "token"),
    ).select(
        "o_orderkey",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        "token",
    )


@register(
    "fn_url_parse",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' ||
             CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
      FROM documents)
    SELECT doc_id, url,
           regexp_extract(url, '^([a-z]+)://', 1)           AS scheme,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)    AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, 'lang=([a-z]+)', 1)          AS lang_param
    FROM u
    """,
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL construction + regex decomposition (scheme/host/path/query
    param) — the reference's URI-shape parsing re-expressed as codegen
    regexp_extract (cloud2sql/collect.py:110-124 accepts four S3 URL
    shapes the same way). The regexes stay in the Java∩RE2 common
    dialect, so both engines match identically; Spark's parse_url is
    avoided because DuckDB has no counterpart to cross-verify."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.regexp_extract("url", r"^([a-z]+)://", 1).alias("scheme"),
        F.regexp_extract("url", r"^[a-z]+://([^/?#]+)", 1).alias("host"),
        F.regexp_extract("url", r"^[a-z]+://[^/?#]+([^?#]*)", 1).alias("path"),
        F.regexp_extract("url", r"lang=([a-z]+)", 1).alias("lang_param"),
    )


@register(
    "fn_trig",
    oracle="""
    SELECT o_orderkey,
           CAST(floor(radians(o_orderkey % 360) * 1000000 + 0.5) AS BIGINT)      AS rad_u,
           CAST(floor(sin(radians(o_orderkey % 360)) * 1000000 + 0.5) AS BIGINT) AS sin_u,
           CAST(floor(cos(radians(o_orderkey % 360)) * 1000000 + 0.5) AS BIGINT) AS cos_u,
           CAST(floor(atan2(CAST(o_orderkey % 7 AS DOUBLE),
                            CAST(o_orderkey % 11 + 1 AS DOUBLE)) * 1000000 + 0.5)
                AS BIGINT) AS bearing_u,
           CAST(floor(degrees(atan(CAST(o_orderkey % 5 AS DOUBLE))) * 1000000 + 0.5)
                AS BIGINT) AS slope_deg_u
    FROM orders
    """,
)
def fn_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric family (bearing/heading math over resource
    coordinates is the classic warehouse use).

    Oracle contract: sin/cos/atan are NOT correctly-rounded in libm, so
    the JVM and DuckDB can differ by 1 ulp and flip a round-to-6 on
    boundary values (the r04 red row). Both sides therefore emit
    guard-banded micro-units: floor(x*1e6 + 0.5) as BIGINT. This is safe
    iff no domain value's x*1e6 has fractional part near 0.5 — audited
    exhaustively over the finite input domain (360 angles x {rad,sin,cos}
    + 77 atan2 ratios + 5 atan slopes = 1162 values): the worst distance
    to a half-boundary is 2.1e-4, vs ~1e-10 worst-case cross-libm drift
    after scaling — six orders of magnitude of margin. The special angles
    (sin 30deg = 0.5 etc., where libm may land on either side of the
    exact value) sit at fractional part ~0, maximally FAR from the
    floor(x+0.5) boundary, which is what the naive round(x, 6) got wrong.
    """
    orders = load_table(spark, sf_dir, "orders")
    deg = F.col("o_orderkey") % 360

    def u(col):  # guard-banded micro-unit quantization
        return F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")

    return orders.select(
        "o_orderkey",
        u(F.radians(deg)).alias("rad_u"),
        u(F.sin(F.radians(deg))).alias("sin_u"),
        u(F.cos(F.radians(deg))).alias("cos_u"),
        u(
            F.atan2(
                (F.col("o_orderkey") % 7).cast("double"),
                (F.col("o_orderkey") % 11 + 1).cast("double"),
            )
        ).alias("bearing_u"),
        u(F.degrees(F.atan((F.col("o_orderkey") % 5).cast("double")))).alias(
            "slope_deg_u"
        ),
    )


@register(
    "fn_datetime_bucket",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS bucket_start,
           event_type,
           count(*)                AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def fn_datetime_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-interval time bucketing via F.window (15-minute tumbling) —
    the time-series rollup primitive. The window start IS the epoch
    floor (start = floor(epoch/900)*900), which the oracle replays in
    integer arithmetic; emitting the bucket as epoch seconds (BIGINT)
    keeps the contract timezone-free. Partial-aggregable: the shuffle
    carries one row per (bucket, type) per map task."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "15 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
            "n_users",
        )
    )


@register(
    "fn_variant",
    oracle="""
    SELECT event_id,
           event_type AS vt,
           CAST(json_extract(props, '$.k') AS BIGINT) AS vk,
           user_id AS vuser,
           CAST(NULL AS BIGINT) AS vmissing
    FROM events
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT round-trip: build a nested JSON document per event
    (type tag, the numeric prop extracted from props, an id array), parse
    it into the open semi-structured VARIANT type, and read typed paths
    back out with variant_get — including an array index and a
    try_variant_get miss that must yield NULL, not an error. VARIANT is
    Spark's answer to schema-on-read at scale (binary-encoded, no
    per-row JSON re-parse downstream); the oracle checks the round-trip
    identity: every extracted path must equal the column it was built
    from. Pure per-row projection, no shuffle."""
    ev = load_table(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
            F.array("event_id", "user_id").alias("ids"),
        )
    )
    v = F.parse_json(doc)
    return ev.select(
        "event_id",
        F.variant_get(v, "$.t", "string").alias("vt"),
        F.variant_get(v, "$.k", "long").alias("vk"),
        F.variant_get(v, "$.ids[1]", "long").alias("vuser"),
        F.try_variant_get(v, "$.missing", "long").alias("vmissing"),
    )


@register(
    "fn_try_arith",
    oracle="""
    SELECT event_id,
           round(CASE WHEN user_id % 5 = 0 THEN NULL
                      ELSE CAST(event_id AS DOUBLE) / (user_id % 5) END,
                 6) AS td,
           CASE WHEN event_id % 1009 = 0 THEN
                  CASE WHEN event_id = 0 THEN 2147483647 ELSE NULL END
                ELSE event_id + 1 END AS ta,
           CAST(CASE WHEN user_id % 3 = 0 THEN NULL
                     ELSE TRY_CAST(CAST(CAST(value AS DECIMAL(18,2))
                                        AS VARCHAR) AS DECIMAL(18,2)) END
                AS DOUBLE) AS tn,
           CASE WHEN user_id % 4 = 0 THEN user_id
                WHEN user_id % 4 = 1 THEN event_id
                ELSE NULL END AS te
    FROM events
    """,
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe TRY family: try_divide (division by zero →
    NULL, never an exception), try_add (INT overflow → NULL; the
    2147483647 addend fires only on the rare event_id % 1009 == 0 rows —
    Spark's try_ functions catch a JVM ArithmeticException per
    overflowing row, ~20µs/row, so rare overflow is both the realistic
    shape and the fast one; event_id 0 pins the exact INT_MAX boundary
    as the non-overflow case),
    try_to_number (unparseable string → NULL; the parseable branch
    round-trips value through a DECIMAL(18,2) string), and
    try_element_at (out-of-bounds index → NULL; index 0 is excluded —
    Spark defines it as invalid even under try_, so the probe index is
    shifted to 1..4). This is the contract that makes ANSI mode deployable on
    dirty data at scale: a single bad row degrades to NULL instead of
    failing a 1000-executor stage. The oracle replays each failure
    condition explicitly with CASE. All per-row codegen expressions, no
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    num_str = F.when(
        F.col("user_id") % 3 == 0, F.lit("n/a")
    ).otherwise(F.col("value").cast("decimal(18,2)").cast("string"))
    idx = (F.col("user_id") % 4 + 1).cast("int")
    return ev.select(
        "event_id",
        F.round(
            F.try_divide(F.col("event_id").cast("double"), F.col("user_id") % 5),
            6,
        ).alias("td"),
        F.try_add(
            F.col("event_id").cast("int"),
            F.when(F.col("event_id") % 1009 == 0, 2147483647)
            .otherwise(1)
            .cast("int"),
        )
        .cast("bigint")
        .alias("ta"),
        F.try_to_number(num_str, F.lit("999999999999999.99"))
        .cast("double")
        .alias("tn"),
        F.try_element_at(F.array("user_id", "event_id"), idx).alias("te"),
    )


@register(
    "fn_geo_haversine",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 18000) / 100.0 - 90.0 + 0.005 AS lat,
             (c_custkey % 36000) / 100.0 - 180.0 + 0.005 AS lon
      FROM customer),
    h AS (
      SELECT c_custkey, lat, lon,
             2.0 * 6371000.0 * asin(sqrt(
               sin(radians(48.8566 - lat) / 2) * sin(radians(48.8566 - lat) / 2)
               + cos(radians(lat)) * cos(radians(48.8566))
                 * sin(radians(2.3522 - lon) / 2)
                 * sin(radians(2.3522 - lon) / 2))) AS d
      FROM pts)
    SELECT c_custkey,
           CAST(floor(lat * 1000 + 0.5) AS BIGINT) AS lat_milli,
           CAST(floor(lon * 1000 + 0.5) AS BIGINT) AS lon_milli,
           CAST(floor(d + 0.5) AS BIGINT) AS dist_m
    FROM h
    """,
)
def fn_geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle (haversine) distance — the geo primitive of
    region-aware resource analytics. Coordinates are synthesized from the
    key (finite domain); the distance to a fixed reference point runs
    through sin/cos/asin/sqrt with IDENTICAL association on both engines
    and is emitted in guard-banded whole meters (floor(d + 0.5)).

    Same libm-safety argument as fn_trig, re-audited for this domain:
    over all 15k key-derived coordinates the closest value to a
    half-meter boundary is 1.1e-4 m, while worst-case cross-libm drift
    of the composed expression is a few ulps (~1e-8 m at 2e7 m) — four
    orders of magnitude of margin. Zero shuffles; the whole operator is
    one codegen projection."""
    customer = load_table(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") % 18000) / 100.0 - 90.0 + 0.005
    lon = (F.col("c_custkey") % 36000) / 100.0 - 180.0 + 0.005
    pts = customer.select(
        "c_custkey", lat.alias("lat"), lon.alias("lon")
    )
    sdlat = F.sin(F.radians(F.lit(48.8566) - F.col("lat")) / 2)
    sdlon = F.sin(F.radians(F.lit(2.3522) - F.col("lon")) / 2)
    a = sdlat * sdlat + F.cos(F.radians("lat")) * F.cos(
        F.radians(F.lit(48.8566))
    ) * sdlon * sdlon
    d = F.lit(2.0) * 6371000.0 * F.asin(F.sqrt(a))
    return pts.select(
        "c_custkey",
        F.floor(F.col("lat") * 1000 + 0.5).cast("bigint").alias("lat_milli"),
        F.floor(F.col("lon") * 1000 + 0.5).cast("bigint").alias("lon_milli"),
        F.floor(d + 0.5).cast("bigint").alias("dist_m"),
    )


@register(
    "fn_uuid_deterministic",
    oracle="""
    WITH h AS (
      SELECT o_orderkey,
             md5('order-ns:' || CAST(o_orderkey AS VARCHAR)) AS hx
      FROM orders)
    SELECT o_orderkey,
           substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-'
             || '5' || substr(hx, 14, 3) || '-'
             || CASE WHEN (strpos('0123456789abcdef', substr(hx, 17, 1)) - 1)
                          % 4 = 0 THEN '8'
                     WHEN (strpos('0123456789abcdef', substr(hx, 17, 1)) - 1)
                          % 4 = 1 THEN '9'
                     WHEN (strpos('0123456789abcdef', substr(hx, 17, 1)) - 1)
                          % 4 = 2 THEN 'a'
                     ELSE 'b' END || substr(hx, 18, 3) || '-'
             || substr(hx, 21, 12) AS surrogate_uuid
    FROM h
    """,
)
def fn_uuid_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key minting: a name-based (UUIDv5-style)
    UUID from md5('namespace:' || natural key) with the version nibble
    forced to 5 and the variant nibble folded into 8/9/a/b — the idiom
    for stable cross-system entity ids that survive re-collection
    (Spark's uuid() is random per row per execution and useless for
    joins). md5 hex is identical across engines, so both mint identical
    ids. Pure codegen string slicing, zero shuffles."""
    orders = load_table(spark, sf_dir, "orders")
    hx = F.md5(F.concat(F.lit("order-ns:"), F.col("o_orderkey").cast("string")))
    h = orders.select("o_orderkey", hx.alias("hx"))
    nib = F.instr(F.lit("0123456789abcdef"), F.substring("hx", 17, 1)) - 1
    variant = (
        F.when(nib % 4 == 0, F.lit("8"))
        .when(nib % 4 == 1, F.lit("9"))
        .when(nib % 4 == 2, F.lit("a"))
        .otherwise(F.lit("b"))
    )
    return h.select(
        "o_orderkey",
        F.concat(
            F.substring("hx", 1, 8),
            F.lit("-"),
            F.substring("hx", 9, 4),
            F.lit("-5"),
            F.substring("hx", 14, 3),
            F.lit("-"),
            variant,
            F.substring("hx", 18, 3),
            F.lit("-"),
            F.substring("hx", 21, 12),
        ).alias("surrogate_uuid"),
    )
