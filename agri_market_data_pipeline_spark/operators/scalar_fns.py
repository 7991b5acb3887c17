"""Scalar-function suites (SURVEY.md §2.B fn_*).

fn_string reproduces the reference's only scalar function — `safe_name`
(lower, trim, strip [^\\w\\s-], whitespace→_, fetch_data.py:36-40) — as a
pure built-in chain (no UDF). The rest are the date/math/conditional/
array/json suites the data model needs. Everything stays inside
whole-stage codegen; cross-engine float drift is handled by ROUNDing
transcendental results on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load


def safe_name(col: Column | str) -> Column:
    """The reference's partition-key normalizer (fetch_data.py:36-40):
    lowercase, trim, delete [^\\w\\s-], collapse whitespace to '_'.
    e.g. "Bhindi(Ladies Finger)" -> "bhindiladies_finger"."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(c)), r"[^\w\s-]", ""), r"\s+", "_"
    )


@query(
    "fn_safe_name",
    oracle="""
SELECT p_partkey,
       regexp_replace(
           regexp_replace(lower(trim(p_name)), '[^\\w\\s-]', '', 'g'),
           '\\s+', '_', 'g') AS safe_name
FROM part
""",
)
def fn_safe_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`safe_name` applied to part names — byte-for-byte the reference's
    partition-file naming semantics (fetch_data.py:36-40), as a codegen'd
    regexp chain (no Python in the hot path)."""
    p = load(spark, sf_dir, "part")
    return p.select("p_partkey", safe_name("p_name").alias("safe_name"))


@query(
    "fn_string",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS upper_name,
       substring(p_name, 1, 4) AS prefix4,
       concat(p_brand, ':', p_type) AS brand_type,
       length(p_name) AS name_len,
       len(string_split(p_name, ' ')) AS n_tokens,
       levenshtein(p_brand, 'Brand#13') AS lev_to_b13,
       replace(p_type, 'ECONOMY', 'ECO') AS type_short
FROM part
""",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String suite: case, substring, concat, length, tokenize-count,
    edit distance, replace — all JVM built-ins."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("upper_name"),
        F.substring("p_name", 1, 4).alias("prefix4"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.size(F.split("p_name", " ")).cast("long").alias("n_tokens"),
        F.levenshtein("p_brand", F.lit("Brand#13")).cast("long").alias("lev_to_b13"),
        F.regexp_replace("p_type", "ECONOMY", "ECO").alias("type_short"),
    )


@query(
    "fn_date",
    oracle="""
SELECT o_orderkey,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mon,
       CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS dom,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT)
           AS days_to_2002,
       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
       last_day(CAST(o_orderdate AS DATE)) AS month_end
FROM orders
""",
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time suite: extraction, truncation, arithmetic — the
    Arrival_Date manipulations of the price table (SURVEY.md §2.B
    fn_date)."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("int").alias("yr"),
        F.month(d).cast("int").alias("mon"),
        F.dayofmonth(d).cast("int").alias("dom"),
        F.date_trunc("month", d).alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date"))
        .cast("int")
        .alias("days_to_2002"),
        F.add_months(d.cast("date"), 3).alias("plus3m"),
        F.last_day(d.cast("date")).alias("month_end"),
    )


@query(
    "fn_math",
    oracle="""
SELECT l_orderkey,
       l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS net_price,
       abs(l_discount - l_tax) AS disc_tax_gap,
       round(ln(l_extendedprice), 6) AS log_price,
       round(sqrt(l_quantity), 6) AS sqrt_qty,
       greatest(l_discount, l_tax) AS max_rate,
       least(l_discount, l_tax) AS min_rate,
       CAST(ceil(l_quantity / 10.0) AS BIGINT) AS qty_decile,
       CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS price_bucket
FROM lineitem
""",
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math suite (price-band checks of SURVEY.md §2.B fn_math).
    Transcendentals (ln) are ROUNDed on both sides — JVM and C math
    libraries may differ in the last ulp; sqrt is IEEE-exact."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # scale-4 round: price×(1−discount) has ≤4 intrinsic decimal digits,
        # so no value sits on a rounding tie (scale-2 would hit .xx5 ties
        # where HALF_UP engines and float engines disagree).
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        F.abs(F.col("l_discount") - F.col("l_tax")).alias("disc_tax_gap"),
        F.round(F.log("l_extendedprice"), 6).alias("log_price"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.ceil(F.col("l_quantity") / 10.0).alias("qty_decile"),
        F.floor(F.col("l_extendedprice") / 10000.0).alias("price_bucket"),
    )


@query(
    "fn_conditional",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
            WHEN o_orderpriority = '3-MEDIUM' THEN 'warm'
            ELSE 'cold' END AS priority_class,
       coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm,
       CASE WHEN o_totalprice > 200000 THEN o_totalprice ELSE 0.0 END AS big_price
FROM orders
""",
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif — the Grade-normalization shape
    (SURVEY.md §2.B fn_conditional)."""
    o = load(spark, sf_dir, "orders")
    pr = F.col("o_orderpriority")
    return o.select(
        "o_orderkey",
        F.when(pr.isin("1-URGENT", "2-HIGH"), "hot")
        .when(pr == "3-MEDIUM", "warm")
        .otherwise("cold")
        .alias("priority_class"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_norm"
        ),
        F.when(F.col("o_totalprice") > 200000, F.col("o_totalprice"))
        .otherwise(F.lit(0.0))
        .alias("big_price"),
    )


@query(
    "fn_array_map",
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       round(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS self_dot,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
       round(list_sum(list_transform(embedding[1:8],
             x -> CAST(x AS DOUBLE))), 6) AS head_sum
FROM embeddings
""",
)
def fn_array_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on the embedding column — size,
    transform+aggregate (self dot product), element access, slice — all
    without a UDF (SURVEY.md §2.B fn_array_map). The same
    transform/aggregate shape computes pairwise dot products in the
    similarity operators."""
    e = load(spark, sf_dir, "embeddings")
    as_double = "transform(embedding, x -> CAST(x AS DOUBLE))"
    sq = "transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"

    def fold(arr: str) -> str:
        return f"aggregate({arr}, 0.0D, (s, x) -> s + x)"

    return e.selectExpr(
        "vec_id",
        "CAST(size(embedding) AS BIGINT) AS dim",
        f"round({fold(sq)}, 6) AS self_dot",
        f"round(element_at({as_double}, 1), 6) AS first_elem",
        f"round({fold(f'slice({as_double}, 1, 8)')}, 6) AS head_sum",
    )


@query(
    "fn_map",
    oracle="""
SELECT event_id,
       -- COALESCEs: DuckDB's array_to_string/list_sum return NULL on
       -- an EMPTY list where Spark's array_join/aggregate return
       -- ''/0 — an empty props map ({}) must read as empty, not
       -- missing, on both engines (degencheck)
       COALESCE(array_to_string(json_keys(props), ','), '') AS keys_csv,
       CAST(len(json_keys(props)) AS INT) AS n_keys,
       CAST(COALESCE(list_sum(list_transform(json_keys(props),
            kk -> CAST(json_extract_string(props, '$.' || kk) AS BIGINT))), 0)
        AS BIGINT) AS sum_values
FROM events
""",
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType operations (SURVEY.md §2.B fn_array_map's 'map ops on
    props'): parse the JSON payload into a typed map once, then
    map_keys / size / value aggregation — all codegen'd. The map form is
    what you use when the JSON keys are open-ended (vs from_json to a
    struct when the schema is known, df_from_records)."""
    from ..tables import load_parallel

    ev = load_parallel(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.size(F.map_keys(m)).cast("int").alias("n_keys"),
        F.expr(
            "aggregate(map_values(from_json(props, 'map<string,bigint>')), "
            "CAST(0 AS BIGINT), (s, x) -> s + x)"
        ).alias("sum_values"),
    )


@query(
    "fn_json",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) >= 50
            THEN 'high' ELSE 'low' END AS k_band
FROM events
""",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from `events.props` (the raw-API-record
    analog, fetch_data.py:80) — `get_json_object` evaluates JVM-side; at
    scale prefer `from_json` with an explicit schema once the shape is
    known, so the parse happens once per row."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.when(k >= 50, "high").otherwise("low").alias("k_band"),
    )


_URL_HOST = r"^[a-z]+://([^/?#]+)"
_URL_PATH = r"^[a-z]+://[^/?#]+([^?#]*)"
_URL_QPARAM = r"[?&]q=([^&#]*)"


@query(
    "fn_url",
    oracle=f"""
WITH u AS (
  SELECT event_id,
         'https://api.data.gov.in/resource/mandi?format=json&q=' ||
         event_type || '&offset=' || event_id % 1000 AS url
  FROM events
)
SELECT event_id,
       regexp_extract(url, '{_URL_HOST}', 1) AS host,
       regexp_extract(url, '{_URL_PATH}', 1) AS path,
       regexp_extract(url, '{_URL_QPARAM}', 1) AS q_param
FROM u
""",
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition (host / path / query param) with regexp groups
    — the reference's own endpoint shape (fetch_data.py:14-15) built
    per-row then parsed back. Spark's dedicated `parse_url` is
    JVM-only; the regexp form keeps the oracle bit-identical (same
    pattern text, same group indices on both engines) and stays in
    whole-stage codegen. The patterns are RE2∩Java-safe (no
    lookaround)."""
    ev = load(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://api.data.gov.in/resource/mandi?format=json&q="),
        F.col("event_type"),
        F.lit("&offset="),
        (F.col("event_id") % 1000).cast("string"),
    )
    u = ev.select("event_id", url.alias("url"))
    return u.select(
        "event_id",
        F.regexp_extract("url", _URL_HOST, 1).alias("host"),
        F.regexp_extract("url", _URL_PATH, 1).alias("path"),
        F.regexp_extract("url", _URL_QPARAM, 1).alias("q_param"),
    )


@query(
    "fn_bitwise",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(l_orderkey & 255 AS BIGINT) AS and_lo,
       CAST(l_orderkey | 4096 AS BIGINT) AS or_hi,
       CAST(xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS BIGINT) AS xored,
       CAST(l_orderkey << 3 AS BIGINT) AS shl3,
       CAST(l_orderkey >> 3 AS BIGINT) AS shr3,
       CAST(bit_count(l_orderkey) AS BIGINT) AS popcnt
FROM lineitem
WHERE l_orderkey % 997 = 0
""",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar suite — and/or/xor, shifts, popcount — exact
    integer semantics both engines share bit-for-bit. Not decoration:
    these are the primitives the engine's sketch operators are built
    from (simhash/phash band extraction, LSH bucket flips, packed
    ordering keys), here pinned as a first-class cross-engine
    contract."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 997 == 0)
    key = F.col("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        key.bitwiseAND(F.lit(255)).cast("long").alias("and_lo"),
        key.bitwiseOR(F.lit(4096)).cast("long").alias("or_hi"),
        key.bitwiseXOR(F.col("l_linenumber").cast("long")).cast("long").alias("xored"),
        F.shiftleft(key, 3).cast("long").alias("shl3"),
        F.shiftright(key, 3).cast("long").alias("shr3"),
        F.bit_count(key).cast("long").alias("popcnt"),
    )


@query(
    "fn_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.absent') AS INT) AS k_absent,
       CASE WHEN json_extract(props, '$.k') IS NOT NULL
                 AND json_type(json_extract(props, '$.k')) != 'NULL'
            THEN 1 ELSE 0 END
         AS has_k
FROM events
WHERE event_id % 991 = 0
""",
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path extraction: `parse_json` builds the binary
    semi-structured value ONCE per row, then every `variant_get` walks
    the pre-parsed tree — unlike `get_json_object` (fn_json), which
    re-parses the JSON text per extraction. At 100 TB with many
    extractions per record that single-parse property is the difference
    between one and N parse passes over the payload bytes; VARIANT is
    also a storable column type, so the parse can move to ingest time
    entirely. `try_variant_get` on a missing path yields NULL instead
    of erroring — the oracle twin is DuckDB's JSON extraction, which
    shares that semantics."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 991 == 0)
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.absent", "int").alias("k_absent"),
        F.when(
            ~F.is_variant_null(F.try_variant_get(v, "$.k", "variant"))
            & F.try_variant_get(v, "$.k", "variant").isNotNull(),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("has_k"),
    )


@query(
    "fn_collation",
    oracle="""
WITH mangled AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
              ELSE event_type END AS et
  FROM events
)
SELECT lower(et) AS event_type_ci, COUNT(*) AS cnt
FROM mangled GROUP BY 1
""",
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation-aware grouping: the key is COLLATE'd
    UNICODE_CI, so 'VIEW' and 'view' land in one group with no
    normalization pass over the data — comparisons, joins, and sorts
    all honor the collation at the type level (mixed-case feeds, the
    reference's free-text commodity/state names). The emitted key is
    re-canonicalized with lower() because a CI group's representative
    is whichever spelling an engine sees first — correct-but-
    nondeterministic, exactly like an unordered collect — while the
    oracle (DuckDB) expresses the same query the pre-collation way:
    group by lower(). Under the hood Spark hashes the collation's sort
    key, so the exchange still partitions correctly at any scale."""
    ev = load(spark, sf_dir, "events")
    mangled = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.upper("event_type"))
        .otherwise(F.col("event_type"))
        .alias("et")
    )
    return (
        mangled.groupBy(F.collate("et", "UNICODE_CI").alias("k"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.lower(F.col("k")).cast("string").alias("event_type_ci"), "cnt"
        )
    )


@query(
    "fn_try_arithmetic",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_tax - l_discount != 0
            THEN l_extendedprice / (l_tax - l_discount) END AS safe_ratio,
       CASE WHEN l_quantity != 0
            THEN CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) %
                      CAST(FLOOR(l_quantity) AS BIGINT) AS BIGINT) END AS safe_mod,
       CAST(NULL AS BIGINT) AS overflow_guard
FROM lineitem
WHERE l_orderkey % 997 = 0
""",
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: Spark 4 runs with ANSI mode ON, so /0, %0
    and integer overflow are hard errors mid-job — at 100 TB a single
    degenerate row kills hour-long queries. The try_* family returns
    NULL for exactly those rows instead, keeping the pipeline total
    while preserving ANSI semantics everywhere else. try_divide's
    divisor here (tax − discount) genuinely hits zero in the data;
    try_multiply guards a deliberate bigint overflow (maxvalue × key).
    The oracle spells the same semantics the pre-ANSI way (guarding
    CASE), which is exactly the boilerplate try_* replaces."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 997 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_extendedprice", F.col("l_tax") - F.col("l_discount")).alias(
            "safe_ratio"
        ),
        # explicit FLOOR before the integer cast: Spark's double→long cast
        # truncates while DuckDB's rounds — floor is the shared spelling
        F.try_mod(
            F.floor("l_extendedprice").cast("long"),
            F.floor("l_quantity").cast("long"),
        ).alias("safe_mod"),
        F.try_multiply(F.lit(9223372036854775807), F.col("l_orderkey") + 2)
        .alias("overflow_guard"),
    )
