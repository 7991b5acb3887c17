"""Ingestion-parity operators: the reference's Layer-A dataflow pieces
exposed as oracle-checkable queries (SURVEY.md §2.A cast_date_coerce,
cast_double_coerce, filter_required_nonnull, df_from_records,
group_partition_by_key, scan_csv; §2.B sink_delta_upsert).

The cleaning expressions themselves live in functions/cleaning.py; here
each is exercised on driver testdata with injected dirt (the oracle
injects identical dirt), so the coerce/null/drop semantics of
fetch_data.py:146-156 are hash-verified, not just unit-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import (
    cast_date_coerce,
    cast_double_coerce,
    filter_required_nonnull,
)
from ..functions.exact import dsum, sql_dsum
from ..memo import pin
from ..registry import query
from ..tables import load, mirror
from .scalar_fns import safe_name


@query(
    "cast_date_coerce",
    oracle="""
WITH raw AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 97 = 0 THEN 'not-a-date'
                ELSE strftime(o_orderdate, '%d/%m/%Y') END AS date_str
    FROM orders
)
SELECT CAST(EXTRACT(YEAR FROM try_strptime(date_str, '%d/%m/%Y')) AS INT) AS yr,
       COUNT(*) AS cnt,
       CAST(SUM(CASE WHEN try_strptime(date_str, '%d/%m/%Y') IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
FROM raw
GROUP BY 1
""",
)
def op_cast_date_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dd/MM/yyyy dayfirst parse with null-on-failure
    (pd.to_datetime(..., dayfirst=True, errors='coerce'),
    fetch_data.py:149-153): dates are serialized to Indian format with
    ~1% corrupted, re-parsed with try-semantics, failures counted."""
    o = load(spark, sf_dir, "orders")
    raw = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("o_orderdate", "dd/MM/yyyy"))
        .alias("date_str"),
    )
    parsed = cast_date_coerce("date_str")
    return raw.groupBy(F.year(parsed).cast("int").alias("yr")).agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(parsed.isNull(), 1).otherwise(0)).cast("bigint").alias("n_failed"),
    )


@query(
    "cast_double_coerce",
    oracle=f"""
WITH raw AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 97 = 0 THEN 'n/a'
                ELSE CAST(o_totalprice AS VARCHAR) END AS price_str
    FROM orders
)
SELECT COUNT(*) AS cnt,
       CAST(SUM(CASE WHEN TRY_CAST(price_str AS DOUBLE) IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_failed,
       {sql_dsum("TRY_CAST(price_str AS DOUBLE)")} AS sum_parsed
FROM raw
""",
)
def op_cast_double_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.to_numeric(errors='coerce') parity (fetch_data.py:154): string
    prices (with injected junk) try_cast back to double; both engines'
    double→string→double round trip is exact (shortest-repr
    serialization both ways)."""
    o = load(spark, sf_dir, "orders")
    raw = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("n/a"))
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("price_str"),
    )
    parsed = cast_double_coerce("price_str")
    return raw.agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(parsed.isNull(), 1).otherwise(0)).cast("bigint").alias("n_failed"),
        dsum(parsed).alias("sum_parsed"),
    )


@query(
    "filter_required_nonnull",
    oracle="""
WITH dirty AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 53 = 0 THEN NULL ELSE o_orderstatus END AS status,
           CASE WHEN o_orderkey % 71 = 0 THEN NULL ELSE o_totalprice END AS price
    FROM orders
)
SELECT COUNT(*) AS n_kept
FROM dirty
WHERE status IS NOT NULL AND price IS NOT NULL
""",
)
def op_filter_required_nonnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropna(subset=...) parity (fetch_data.py:156) over injected nulls
    in the two mandatory fields."""
    o = load(spark, sf_dir, "orders")
    dirty = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 53 == 0, None)
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        F.when(F.col("o_orderkey") % 71 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    return filter_required_nonnull(dirty, ("status", "price")).agg(
        F.count("*").alias("n_kept")
    )


@query(
    "df_from_records",
    oracle="""
SELECT event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT) * 2) AS BIGINT)
           AS sum_k2
FROM events
GROUP BY event_type
""",
)
def op_df_from_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-DataFrame construction from raw JSON records — the
    reference's pd.DataFrame(records) (fetch_data.py:146) with an
    explicit schema instead of inference: from_json parses the wire IR
    once into a typed struct, downstream expressions are fully typed."""
    ev = load(spark, sf_dir, "events")
    rec = F.from_json("props", "k INT")
    return (
        ev.select("event_type", rec.alias("rec"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("rec.k") * 2).cast("bigint").alias("sum_k2"),
        )
    )


@query(
    "group_partition_by_key",
    oracle="""
SELECT regexp_replace(
           regexp_replace(lower(trim(p_type)), '[^\\w\\s-]', '', 'g'),
           '\\s+', '_', 'g') AS partition_dir,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT p_brand) AS n_brands
FROM part
GROUP BY 1
""",
)
def op_group_partition_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-for-layout (fetch_data.py:158-159): the routing table
    from partition-key value to its safe_name'd directory — what
    df.write.partitionBy computes implicitly; exposed so the layout is
    auditable before a 100 TB write."""
    p = load(spark, sf_dir, "part")
    return p.groupBy(safe_name("p_type").alias("partition_dir")).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("p_brand").alias("n_brands"),
    )


@query(
    "sink_delta_upsert",
    oracle="""
SELECT user_id, event_type, ts AS last_ts, value AS last_value
FROM (
    SELECT user_id, event_type, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) t
WHERE rn = 1
""",
)
def op_sink_delta_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE-result view: latest row per business key — what
    sources/sinks.merge_upsert materializes (Delta MERGE INTO in
    production, keep-latest parquet rewrite as the fallback). Verifying
    the view verifies the upsert's keep-latest semantics; the physical
    write path is pinned in tests/test_ingest.py."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


def _csv_mirror(spark: SparkSession, sf_dir: str) -> str:
    """CSV mirror of lineitem (the reference's storage format,
    SURVEY.md §1.2) for the CSV-scan operator, via tables.mirror."""

    def write(out: str) -> None:
        load(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_returnflag",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("l_shipdate"),
        ).write.mode("overwrite").option("header", True).csv(out)

    return mirror(spark, sf_dir, "csv", ("lineitem",), write)


@query(
    "scan_csv",
    oracle=f"""
SELECT l_returnflag,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
       COUNT(*) AS cnt,
       {sql_dsum("l_extendedprice")} AS sum_price
FROM lineitem
GROUP BY 1, 2
""",
)
def op_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema'd CSV scan in PERMISSIVE mode with a corrupt-record column
    — the reference's storage format read the schema-on-read way
    (SURVEY.md §2.B scan_csv). The oracle reads the parquet original:
    matching proves the CSV round trip (incl. shortest-repr doubles and
    ISO dates) is lossless. Rows failing the schema would land in
    _corrupt instead of silently coercing — pandas' failure mode
    replaced by an auditable one."""
    path = _csv_mirror(spark, sf_dir)
    schema = (
        "l_orderkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_returnflag string, l_shipdate date, "
        "_corrupt string"
    )
    # pin BEFORE filtering on _corrupt: without it, column pruning
    # parses only the projected columns and corruption in the others
    # silently passes as clean (cf. tests/test_csv_corrupt.py)
    df = pin(
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path),
        eager=False,
    )
    return (
        df.filter(F.col("_corrupt").isNull())
        .groupBy(
            "l_returnflag", F.year("l_shipdate").cast("int").alias("ship_year")
        )
        .agg(F.count("*").alias("cnt"), dsum("l_extendedprice").alias("sum_price"))
    )


def _orc_mirror(spark: SparkSession, sf_dir: str) -> str:
    """ORC mirror of lineitem — the second columnar format of the
    source layer (scan_parquet's sibling), via tables.mirror."""

    def write(out: str) -> None:
        load(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_returnflag",
            "l_shipdate",
        ).write.mode("overwrite").orc(out)

    return mirror(spark, sf_dir, "orc", ("lineitem",), write)


@query(
    "scan_orc",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS cnt,
       {sql_dsum("l_extendedprice")} AS sum_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01'
GROUP BY l_returnflag
""",
)
def op_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar ORC scan — same pushdown story as scan_parquet (the
    `.explain` shows PushedFilters + a 3-column ReadSchema against the
    ORC reader) proving the source layer is format-plural: parquet, CSV,
    JSON and ORC all feed the same declarative plans. The oracle reads
    the parquet original, so a match also proves the ORC round trip is
    lossless (vectorized ORC reader, zero Python involvement)."""
    path = _orc_mirror(spark, sf_dir)
    df = spark.read.orc(path)
    return (
        df.filter(F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"), dsum("l_extendedprice").alias("sum_price")
        )
    )
