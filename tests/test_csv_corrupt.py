"""PERMISSIVE-mode corrupt-record capture: the engine's replacement for
pandas' silent coercion (SURVEY.md §1.2) — malformed rows land in the
_corrupt column instead of poisoning typed columns or crashing."""

from __future__ import annotations

from pyspark.sql import functions as F

from agri_market_data_pipeline_spark.memo import pin


def test_corrupt_rows_are_captured_not_dropped(spark, tmp_path):
    p = tmp_path / "dirty.csv"
    p.write_text(
        "id,qty,d\n"
        "1,10.5,2023-01-15\n"
        "2,not-a-number,2023-01-16\n"   # qty fails the double type
        "3,7.25,31/12/2023\n"           # date fails ISO parse
        "4,8.0,2023-02-01\n"
    )
    # scan_csv's shape: a lazy pin before the _corrupt filter. Without
    # it, a projection that leaves the bad columns out parses only the
    # projected ones and lets their corruption pass as clean.
    df = pin(
        spark.read.schema("id int, qty double, d date, _corrupt string")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(str(p)),
        eager=False,
    )
    rows = df.collect()
    assert len(rows) == 4  # nothing silently dropped
    bad = df.filter(F.col("_corrupt").isNotNull()).collect()
    assert {r.id for r in bad} == {2, 3}
    good = df.filter(F.col("_corrupt").isNull()).collect()
    assert {r.id for r in good} == {1, 4}
    assert {r.qty for r in good} == {10.5, 8.0}
    projected = df.filter(F.col("_corrupt").isNull()).select("id").collect()
    assert {r.id for r in projected} == {1, 4}
