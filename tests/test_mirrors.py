"""Fixture mirrors and write-once layouts follow their source: after
lineitem/orders change on disk, every mirror-backed query must read the
new data, in the same process (tables.mirror keys each mirror on the
source fingerprint; memo.cached keys the bucketed tables on it). The
vintage sweep that removes mirrors of an older source is pinned on the
filesystem alone."""

from __future__ import annotations

import os
import re
import tempfile
import time

import duckdb

from agri_market_data_pipeline_spark.tables import mirror

MIRRORED = [
    "scan_csv",
    "scan_orc",
    "scan_xml",
    "scan_partition_pruned",
    "sink_compact_files",
    "scan_manifest_skipped",
    "join_bucketed",
]


def test_mirrors_follow_a_source_rewrite(spark, sf_dir, tmp_path, monkeypatch):
    import __spark_entry__ as entrymod
    from tools.selfcheck import canon

    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    sf = tmp_path / "sf"
    sf.mkdir()
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    try:
        for every in (4, 8):  # the rewrite keeps half the rows
            for t, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
                src = os.path.join(sf_dir, f"{t}.parquet")
                con.sql(
                    f"COPY (SELECT * FROM '{src}' WHERE {key} % {every} = 0) "
                    f"TO '{sf / (t + '.parquet')}' (FORMAT PARQUET)"
                )
                con.sql(
                    f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{sf / (t + '.parquet')}'"
                )
            for name in MIRRORED:
                df = qs[name](spark, str(sf))
                rel = con.sql(oracles[name])
                got = canon([tuple(r) for r in df.collect()], df.columns)
                want = canon(rel.fetchall(), [d[0] for d in rel.description])
                assert got == want, (name, every)
    finally:
        con.close()
        tag = re.sub(r"[^A-Za-z0-9]+", "_", str(sf).strip("/"))
        spark.sql(f"DROP TABLE IF EXISTS li_bkt_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS o_bkt_{tag}")


def test_mirror_sweeps_only_older_vintages_of_its_own_slot(tmp_path, monkeypatch):
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    sf = tmp_path / "d[1]*" / "sf0.01"  # glob metacharacters in the path
    sf.mkdir(parents=True)
    src = sf / "lineitem.parquet"
    src.write_bytes(b"v1")
    writes = []

    def write(out: str) -> None:
        writes.append(out)
        os.makedirs(out, exist_ok=True)

    first = mirror(None, str(sf), "csv", ("lineitem",), write)
    assert os.path.exists(os.path.join(first, "_SUCCESS"))
    assert mirror(None, str(sf), "csv", ("lineitem",), write) == first
    assert writes == [first], "a complete mirror is not rewritten"

    prefix = first.rsplit("_", 1)[0]
    two_hours_ago = time.time() - 2 * 3600
    old, young = prefix + "_" + "0" * 12, prefix + "_" + "1" * 12
    sibling = prefix + "_v2_" + "2" * 12  # another sf dir's live mirror
    for d in (old, young, sibling):
        os.makedirs(d)
    for d in (old, sibling, first):
        os.utime(d, (two_hours_ago, two_hours_ago))

    src.write_bytes(b"v2, a new vintage")
    second = mirror(None, str(sf), "csv", ("lineitem",), write)
    assert second != first and writes == [first, second]
    assert not os.path.exists(old) and not os.path.exists(first)
    assert os.path.isdir(young) and os.path.isdir(sibling)
    assert os.path.exists(os.path.join(second, "_SUCCESS"))

    os.remove(os.path.join(second, "_SUCCESS"))  # a crashed write
    assert mirror(None, str(sf), "csv", ("lineitem",), write) == second
    assert writes == [first, second, second]
