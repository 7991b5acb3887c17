"""Degenerate-fixture oracle pins (VERDICT r10 item 5).

The ANSI zero-denominator class — a ratio whose denominator is zero
only on degenerate data — surfaced twice in r10 by hand; r11's
systematic sweep (tools/degencheck.py, full registry vs the DuckDB
oracle on a fixture where EVERY degeneracy holds at once) found 24
more: zero-norm cosines, zero-variance corr/covar, empty permutation
arms, single-class AUC folds, empty k-fold training complements,
no-split boosting rounds, zero-span TWAP groups, zero-weight Neyman
allocations, None-observed metrics, NULL PSI cuts, DuckDB's
NULL-on-empty list functions, and binaryFile's silent zero-byte drop.

This test pins every one of those fixes: it rebuilds the degenerate
star schema and replays each previously-failing operator against its
DuckDB oracle under a HOSTILE session (Asia/Kolkata + ANSI re-set
before every query) — any regression of a guard is a loud FAIL here,
not a latent off-gate crash. The full-registry sweep stays a
once-per-round tool run (CLAUDE.md gates); this subset keeps the
class pinned in every pytest run at ~1/10 the cost.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every operator the r11 degencheck discovery run flagged (plus the
# two r10 hand-finds), i.e. the regression surface of this bug class,
# and the five JVM-side series folds, whose slice length reaches 0 on
# the fixture's one-day event series (GARCH's seed needs two days).
DEGEN_PINNED = [
    "agg_chi2_independence",
    "agg_corr_covar",
    "agg_permutation_test",
    "dedup_embedding_cosine",
    "dedup_semantic_cluster",
    "dq_distribution_drift",
    "fn_map",
    "incr_ann_upsert",
    "ml_auc_roc",
    "ml_gbm_stumps",
    "ml_kfold_cv",
    "ml_kmeans_refine",
    "ml_kmeans_silhouette",
    "ml_knn_classify",
    "ml_threshold_tuning",   # the r10 hand-find (empty-fold recall)
    "obs_observe_metrics",
    "sample_neyman",
    "scan_binary_files",
    "sim_knn_join",
    "sim_knn_join_recall",
    "sim_search_ivf_recall",
    "sim_search_ivfpq",
    "sim_search_ivfpq_recall",
    "ts_croston_forecast",
    "ts_garch_volatility",   # a one-day series has no return: no row
    "ts_holt_forecast",
    "ts_holt_winters",
    "ts_kalman_filter",
    "ts_twap",
    "ts_wavelet_haar",       # the r10 hand-find (zero energy share)
]


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        f"{name}_tool", os.path.join(REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def degen_dir(tmp_path_factory):
    dc = _load_tool("degencheck")
    if not os.path.isdir(dc.SRC_SF):
        pytest.skip(
            f"degenerate-fixture dims source {dc.SRC_SF} absent — set "
            "SPARK_GRAFT_DEGEN_SRC to a generated sf dir"
        )
    out = str(tmp_path_factory.mktemp("degen") / "sf")
    dc.build_fixture(out)
    return out


@pytest.fixture(scope="module")
def degen_duck(degen_dir):
    from agri_market_data_pipeline_spark.schemas import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(degen_dir, t + '.parquet')}'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", DEGEN_PINNED)
def test_degenerate_fixture_stays_oracle_green(
    name, spark, degen_dir, degen_duck
):
    import __spark_entry__ as entrymod

    sc = _load_tool("selfcheck")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # the hostile re-poison: the guard must hold under ANSI, where an
    # unguarded zero denominator is a hard error instead of NaN/NULL
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        sdf = qs[name](spark, degen_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    finally:
        spark.conf.unset("spark.sql.session.timeZone")
        spark.conf.unset("spark.sql.ansi.enabled")

    rel = degen_duck.sql(oracles[name])
    ocols = [d[0] for d in rel.description]
    orows = rel.fetchall()
    assert sorted(scols) == sorted(ocols), (scols, ocols)
    assert len(srows) == len(orows), (len(srows), len(orows))
    assert sc.canon(srows, scols) == sc.canon(orows, ocols)


def test_kcenter_coreset_on_empty_embeddings(spark, sf_dir, tmp_path):
    """An empty embeddings table has no seed vector: sample_kcenter_coreset
    returns 0 rows, as its oracle does, instead of failing on the None
    the seed Observation reports."""
    import __spark_entry__ as entrymod

    src = os.path.join(sf_dir, "embeddings.parquet")
    dst = os.path.join(str(tmp_path), "embeddings.parquet")
    con = duckdb.connect()
    con.sql(f"COPY (SELECT * FROM '{src}' LIMIT 0) TO '{dst}' (FORMAT PARQUET)")
    sdf = entrymod.queries()["sample_kcenter_coreset"](spark, str(tmp_path))
    assert sdf.columns == ["sel_order", "vec_id", "radius_lat", "radius"]
    assert sdf.collect() == []
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{dst}'")
    assert con.sql(entrymod.oracle_sql()["sample_kcenter_coreset"]).fetchall() == []
    con.close()
