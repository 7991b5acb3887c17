"""Property-based tests (hypothesis): the cleaning contract holds for
arbitrary inputs, not just the profiled ones."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Pure-Python twin of the reference's safe_name (fetch_data.py:36-40
# semantics, re-expressed from the SURVEY description): lower, trim,
# drop [^\w\s-], collapse whitespace to _.


def safe_name_py(text: str) -> str:
    s = text.lower().strip()
    s = re.sub(r"[^\w\s-]", "", s)
    s = re.sub(r"\s+", "_", s)
    return s


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=40,
    )
)
def test_safe_name_spark_matches_python(spark, rows):
    from agri_market_data_pipeline_spark.operators.scalar_fns import safe_name

    df = spark.createDataFrame([(r,) for r in rows], ["c"])
    got = [r.s for r in df.select(safe_name("c").alias("s")).collect()]
    assert got == [safe_name_py(r) for r in rows]


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.one_of(
            st.from_regex(r"[0-3]?\d/[01]?\d/\d{4}", fullmatch=True),
            st.text(alphabet="0123456789/ab-", min_size=0, max_size=12),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_date_coerce_never_throws_and_nulls_invalid(spark, rows):
    """errors='coerce' parity: any string either parses as dd/MM/yyyy or
    becomes null — the pipeline never raises on dirty feed data."""
    from agri_market_data_pipeline_spark.functions.cleaning import cast_date_coerce

    df = spark.createDataFrame([(r,) for r in rows], ["d"])
    out = df.select(cast_date_coerce("d").alias("d")).collect()
    assert len(out) == len(rows)  # no crash, row-for-row


def test_ohlc_bar_invariants(spark, sf_dir):
    """Every OHLC bar satisfies low ≤ {open, close} ≤ high, and the
    bar's quote count is positive — the algebraic contract of the
    downsampling regardless of data distribution."""
    from agri_market_data_pipeline_spark.registry import all_queries

    rows = all_queries()["ts_ohlc"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.low_price <= r.open_price <= r.high_price
        assert r.low_price <= r.close_price <= r.high_price
        assert r.n_quotes >= 1


def test_pareto_share_invariants(spark, sf_dir):
    """Cumulative shares are strictly increasing in rank order, end at
    exactly 1.0, and the A/B/C classes are contiguous prefixes."""
    from agri_market_data_pipeline_spark.registry import all_queries

    rows = all_queries()["win_pareto_share"](spark, sf_dir).collect()
    rows.sort(key=lambda r: r.cum_share)
    prev = 0.0
    for r in rows:
        assert r.cum_share > prev
        prev = r.cum_share
    assert abs(rows[-1].cum_share - 1.0) < 1e-12
    classes = [r.abc_class for r in rows]
    assert classes == sorted(classes)  # A-block, then B, then C


def test_reservoir_k_exact_group_sizes(spark, sf_dir):
    """Each stratum yields exactly min(k, |stratum|) rows and the pick
    is stable across two independent evaluations (determinism)."""
    from agri_market_data_pipeline_spark.operators.reshape import _RESERVOIR_K
    from agri_market_data_pipeline_spark.registry import all_queries
    from agri_market_data_pipeline_spark.tables import load

    q = all_queries()["sample_reservoir_k"]
    got = {(r.c_nationkey, r.c_custkey) for r in q(spark, sf_dir).collect()}
    again = {(r.c_nationkey, r.c_custkey) for r in q(spark, sf_dir).collect()}
    assert got == again
    sizes = {}
    for nk, _ in got:
        sizes[nk] = sizes.get(nk, 0) + 1
    full = dict(
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .count()
        .collect()
    )
    for nk, n in full.items():
        assert sizes.get(nk, 0) == min(_RESERVOIR_K, n)


def test_kmeans_refine_conserves_membership(spark, sf_dir):
    """Both assignment passes partition the whole corpus: memberships
    sum to the corpus size before and after refinement, and every seed
    cell exists in the output."""
    from agri_market_data_pipeline_spark.operators.similarity import _KM_K
    from agri_market_data_pipeline_spark.registry import all_queries
    from agri_market_data_pipeline_spark.tables import load

    rows = all_queries()["ml_kmeans_refine"](spark, sf_dir).collect()
    n = load(spark, sf_dir, "embeddings").count()
    assert sorted(r.cell_id for r in rows) == list(range(_KM_K))
    assert sum(r.n_seeded for r in rows) == n
    assert sum(r.n_refined for r in rows) == n


@given(
    seq=st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=1, max_size=12),
    pair=st.tuples(
        st.sampled_from(["a", "b", "ab", "c"]), st.sampled_from(["a", "b", "ab", "c"])
    ),
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bpe_fold_matches_python_reference(spark, seq, pair):
    """The codegen'd merge fold must match the canonical left-to-right
    non-overlapping rewrite on arbitrary sequences — including the
    overlap trap (aaa with merge (a,a) → [aa, a], not [aa, aa])."""
    from pyspark.sql import functions as F

    from agri_market_data_pipeline_spark.operators.textstats import (
        _bpe_apply_merge,
    )

    a, b = pair
    out, i = [], 0
    while i < len(seq):
        if i < len(seq) - 1 and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1

    df = spark.createDataFrame([(seq,)], "seq array<string>")
    got = df.select(
        _bpe_apply_merge("seq", f"'{a}'", f"'{b}'").alias("m")
    ).collect()[0].m
    assert got == out, (seq, pair, got, out)


@given(
    lat1=st.floats(min_value=8.0, max_value=35.9999),
    lon1=st.floats(min_value=68.0, max_value=96.9999),
    # second point drawn as a DELTA so nearly every example lands in the
    # near-R regime where the lemma could actually fail (uniform pairs
    # over the box are >300 km apart ~97% of the time)
    dlat=st.floats(min_value=-3.6, max_value=3.6),
    dlon=st.floats(min_value=-4.2, max_value=4.2),
)
@settings(max_examples=3000, deadline=None)
def test_geo_cell_containment_lemma(lat1, lon1, dlat, dlon):
    lat2 = min(max(lat1 + dlat, 8.0), 35.9999)
    lon2 = min(max(lon1 + dlon, 68.0), 96.9999)
    return _geo_lemma_body(lat1, lon1, lat2, lon2)


def _geo_lemma_body(lat1, lon1, lat2, lon2):
    """The radius join's correctness rests on a geometric lemma, not on
    testdata: any two points of the subcontinent box within R km must
    land in the same or ADJACENT grid cells (|Δcell| <= 1 on each
    axis) — otherwise the 3x3 probe would silently miss true
    neighbors. hypothesis attacks the lemma directly over the
    continuous box (the DuckDB oracle can only test it on the md5
    lattice)."""
    import math

    from agri_market_data_pipeline_spark.operators.geo import (
        _CELL_LAT_DEG,
        _CELL_LON_DEG,
        _EARTH_2R,
        _LAT_BASE,
        _LON_BASE,
        _R_KM,
    )

    sdphi = math.sin(math.radians(lat2 - lat1) / 2)
    sdlam = math.sin(math.radians(lon2 - lon1) / 2)
    a = sdphi * sdphi + math.cos(math.radians(lat1)) * math.cos(
        math.radians(lat2)
    ) * sdlam * sdlam
    d = _EARTH_2R * math.asin(math.sqrt(min(1.0, a)))
    if d > _R_KM:
        return  # lemma only constrains true neighbors
    cy1 = math.floor((lat1 - _LAT_BASE) / _CELL_LAT_DEG)
    cy2 = math.floor((lat2 - _LAT_BASE) / _CELL_LAT_DEG)
    cx1 = math.floor((lon1 - _LON_BASE) / _CELL_LON_DEG)
    cx2 = math.floor((lon2 - _LON_BASE) / _CELL_LON_DEG)
    assert abs(cy1 - cy2) <= 1, (lat1, lat2, d)
    assert abs(cx1 - cx2) <= 1, (lon1, lon2, d)


def test_spark_dot_and_cosine_expr_bit_identical_to_python_reference(spark):
    """spark_dot_expr/spark_cosine_expr, the one builder of every
    similarity score, must produce doubles BIT-identical to a pure-Python
    reference of the same float ops: each element rounded to float32,
    widened to float64, the products folded left to right from 0.0,
    math.sqrt norms and the zero-norm → 0.0 guard. Checked on
    adversarial vectors: negatives, zeros, extreme magnitudes, and a
    zero-norm vector (cosine 0.0, never a division)."""
    import math
    import struct

    from pyspark.sql import functions as F

    from agri_market_data_pipeline_spark.functions.vectors import (
        spark_cosine_expr,
        spark_dot_expr,
    )

    vecs = [
        ([1.0, 2.0, -3.5, 0.25], [4.0, -1.0, 2.0, 8.0]),
        ([0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 1.0, 1.0]),
        ([1e-30, -1e30, 3.14159, -2.71828], [1e30, 1e-30, 1.0, -1.0]),
        ([0.1, 0.2, 0.3, 0.4], [0.4, 0.3, 0.2, 0.1]),
    ]

    def f32(x):
        return struct.unpack("<f", struct.pack("<f", x))[0]

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + f32(x) * f32(y)
        return s

    def cosine(a, b):
        denom = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
        return dot(a, b) / denom if denom > 0 else 0.0

    def bits(x):
        return struct.pack("<d", x)

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(vecs)],
        "i int, a array<float>, b array<float>",
    )
    rows = df.select(
        "i",
        F.expr(spark_dot_expr("a", "b")).alias("dot"),
        F.expr(spark_cosine_expr("a", "b")).alias("cos"),
    ).collect()
    assert len(rows) == len(vecs)
    for r in rows:
        a, b = vecs[r.i]
        assert bits(r.dot) == bits(dot(a, b)), (r.i, r.dot, dot(a, b))
        assert bits(r.cos) == bits(cosine(a, b)), (r.i, r.cos, cosine(a, b))
