"""Graph analytics over a trade graph aggregated from the fact tables.

The graph: nodes are nations; a directed edge (supplier-nation →
customer-nation, weight = line count) exists for every lineitem whose
supplier and customer sit in those nations. This is the canonical
distributed-graph shape — the EDGE LIST is built by fact-scale joins
and aggregation (the expensive, shuffle-bearing part that Catalyst
plans), while the iterative algorithm then runs on the aggregated
graph, which is orders of magnitude smaller than the facts.

Determinism across engines (the registry's rules, applied to iterative
float algorithms): PageRank runs entirely on an INTEGER lattice —
ranks are BIGINT micro-units, per-edge contributions are exact floor
divisions, damping is integer multiply-then-divide — so every round is
bit-identical on Spark and DuckDB regardless of join order, partition
count, or float fold order. The float rank is recovered at the end as
rank_u / 1e6 exactly.

Reference parity: the reference (fetch_data.py) has no graph operator;
this module extends the §2.B capability closure's analytics family with
the textbook algorithms — damped power-iteration PageRank and the
sorted-orientation edge-join triangle count — expressed as relational
dataflow (the Pregel-on-relational-engines shape: per-round join of
vertex state to the edge list + aggregate of messages).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import pin
from ..registry import query
from ..tables import load, max_column_value, max_group_count

_PR_ROUNDS = 5
_PR_UNIT = 1_000_000  # rank micro-units: 1.0 == 1e6


_EDGE_SQL = """
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed weighted edge list (src nation → dst nation, line count).

    The lineitem↔orders join shuffles on orderkey; customer and supplier
    are dimension-sized so Catalyst broadcasts them. Output is ≤ n², a
    few hundred rows — the facts are reduced before any iteration."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )


def _pagerank_sql(rounds: int) -> str:
    """DuckDB twin: the power iteration unrolled into a CTE chain
    (r0 → r1 → … — same technique as similarity._ivf_sql). All-integer
    arithmetic; `//` is floor division on BIGINTs (all values here are
    non-negative, so it agrees with Spark's `div`)."""
    ctes = [
        f"e AS ({_EDGE_SQL})",
        "wout AS (SELECT src, SUM(w) AS wo FROM e GROUP BY src)",
        f"r0 AS (SELECT n_nationkey AS node, CAST({_PR_UNIT} AS BIGINT) AS ru"
        "  FROM nation)",
    ]
    for i in range(1, rounds + 1):
        prev = f"r{i - 1}"
        ctes.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST(150000 + (85 * COALESCE(SUM((r.ru * e.w) // w2.wo), 0)) // 100
              AS BIGINT) AS ru
  FROM r0 n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN {prev} r ON r.node = e.src
  LEFT JOIN wout w2 ON w2.src = e.src
  GROUP BY n.node)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT nat.n_name AS nation, r.ru AS rank_u
FROM r{rounds} r JOIN nation nat ON nat.n_nationkey = r.node"""
    )


@query("graph_pagerank", oracle=_pagerank_sql(_PR_ROUNDS))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph: {_PR_ROUNDS} damped power-
    iteration rounds (d = 0.85) on the integer lattice. Per round, node
    s sends floor(rank_u[s]·w/wout[s]) micro-units along each out-edge
    and every node restarts from 150 000 µu plus 85% of its inbox —
    exact BIGINT arithmetic end to end, so the iteration is engine- and
    order-independent (no float fold divergence to ROUND away).

    Scale shape: the fact-side work is ONE edge-list aggregation; the
    nation-grain graph (≤ 25² edges at ANY corpus size — constant
    cardinality) then folds to a single row and the whole
    {_PR_ROUNDS}-round power iteration runs as ONE array-aggregate
    expression (the ts_croston O(1)-carried-state discipline: when the
    loop state is grain-bounded, fold the recursion JVM-side instead
    of paying per-round driver jobs). r12 measured the alternatives at
    sf0.1: per-round eager checkpoints = 34 driver jobs / ~1.9 s;
    checkpoint-free lazy loop = quadratic AQE replanning / ~2.5 s;
    this fold = one action, ~0.6 s. On an OPEN-domain graph (web
    scale) the state is data-proportional and the classic
    join-per-round loop with per-round materialization returns —
    dedup_cluster keeps that shape. Dangling mass: nodes with no
    out-edges leak their rank (the simplified formulation) —
    identically on both engines (per-edge terms and the damped update
    are the SAME exact-BIGINT ops as the r11 join-per-round form,
    evaluated in the same order per node)."""
    # e feeds wout AND the join below — materialize the ≤n²-row edge
    # aggregate once so the fact-scale pass never re-executes (Spark
    # shares no subplan results; AQE exchange reuse is best-effort).
    e = pin(_edges(spark, sf_dir))
    wout = e.groupBy("src").agg(F.sum("w").alias("wo"))
    ew = e.join(wout, "src")
    nd_row = load(spark, sf_dir, "nation").agg(
        F.expr(
            "sort_array(collect_list(struct(n_nationkey AS node,"
            " n_name AS nation)))"
        ).alias("nd")
    )
    # per-edge endpoint INDEXES into the sorted node array, resolved
    # once here (not per round); an endpoint outside the node table
    # drops, exactly like the r11 inner joins against the rank frame.
    es_row = (
        ew.crossJoin(F.broadcast(nd_row))
        .select(
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), src)"
                " AS INT)"
            ).alias("si"),
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), dst)"
                " AS INT)"
            ).alias("di"),
            "w",
            "wo",
        )
        .filter("si > 0 AND di > 0")
        .agg(F.expr("collect_list(struct(si, di, w, wo))").alias("es"))
    )
    # The fold: accumulator = the rank array aligned to nd. aggregate's
    # accumulator is a bound VALUE at each step (never re-evaluated),
    # so total work is rounds × nodes × edges interpreted ops — NOT the
    # exponential re-evaluation a chained-projection form would get
    # after ProjectCollapse inlining.
    fold = f"""
aggregate(
  sequence(1, {_PR_ROUNDS}),
  transform(nd, x -> CAST({_PR_UNIT} AS BIGINT)),
  (ru, rnd) -> transform(nd, (x, i) ->
    CAST(150000 + (85 * aggregate(
        filter(es, ed -> ed.di = i + 1),
        CAST(0 AS BIGINT),
        (s, ed) -> s + (element_at(ru, ed.si) * ed.w) div ed.wo
    )) div 100 AS BIGINT)))
"""
    return (
        nd_row.join(F.broadcast(es_row))
        .select("nd", F.expr(fold).alias("ru"))
        .select(F.expr("explode(arrays_zip(nd, ru))").alias("z"))
        .select(
            F.col("z.nd.nation").alias("nation"),
            F.col("z.ru").alias("rank_u"),
        )
    )


_TRI_SQL = f"""
WITH d AS MATERIALIZED ({_EDGE_SQL}),
u AS MATERIALIZED (
  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM d WHERE src != dst
  GROUP BY 1, 2
),
t AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM u e1
  JOIN u e2 ON e2.a = e1.b
  JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT nat.n_name AS nation, COUNT(*) AS n_triangles
FROM (SELECT x AS node FROM t UNION ALL SELECT y FROM t
      UNION ALL SELECT z FROM t) m
JOIN nation nat ON nat.n_nationkey = m.node
GROUP BY nat.n_name
"""


@query("graph_triangle_count", oracle=_TRI_SQL)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation in the undirected trade graph —
    the standard edge-join algorithm: orient every edge low→high
    (each triangle then exists in exactly ONE orientation x<y<z, so
    no divide-by-six), join edges to wedges, close wedges against the
    edge list, then explode each triangle to its three corners.

    Scale shape: the two joins shuffle on node id; the classic skew
    fix (high-degree vertex ordering — orient by degree instead of id
    so hubs never anchor wedges) applies unchanged when the graph
    itself is large. Here the edge list is nation-sized; the expensive
    part, building it from the facts, is the same aggregation
    graph_pagerank plans."""
    d = _edges(spark, sf_dir)
    u = pin(
        d.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        # one explicit fact pass: u feeds three join legs — without the
        # checkpoint the fact-scale edge build appears three times in
        # the plan (graph_pagerank's argument)
    )
    e1 = u.alias("e1")
    e2 = u.alias("e2")
    e3 = u.alias("e3")
    t = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    corners = (
        t.select(F.col("x").alias("node"))
        .unionAll(t.select(F.col("y").alias("node")))
        .unionAll(t.select(F.col("z").alias("node")))
    )
    nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), F.col("n_name").alias("nation")
    )
    return (
        corners.join(F.broadcast(nat), "node")
        .groupBy("nation")
        .agg(F.count("*").alias("n_triangles"))
    )


_DEG_SQL = f"""
WITH e AS ({_EDGE_SQL})
SELECT nat.n_name AS nation,
       CAST(COALESCE(o.deg_out, 0) AS BIGINT) AS deg_out,
       CAST(COALESCE(i.deg_in, 0) AS BIGINT) AS deg_in,
       CAST(COALESCE(o.w_out, 0) AS BIGINT) AS w_out,
       CAST(COALESCE(i.w_in, 0) AS BIGINT) AS w_in
FROM nation nat
LEFT JOIN (SELECT src, COUNT(*) AS deg_out, SUM(w) AS w_out
           FROM e GROUP BY src) o ON o.src = nat.n_nationkey
LEFT JOIN (SELECT dst, COUNT(*) AS deg_in, SUM(w) AS w_in
           FROM e GROUP BY dst) i ON i.dst = nat.n_nationkey
"""


@query("graph_degree_stats", oracle=_DEG_SQL)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In/out degree and weighted degree per nation — the graph's
    profile card (dq_profile for edges): two aggregations of the edge
    list outer-joined back to the node table so isolated nodes appear
    with zeros rather than vanishing."""
    e = _edges(spark, sf_dir)
    o = e.groupBy("src").agg(
        F.count("*").alias("deg_out"), F.sum("w").alias("w_out")
    )
    i = e.groupBy("dst").agg(
        F.count("*").alias("deg_in"), F.sum("w").alias("w_in")
    )
    nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), F.col("n_name").alias("nation")
    )
    return (
        nat.join(o, nat.node == o.src, "left")
        .join(i, nat.node == i.dst, "left")
        .select(
            "nation",
            F.coalesce("deg_out", F.lit(0)).alias("deg_out"),
            F.coalesce("deg_in", F.lit(0)).alias("deg_in"),
            F.coalesce("w_out", F.lit(0)).alias("w_out"),
            F.coalesce("w_in", F.lit(0)).alias("w_in"),
        )
    )


_CC_ROUNDS = 4


def _cc_sql(rounds: int) -> str:
    ctes = [
        f"d AS MATERIALIZED ({_EDGE_SQL})",
        """u AS MATERIALIZED (
  SELECT src, dst FROM d WHERE src != dst
  UNION SELECT dst, src FROM d WHERE src != dst
  UNION SELECT n_nationkey, n_nationkey FROM nation)""",
        "l0 AS (SELECT n_nationkey AS node, n_nationkey AS lbl FROM nation)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""l{i} AS (
  SELECT u.src AS node, MIN(l.lbl) AS lbl
  FROM u JOIN l{i - 1} l ON l.node = u.dst
  GROUP BY u.src)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT nat.n_name AS nation,
       CAST(r.lbl AS BIGINT) AS component,
       CAST(COUNT(*) OVER (PARTITION BY r.lbl) AS BIGINT) AS comp_size
FROM l{rounds} r JOIN nation nat ON nat.n_nationkey = r.node"""
    )


@query("graph_connected_components", oracle=_cc_sql(_CC_ROUNDS))
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the undirected trade graph by
    {_CC_ROUNDS}-round min-label propagation — the graph-analytics face
    of the machinery dedup_cluster runs on document pairs, here as a
    first-class oracle-checked query (the loop unrolled into a CTE
    chain, graph_pagerank's technique). Each round every node takes the
    MIN label over its closed neighborhood; labels are exact integers,
    so every intermediate state is engine-identical. Plain propagation
    converges in diameter rounds — right for this dense nation graph;
    long-chain graphs need dedup_cluster's pointer-jumping variant
    (log-diameter), which is the documented 100 TB escalation path.
    The edge frame is checkpointed once (single fact pass); the loop
    shuffles only nation-sized label frames."""
    d = _edges(spark, sf_dir)
    nodes = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    nd = d.filter(F.col("src") != F.col("dst"))
    u = pin(
        nd.select("src", "dst")
        .union(nd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .union(nodes.select(F.col("node").alias("src"), F.col("node").alias("dst")))
        .distinct()
    )
    lbl = nodes.withColumn("lbl", F.col("node"))
    for _ in range(_CC_ROUNDS):
        lbl = pin(
            u.join(F.broadcast(lbl), u.dst == lbl.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("lbl").alias("lbl"))
        )
    nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), F.col("n_name").alias("nation")
    )
    w = Window.partitionBy("lbl")
    return (
        lbl.join(F.broadcast(nat), "node")
        .select(
            "nation",
            F.col("lbl").cast("long").alias("component"),
            F.count("*").over(w).cast("long").alias("comp_size"),
        )
    )


# ---------------------------------------------------------------------------
# Bipartite projection (co-occurrence graph from a two-mode relation)

_BP_TOP = 50  # projected edges reported (top by weight, deterministic)
# Hub guard: a customer's candidate pairs grow quadratically in their
# distinct-part degree, so one hub key (a marketplace account, a bot)
# can dominate the whole self-join. Degree-cap each customer to their
# _BP_DEGREE_CAP smallest part ids (deterministic selection) BEFORE the
# pair join: candidate pairs per customer ≤ C(cap, 2) regardless of
# data. The cap is far above this generator's bound (orders-per-customer
# × lines-per-order — 24×17=408 at sf0.1), so at the gate's data the
# capped plan is bit-identical to the uncapped one — the SAME cap is in
# the oracle SQL, so the semantics match cross-engine at ANY data.
# The rank pass itself is CONDITIONAL (VERDICT r5: it cost an extra
# exchange+sort per consumer at data where it never binds): a memoized
# one-row pre-agg proves degree ≤ orders-per-customer × lines-per-order
# ≤ cap and skips the window entirely; only data that might bind the
# cap pays for it. tests/test_new_ops.py plants a hub customer (bound
# fails → window taken) and pins the cap.
_BP_DEGREE_CAP = 1024


def _bp_capped_cust_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (cust, part) with per-customer degree capped to the
    _BP_DEGREE_CAP smallest part ids — rank pass skipped when a cheap
    single-table upper bound proves the cap can't bind."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    # r12 (guide §2.4): the distinct (cust, part) frame feeds BOTH
    # sides of the pair self-join — without the checkpoint each side
    # re-executed the whole scan + broadcast-join + distinct subtree
    # (2 fact scans, 6 exchanges — see
    # plans/r12/graph_bipartite_projection_before.txt). The lazy
    # localCheckpoint materializes it once; the self-join then
    # re-shuffles only the narrow 2-column grain frame. (A pre-distinct
    # repartition("cust") would NOT help: localCheckpoint does not
    # preserve outputPartitioning in Spark 4.1 — measured r12 — and it
    # would defeat the map-side partial distinct.)
    cp0 = pin(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct(),
        eager=False,
    )
    # degree(cust) = |distinct parts| ≤ orders-per-customer ×
    # lines-per-order, each a memoized single-column partial-agg max —
    # no join, no window, one row back to the driver.
    bound = max_group_count(spark, sf_dir, "orders", "o_custkey") * max_group_count(
        spark, sf_dir, "lineitem", "l_orderkey"
    )
    if bound <= _BP_DEGREE_CAP:
        return cp0
    w = Window.partitionBy("cust").orderBy("part")
    return (
        cp0.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _BP_DEGREE_CAP)
        .drop("_rn")
    )


@query(
    "graph_bipartite_projection",
    oracle=f"""
WITH cp0 AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cp AS (
  SELECT cust, part FROM (
    SELECT cust, part,
           ROW_NUMBER() OVER (PARTITION BY cust ORDER BY part) AS rn
    FROM cp0
  ) WHERE rn <= {_BP_DEGREE_CAP}
),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS weight
  FROM cp a JOIN cp b ON a.cust = b.cust AND a.part < b.part
  GROUP BY 1, 2
)
SELECT part_a, part_b, CAST(weight AS BIGINT) AS weight
FROM pairs
ORDER BY weight DESC, part_a, part_b
LIMIT {_BP_TOP}
""",
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-mode projection of the customer–part purchase bipartite
    graph: parts are linked with weight = number of distinct customers
    who bought both (the co-occurrence/'bought-together' graph that
    feeds item-item recommenders and basket analytics; the projection
    twin of agg_market_basket's order-blocked pairs). Top-50 edges by
    weight, fully tiebroken.

    Scale shape: the self-join is BLOCKED BY CUSTOMER, and each
    customer's degree is HARD-CAPPED at {_BP_DEGREE_CAP} (deterministic
    smallest-part selection, same cap in the oracle SQL) — so candidate
    pairs grow linearly in customers with a C(cap,2) per-key ceiling,
    never all-parts², even when one hub key owns a chunk of the corpus.
    At this generator's data the cap is slack (degree ≤ orders-per-
    customer × lines-per-order ≪ cap), so it costs nothing; the window
    shares the pair join's cust shuffle. Top-k via
    TakeOrderedAndProject — no global sort."""
    cp = _bp_capped_cust_parts(spark, sf_dir)
    # r12: explicit N-way repartition on the join key — AQE coalesces
    # the checkpointed grain frame to ~5 partitions (14 MB advisory),
    # which would run the C(deg,2) pair expansion nearly serially; a
    # fixed-width exchange of the narrow frame restores full
    # parallelism for the expansion+count (measured 3.8 -> 1.3 s warm
    # at sf0.1; guide §2.5 — parallelism for the EXPANSION must be
    # sized to its output, which AQE sizes by its input).
    from ..session import default_parallelism

    cp = cp.repartition(default_parallelism(), "cust")
    a = cp.alias("a")
    b = cp.alias("b")
    # r12 (guide §2.3 — shuffle fewer bytes): the ~13M expanded pairs
    # flow into the count aggregate keyed by ONE packed BIGINT instead
    # of two part columns (part_a·2³² + part_b; part keys ≪ 2³¹, ANSI
    # overflows loudly far beyond any plausible SF). Packing preserves
    # the (part_a, part_b) lexicographic order, so the tiebreak is the
    # packed ascending order and unpacking happens on the final 50
    # rows only. Measured 2.53 → 2.18 s settled median at sf0.1; rows
    # bit-identical.
    pairs = (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .select(
            (F.col("a.part") * F.lit(4294967296) + F.col("b.part")).alias(
                "pk"
            )
        )
        .groupBy("pk")
        .agg(F.count("*").cast("long").alias("weight"))
    )
    return (
        pairs.orderBy(F.desc("weight"), F.asc("pk"))
        .limit(_BP_TOP)
        .select(
            F.expr("CAST(pk div 4294967296 AS BIGINT)").alias("part_a"),
            (F.col("pk") % 4294967296).alias("part_b"),
            "weight",
        )
    )


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_sql(k: int, rounds: int) -> str:
    """DuckDB twin: the peel loop unrolled into a CTE chain (a0 → a1 →
    … — graph_pagerank's technique). The edge threshold SUM(w)/COUNT(*)
    is a ratio of exact integer aggregates, so the pruned edge set is
    engine-identical; every later state is pure integer set algebra."""
    ctes = [
        f"e AS MATERIALIZED ({_EDGE_SQL})",
        "thr AS (SELECT CAST(SUM(w) AS DOUBLE) / COUNT(*) AS t FROM e"
        "  WHERE src != dst)",
        """u AS MATERIALIZED (
  SELECT src, dst FROM e, thr WHERE src != dst AND w >= t
  UNION
  SELECT dst AS src, src AS dst FROM e, thr WHERE src != dst AND w >= t)""",
        "a0 AS (SELECT DISTINCT src AS node FROM u)",
    ]
    for i in range(1, rounds + 1):
        prev = f"a{i - 1}"
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT u.src AS node FROM u
  JOIN {prev} s ON u.src = s.node
  JOIN {prev} d ON u.dst = d.node
  GROUP BY u.src HAVING COUNT(*) >= {k})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT n.n_name AS nation, COUNT(*) AS core_degree
FROM u
JOIN a{rounds} s ON u.src = s.node
JOIN a{rounds} d ON u.dst = d.node
JOIN nation n ON n.n_nationkey = u.src
GROUP BY 1"""
    )


@query("graph_kcore", oracle=_kcore_sql(_KCORE_K, _KCORE_ROUNDS))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition of the thresholded trade graph by iterative
    peeling: keep only edges with above-average weight (the dense
    nation graph's sparsifier — an exact integer-aggregate ratio, so
    both engines prune identically), then repeatedly drop nodes whose
    surviving degree falls below k=3 until the 3-core remains. The
    peel loop is unrolled to 4 rounds on both engines (pagerank's CTE
    technique); each round is pure integer set algebra, so every
    intermediate survivor set is engine-identical, and the fixpoint is
    reached well inside the budget (measured: round 1 at every SF;
    test-pinned: the survivor set at round 4 equals round 3, so an
    insufficient budget fails loudly instead of shipping a half-peeled
    core).
    The k-core is the standard 'structurally engaged subgraph' signal —
    the trading bloc whose members each keep >= k strong partners even
    after weakly-attached nations peel away.

    Scale: the fact scan reduces to the nation-pair edge aggregate
    before any iteration (the module's build-then-iterate shape); each
    peel round shuffles only node-cardinality frames and the edge set
    is broadcast-probed. At web-scale graphs the same loop runs with
    the degree aggregate hash-partitioned by node — still K rounds of
    linear work, the textbook distributed k-core."""
    # e feeds the threshold scalar AND the pruned edge set — one fact
    # pass via the checkpoint (graph_pagerank's discipline).
    e = pin(
        _edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
    )
    thr = e.agg((F.sum("w").cast("double") / F.count("*")).alias("t"))
    ue = (
        e.join(F.broadcast(thr))
        .filter(F.col("w") >= F.col("t"))
        .select("src", "dst")
    )
    u = ue.union(
        ue.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # r12: the node state is nation-grain (constant cardinality by
    # schema), so the whole {_KCORE_ROUNDS}-round peel folds to ONE
    # array-aggregate expression (the ts_croston O(1)-carried-state
    # discipline, see graph_pagerank): alive'[u] = |{edges (u,v):
    # alive[u] ∧ alive[v]}| >= k — exactly the unrolled SQL's
    # a_i = {u : COUNT(u-edges with both endpoints ∈ a_{i-1}) >= k}
    # (a dead u zeroes its own count, keeping the peel monotone). The
    # serving row count of a node is its surviving-edge count against
    # the final alive set; nodes with zero surviving edges emit no row,
    # like the SQL's inner joins. (The r11 window-relaxation form paid
    # 2 node-keyed window exchanges per round.)
    nd_row = load(spark, sf_dir, "nation").agg(
        F.expr(
            "sort_array(collect_list(struct(n_nationkey AS node,"
            " n_name AS nation)))"
        ).alias("nd")
    )
    es_row = (
        u.crossJoin(F.broadcast(nd_row))
        .select(
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), src)"
                " AS INT)"
            ).alias("ui"),
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), dst)"
                " AS INT)"
            ).alias("vi"),
        )
        .filter("ui > 0 AND vi > 0")
        .agg(F.expr("collect_list(struct(ui, vi))").alias("es"))
    )
    fold = f"""
aggregate(
  sequence(1, {_KCORE_ROUNDS}),
  transform(nd, x -> true),
  (al, rnd) -> transform(nd, (x, i) ->
    size(filter(es, ed -> ed.ui = i + 1 AND element_at(al, ed.ui)
                AND element_at(al, ed.vi))) >= {_KCORE_K}))
"""
    cd = (
        "transform(nd, (x, i) -> CAST(size(filter(es, ed ->"
        " ed.ui = i + 1 AND element_at(al, ed.ui)"
        " AND element_at(al, ed.vi))) AS BIGINT))"
    )
    return (
        nd_row.join(F.broadcast(es_row))
        .select("nd", "es", F.expr(fold).alias("al"))
        .select("nd", F.expr(cd).alias("cd"))
        .select(F.expr("explode(arrays_zip(nd, cd))").alias("z"))
        .filter(F.col("z.cd") > 0)
        .select(
            F.col("z.nd.nation").alias("nation"),
            F.col("z.cd").alias("core_degree"),
        )
    )


_LPA_ROUNDS = 4


def _lpa_sql(rounds: int) -> str:
    """DuckDB twin: synchronous label propagation unrolled into a
    MATERIALIZED CTE chain (the graph_kcore lesson — lazy CTEs would
    replay the fact-scale edge build per round). The argmax key
    ws*1024 + (1023 - lbl) is injective in (ws, lbl) for lbl <= 1023,
    so arg_max is tie-free and engine-identical; all arithmetic is
    integer."""
    ctes = _lpa_ctes(rounds)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
       FROM l{rounds} GROUP BY 1)
SELECT nat.n_name AS nation, l.lbl AS community, sz.community_size
FROM l{rounds} l
JOIN sz ON sz.lbl = l.lbl
JOIN nation nat ON nat.n_nationkey = l.node"""
    )


def _lpa_ctes(rounds: int) -> list:
    """The shared LPA CTE chain (edge build + label rounds) — consumed
    by _lpa_sql and by graph_community_modularity's oracle."""
    ctes = [
        f"e AS MATERIALIZED (SELECT * FROM ({_EDGE_SQL}) WHERE src <> dst)",
        """und AS MATERIALIZED (
  SELECT u, v, CAST(SUM(w) AS BIGINT) AS w
  FROM (SELECT src AS u, dst AS v, w FROM e
        UNION ALL SELECT dst AS u, src AS v, w FROM e)
  GROUP BY 1, 2)""",
        "l0 AS (SELECT n_nationkey AS node, CAST(n_nationkey AS BIGINT)"
        " AS lbl FROM nation)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
  SELECT n.node, COALESCE(x.new_lbl, CAST(n.node AS BIGINT)) AS lbl
  FROM (SELECT n_nationkey AS node FROM nation) n
  LEFT JOIN (
    SELECT u, arg_max(lbl, ws * 1024 + (1023 - lbl)) AS new_lbl
    FROM (SELECT und.u AS u, p.lbl AS lbl,
                 CAST(SUM(und.w) AS BIGINT) AS ws
          FROM und JOIN l{i - 1} p ON p.node = und.v
          GROUP BY 1, 2)
    GROUP BY u
  ) x ON x.u = n.node)"""
        )
    return ctes


@query("graph_label_propagation", oracle=_lpa_sql(_LPA_ROUNDS))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected trade graph: every node starts as its own label; each
    round it adopts the label with the greatest total incident edge
    weight among its neighbors (ties to the smallest label via the
    injective packed key ws*1024 + (1023 - lbl) — the CLAUDE.md
    one-BIGINT max_by discipline, which also keeps HashAggregate).
    After 4 synchronous rounds the label is the community id;
    community sizes ride a K-row count. The missing clustering member
    of the graph family: pagerank ranks, k-core filters, connected
    components ignore weights — LPA groups BY weight structure.

    Determinism: weights are line counts (exact BIGINT), the argmax
    key is injective, isolated nodes keep their own label via the
    identical COALESCE both sides — every round is bit-identical on
    both engines, so the oracle is a full value hash (the PageRank
    integer-lattice argument, here with no division at all).

    Scale: the fact-scale work is the one edge-list build (same
    broadcast-dim + orderkey-shuffle plan as graph_pagerank); the node
    state is nation-grain (constant cardinality by schema), so all
    {_LPA_ROUNDS} synchronous rounds fold to ONE array-aggregate
    expression over a one-row label array + edge-index array (the
    ts_croston O(1)-carried-state discipline, see graph_pagerank) —
    per node, the weighted label argmax folds over the node's incident
    edges with the SAME injective ws*1024+(1023−lbl) packed key, so
    every round is bit-identical to the r11 join-per-round form;
    community sizes are an in-array count instead of a label window.
    On an open-domain graph the Pregel-on-relational loop with
    per-round materialization returns (dedup_cluster's shape)."""
    _assert_node_radix(spark, sf_dir, 1024, "graph_label_propagation")
    edges = pin(
        _edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        # feeds both unionAll branches: fact pass runs once
    )
    und = (
        edges.select(
            F.col("src").alias("u"), F.col("dst").alias("v"), "w"
        )
        .unionAll(
            edges.select(
                F.col("dst").alias("u"), F.col("src").alias("v"), "w"
            )
        )
        .groupBy("u", "v")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    nd_row = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    ).agg(F.expr("sort_array(collect_list(struct(node, n_name)))").alias("nd"))
    es_row = (
        und.crossJoin(F.broadcast(nd_row))
        .select(
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), u) AS INT)"
            ).alias("ui"),
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), v) AS INT)"
            ).alias("vi"),
            "w",
        )
        .filter("ui > 0 AND vi > 0")
        .agg(F.expr("collect_list(struct(ui, vi, w))").alias("es"))
    )
    # Per round, per node: let-bind the node's incident edges, then
    # argmax neighbor-label weight via the packed key over the DISTINCT
    # neighbor labels (ws >= 1 whenever a neighbor exists, so the -1
    # init never wins a nonempty fold); no neighbors -> keep own id —
    # the r11 left-join COALESCE.
    fold = f"""
aggregate(
  sequence(1, {_LPA_ROUNDS}),
  transform(nd, x -> CAST(x.node AS BIGINT)),
  (lbl, rnd) -> transform(nd, (x, i) -> element_at(
    transform(array(filter(es, ed -> ed.ui = i + 1)), eu ->
      IF(size(eu) = 0, CAST(x.node AS BIGINT),
         1023 - pmod(aggregate(
             array_distinct(transform(eu, ed -> element_at(lbl, ed.vi))),
             CAST(-1 AS BIGINT),
             (bk, cand) -> greatest(bk,
                 aggregate(filter(eu, ed -> element_at(lbl, ed.vi) = cand),
                           CAST(0 AS BIGINT), (s, ed) -> s + ed.w)
                 * 1024 + (1023 - cand))), 1024))), 1)))
"""
    return (
        nd_row.join(F.broadcast(es_row))
        .select("nd", F.expr(fold).alias("lbl"))
        .select(
            "nd",
            "lbl",
            F.expr(
                "transform(lbl, l -> CAST(size(filter(lbl, m -> m = l))"
                " AS BIGINT))"
            ).alias("cs"),
        )
        .select(F.expr("explode(arrays_zip(nd, lbl, cs))").alias("z"))
        .select(
            F.col("z.nd.n_name").alias("nation"),
            F.col("z.lbl").alias("community"),
            F.col("z.cs").alias("community_size"),
        )
    )


_MSB_ROUNDS = 4  # Boruvka halves components: 25 -> <=12 -> <=6 -> <=3 -> 1
_MSB_JUMPS = 5   # pointer-jumping doublings: 2^5 = 32 > n covers any chain


def _assert_node_radix(
    spark: SparkSession, sf_dir: str, radix: int, op: str
) -> None:
    """Packed argmax keys (LPA's ws*1024+(1023-lbl), Boruvka's base-32
    (w*32+(31-u))*32+(31-v)) are injective only while every node id —
    and hence every label, since labels are always node ids — is
    < radix. Injectivity breaking SILENTLY would surface as
    tie-dependent cross-engine divergence, so a domain change must
    fail loudly at build time instead (ADVICE r8). The scalar is the
    memoized one-row max pre-agg; at 100 TB it comes from the
    metastore's column max statistic."""
    mx = max_column_value(spark, sf_dir, "nation", "n_nationkey")
    if mx >= radix:
        raise ValueError(
            f"{op}: max node id {mx} >= pack radix {radix}; the packed "
            "argmax key would lose injectivity — widen the radix"
        )


def _msb_sql(rounds: int, jumps: int) -> str:
    """DuckDB twin: Boruvka unrolled — per round, every component picks
    its maximum incident cross-component edge by an INJECTIVE packed
    key (w, then smaller u, then smaller v), mutual picks become the
    merge pointers, 2-cycles break toward the smaller label, and
    pointer jumping contracts the merge forest to its roots. All CTEs
    MATERIALIZED (graph_kcore's lesson)."""
    key = "(w * 32 + (31 - u)) * 32 + (31 - v)"
    ctes = [
        f"e0 AS MATERIALIZED (SELECT * FROM ({_EDGE_SQL}) WHERE src <> dst)",
        """e AS MATERIALIZED (
  SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
    SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v, w FROM e0)
  GROUP BY 1, 2)""",
        "c0 AS (SELECT n_nationkey AS node, CAST(n_nationkey AS BIGINT)"
        " AS lbl FROM nation)",
    ]
    picks = []
    for r in range(1, rounds + 1):
        p = f"c{r - 1}"
        ctes.append(f"""ce{r} AS MATERIALIZED (
  SELECT ca.lbl AS ca, cb.lbl AS cb, e.w, e.u, e.v
  FROM e JOIN {p} ca ON ca.node = e.u JOIN {p} cb ON cb.node = e.v
  WHERE ca.lbl <> cb.lbl)""")
        ctes.append(f"""dir{r} AS (
  SELECT ca AS c, cb AS oth, w, u, v FROM ce{r}
  UNION ALL SELECT cb AS c, ca AS oth, w, u, v FROM ce{r})""")
        ctes.append(f"""pick{r} AS MATERIALIZED (
  SELECT c,
         arg_max(oth, {key}) AS oth,
         arg_max(u, {key}) AS u,
         arg_max(v, {key}) AS v,
         arg_max(w, {key}) AS w
  FROM dir{r} GROUP BY c)""")
        ctes.append(f"""p{r}_0 AS MATERIALIZED (
  SELECT cl.lbl AS c, COALESCE(pk.oth, cl.lbl) AS p
  FROM (SELECT DISTINCT lbl FROM {p}) cl
  LEFT JOIN pick{r} pk ON pk.c = cl.lbl)""")
        ctes.append(f"""p{r}_1 AS MATERIALIZED (
  SELECT a.c, CASE WHEN b.p = a.c AND a.c < a.p THEN a.c ELSE a.p END AS p
  FROM p{r}_0 a JOIN p{r}_0 b ON b.c = a.p)""")
        for j in range(2, jumps + 2):
            ctes.append(f"""p{r}_{j} AS MATERIALIZED (
  SELECT a.c, b.p FROM p{r}_{j - 1} a JOIN p{r}_{j - 1} b ON b.c = a.p)""")
        ctes.append(f"""c{r} AS MATERIALIZED (
  SELECT cp.node, pf.p AS lbl
  FROM {p} cp JOIN p{r}_{jumps + 1} pf ON pf.c = cp.lbl)""")
        picks.append(f"SELECT DISTINCT u, v, w FROM pick{r}")
    body = " UNION ".join(picks)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT na.n_name AS nation_a, nb.n_name AS nation_b, m.w
FROM ({body}) m
JOIN nation na ON na.n_nationkey = m.u
JOIN nation nb ON nb.n_nationkey = m.v"""
    )


@query(
    "graph_max_spanning_backbone",
    oracle=_msb_sql(_MSB_ROUNDS, _MSB_JUMPS),
)
def graph_max_spanning_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM spanning tree of the trade graph by distributed Boruvka —
    the strongest-links backbone (which n-1 trade relationships carry
    the network?): per round EVERY component in parallel picks its
    heaviest cross-component edge under one globally injective packed
    key (w, then smaller u, then smaller v — so all comparisons are
    strict and the pointer graph provably has only mutual 2-cycles),
    picks become merge pointers, 2-cycles break toward the smaller
    label, pointer jumping (2^5 doublings) contracts each merge tree
    to its root, and the union of per-round picks is the exact
    maximum spanning forest in ceil(log2 n) rounds. This is THE
    textbook distributed-MST algorithm (Boruvka 1926; the GHS
    lineage) — chosen over Kruskal/Prim precisely because those are
    inherently sequential scans of a globally sorted edge list, while
    Boruvka is per-component parallel argmax + bounded label algebra.
    The pytest pins tree-ness (n-1 edges, acyclic, spanning) AND total
    weight equal to an independent Kruskal run.

    Determinism: weights are exact BIGINT counts; the packed key is
    injective, so arg_max/max_by agree across engines; merging and
    jumping are pure integer label algebra — full value-hash oracle
    with zero rounding (the graph_pagerank integer discipline).

    Scale: facts reduce once to the <=n² edge list (checkpointed —
    Spark-side MATERIALIZED); each round touches edge-list- and
    node-cardinality frames only; rounds and jumps are O(log n). At
    real graph scale the identical algebra runs on (component, edge)
    grain with the same halving guarantee."""
    _assert_node_radix(spark, sf_dir, 32, "graph_max_spanning_backbone")
    e0 = _edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    e = pin(
        e0.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            "w",
        )
        .groupBy("u", "v")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    nodes = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    comp = nodes.select("node", F.col("node").cast("bigint").alias("lbl"))
    key = (F.col("w") * 32 + (31 - F.col("u"))) * 32 + (31 - F.col("v"))
    mst = None
    for _ in range(_MSB_ROUNDS):
        ca = comp.select(F.col("node").alias("ua"), F.col("lbl").alias("ca"))
        cb = comp.select(F.col("node").alias("vb"), F.col("lbl").alias("cb"))
        ce = (
            e.join(ca, e.u == ca.ua)
            .join(cb, e.v == cb.vb)
            .filter(F.col("ca") != F.col("cb"))
            .select("ca", "cb", "w", "u", "v")
        )
        dirb = ce.select(
            F.col("ca").alias("c"), F.col("cb").alias("oth"), "w", "u", "v"
        ).unionAll(
            ce.select(
                F.col("cb").alias("c"), F.col("ca").alias("oth"), "w", "u", "v"
            )
        )
        pick = pin(
            dirb.groupBy("c")
            .agg(
                F.max_by("oth", key).alias("oth"),
                F.max_by("u", key).alias("u"),
                F.max_by("v", key).alias("v"),
                F.max_by("w", key).alias("w"),
            )
        )
        ptr = (
            comp.select("lbl")
            .distinct()
            .join(pick.select("c", "oth"), F.col("c") == F.col("lbl"), "left")
            .select(
                F.col("lbl").alias("c"),
                F.coalesce(F.col("oth"), F.col("lbl")).alias("p"),
            )
        )
        # Each jump level is checkpointed: the lazy form nests ptr into
        # itself per doubling (2^jumps analyzer blowup — the plan never
        # finished analyzing; same class as graph_kcore's lazy-CTE
        # lesson, Spark edition). Frames are component-cardinality, so
        # each checkpoint is a tiny job.
        ptr = pin(ptr)
        b = ptr.select(F.col("c").alias("bc"), F.col("p").alias("bp"))
        ptr = pin(
            ptr.join(b, F.col("bc") == F.col("p"))
            .select(
                "c",
                F.when(
                    (F.col("bp") == F.col("c")) & (F.col("c") < F.col("p")),
                    F.col("c"),
                )
                .otherwise(F.col("p"))
                .alias("p"),
            )
        )
        for _j in range(_MSB_JUMPS):
            b = ptr.select(F.col("c").alias("bc"), F.col("p").alias("bp"))
            ptr = pin(
                ptr.join(b, F.col("bc") == F.col("p"))
                .select("c", F.col("bp").alias("p"))
            )
        # Per-round stats reset — the Spark-side MATERIALIZED, and the
        # r8 hang lesson: Dataset.localCheckpoint REWRITES the
        # LogicalRDD's stats from the child plan, and Catalyst's
        # SizeInBytesOnly visitor MULTIPLIES child sizes at every join,
        # so iterative self-join algebra SQUARES sizeInBytes per level;
        # after rounds x jumps squarings the BigInt carries millions of
        # digits and the stats arithmetic itself hangs the driver
        # (jstack: BigIntIsIntegral.times under
        # rewriteStatsAndConstraints). One parquet round-trip per round
        # restores real file-size stats, so every later BigInt stays
        # small; frames here are component-cardinality, so the write is
        # tiny at any fact scale.
        comp = pin(
            comp.join(ptr, F.col("c") == F.col("lbl")).select(
                "node", F.col("p").alias("lbl")
            ),
            reset_stats=True,
        )
        part = pick.select("u", "v", "w").distinct()
        mst = part if mst is None else mst.unionAll(part)
    mst = mst.distinct()
    na = nodes.select(
        F.col("node").alias("u"), F.col("n_name").alias("nation_a")
    )
    nb = nodes.select(
        F.col("node").alias("v"), F.col("n_name").alias("nation_b")
    )
    return (
        mst.join(F.broadcast(na), "u")
        .join(F.broadcast(nb), "v")
        .select("nation_a", "nation_b", "w")
    )


_KHOP_K = 4    # hop budget: distance beyond k reports -1 (unreached)
_KHOP_TOP = 3  # kNN backbone: each nation keeps its 3 strongest partners
_KHOP_SRC_REGION = "ASIA"  # multi-source frontier: every ASIA nation


def _knn_backbone_sql(top: int) -> str:
    """Oracle CTEs `e`, `knn` and `und` of the kNN backbone: each
    nation keeps its `top` heaviest out-edges (ties to the smaller
    dst), then the undirected pairs. All three are MATERIALIZED, as
    the loops downstream read `und` once per round. Follows `WITH`."""
    return f"""e AS MATERIALIZED (SELECT * FROM ({_EDGE_SQL}) WHERE src <> dst),
knn AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY w * 32 + (31 - dst) DESC) AS rk
    FROM e) WHERE rk <= {top}),
und AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM knn
    UNION ALL SELECT dst AS u, src AS v FROM knn))"""


def _khop_sql(k: int, top: int) -> str:
    """DuckDB twin: kNN-backbone build, then the BFS relaxation
    unrolled — d_{i}(v) = LEAST(d_{i-1}(v), MIN over in-neighbors u of
    d_{i-1}(u) + 1). Every loop CTE is MATERIALIZED because each round
    references the previous distance frame TWICE (as the carry and
    inside the neighbor MIN) — the lazy form replays the upstream
    chain 2^k times (graph_kcore's lesson). LEAST skips NULLs
    identically on both engines, so 'unreached' needs no sentinel
    inside the loop."""
    ctes = [
        _knn_backbone_sql(top),
        f"""d0 AS (
  SELECT n.n_nationkey AS node,
         CASE WHEN r.r_name = '{_KHOP_SRC_REGION}'
              THEN CAST(0 AS BIGINT) END AS dist
  FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey)""",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT p.node, LEAST(p.dist, x.m) AS dist
  FROM d{i - 1} p LEFT JOIN (
    SELECT und.v AS node, CAST(MIN(d.dist) + 1 AS BIGINT) AS m
    FROM und JOIN d{i - 1} d ON d.node = und.u
    GROUP BY und.v) x ON x.node = p.node)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT nat.n_name AS nation, CAST(COALESCE(d.dist, -1) AS BIGINT) AS hops
FROM d{k} d JOIN nation nat ON nat.n_nationkey = d.node"""
    )


@query("graph_khop_distance", oracle=_khop_sql(_KHOP_K, _KHOP_TOP))
def graph_khop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS / k-hop shortest paths — the missing DISTANCE
    member of the graph family (pagerank ranks, triangles/degrees
    count, CC/k-core/LPA cluster, Boruvka spans; nothing measured how
    FAR): hop distance from every {_KHOP_SRC_REGION} nation to every
    node over the kNN trade backbone (each nation's {_KHOP_TOP}
    strongest partners by the injective packed key w*32+(31-dst),
    symmetrized — the dense full graph has diameter ~1 at every SF,
    so distances are computed on the sparse backbone where they carry
    signal). Bounded k = {_KHOP_K} relaxation rounds: d(v) <- min(d(v),
    min_u d(u)+1); nodes beyond k hops report -1 — the k-hop contract
    keeps the round count a CONSTANT, not a diameter-dependent
    unknown, which is what makes the operator schedulable at scale.

    Determinism: the kNN rank key is injective (radix-guarded), hop
    labels are exact BIGINTs, LEAST/MIN skip NULLs identically on both
    engines — full value-hash oracle with zero rounding.

    Scale: facts reduce ONCE to the <=n² edge list; the rank pass runs
    on the edge-list frame. r12: the node state is nation-grain
    (constant cardinality by schema), so the whole {_KHOP_K}-round
    min-relaxation folds to ONE array-aggregate expression over a
    single row (the ts_croston O(1)-carried-state discipline, see
    graph_pagerank) — d(v) <- min(d(v), min_u d(u)+1) with unreached
    = an integer sentinel standing in for the r11 NULL (min skips
    NULLs exactly as least() never picks the sentinel; the final
    CASE maps sentinel -> -1 like the old coalesce). At real graph
    scale the same relaxation shuffles on (u, v) with the frontier as
    a delta frame and per-round materialization."""
    _assert_node_radix(spark, sf_dir, 32, "graph_khop_distance")
    # e feeds both unionAll branches of the symmetrized backbone —
    # materialize the edge aggregate once (fact pass never re-runs).
    e = pin(
        _edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
    )
    wk = Window.partitionBy("src").orderBy(
        (F.col("w") * 32 + (31 - F.col("dst"))).desc()
    )
    knn = (
        e.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _KHOP_TOP)
        .select("src", "dst")
    )
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    nd_row = (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(
            F.col("n_nationkey").alias("node"),
            "n_name",
            (F.col("r_name") == _KHOP_SRC_REGION).alias("is_src"),
        )
        .agg(
            F.expr(
                "sort_array(collect_list(struct(node, n_name, is_src)))"
            ).alias("nd")
        )
    )
    und = (
        knn.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionAll(knn.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    es_row = (
        und.crossJoin(F.broadcast(nd_row))
        .select(
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), u) AS INT)"
            ).alias("ui"),
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), v) AS INT)"
            ).alias("vi"),
        )
        .filter("ui > 0 AND vi > 0")
        .agg(F.expr("collect_list(struct(ui, vi))").alias("es"))
    )
    inf = 1 << 40  # > any reachable hop count; far from int64 overflow
    fold = f"""
aggregate(
  sequence(1, {_KHOP_K}),
  transform(nd, x -> IF(x.is_src, CAST(0 AS BIGINT),
                        CAST({inf} AS BIGINT))),
  (d, rnd) -> transform(nd, (x, i) -> least(
      element_at(d, i + 1),
      aggregate(filter(es, ed -> ed.vi = i + 1), CAST({inf} AS BIGINT),
                (m, ed) -> least(m, element_at(d, ed.ui) + 1)))))
"""
    return (
        nd_row.join(F.broadcast(es_row))
        .select("nd", F.expr(fold).alias("d"))
        .select(F.expr("explode(arrays_zip(nd, d))").alias("z"))
        .select(
            F.col("z.nd.n_name").alias("nation"),
            F.expr(f"CASE WHEN z.d < {inf} THEN z.d ELSE CAST(-1 AS BIGINT)"
                   " END").alias("hops"),
        )
    )


def _modularity_sql(rounds: int) -> str:
    """DuckDB twin: the LPA CTE chain, then Newman modularity of TWO
    partitions — LPA's labels and the region grouping — computed
    ENTIRELY in integers: per (partition, community) the internal
    weight win_c and degree deg_c are BIGINT sums over the doubled
    undirected edge list, and Q = (W·Σwin − Σdeg²)/W² is one division
    of exact integers (the integer-ratio rule: bitwise, unrounded).
    Σ_c deg_c = W per partition by construction."""
    ctes = _lpa_ctes(rounds)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
lbl AS MATERIALIZED (
  SELECT 'lpa' AS part, node, lbl FROM l{rounds}
  UNION ALL
  SELECT 'region' AS part, n_nationkey AS node,
         CAST(n_regionkey AS BIGINT) AS lbl
  FROM nation),
cm AS MATERIALIZED (
  SELECT a.part, a.lbl AS community,
         CAST(SUM(und.w) AS BIGINT) AS deg,
         CAST(COALESCE(SUM(und.w) FILTER (WHERE b.lbl = a.lbl), 0)
              AS BIGINT) AS win
  FROM und
  JOIN lbl a ON a.node = und.u
  JOIN lbl b ON b.node = und.v AND b.part = a.part
  GROUP BY 1, 2)
SELECT part AS partitioning,
       CAST(COUNT(*) AS BIGINT) AS n_communities,
       CAST(SUM(deg) AS BIGINT) AS w_total,
       (CAST(SUM(deg) AS DOUBLE) * CAST(SUM(win) AS DOUBLE)
        - CAST(SUM(deg * deg) AS DOUBLE))
       / (CAST(SUM(deg) AS DOUBLE) * CAST(SUM(deg) AS DOUBLE))
         AS q_modularity
FROM cm GROUP BY part"""
    )


@query("graph_community_modularity", oracle=_modularity_sql(_LPA_ROUNDS))
def graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q — the EVALUATION member of the graph family
    (LPA produces a partition; nothing scored it): Q = Σ_c [win_c/W −
    (deg_c/W)²], positive when a partition holds more weight inside
    communities than a random degree-preserving rewiring would. Scored
    for TWO partitions side by side: LPA's labels (which collapse this
    dense trade graph to ONE community — Q = 0 exactly, itself the
    finding: every nation trades with every nation at these SFs) and
    the REGION grouping (does geography explain trade structure? its
    Q quantifies the answer). Computed as Q = (W·Σwin − Σdeg²)/W² —
    all three sums exact BIGINTs over the doubled undirected edge list
    (W = Σ_c deg_c per partition by construction), so each output is
    one division of exact integers: bitwise identical, NO rounding.

    Scale: rides graph_label_propagation's build (facts reduce once);
    scoring is two broadcast label joins on the ≤n² edge list + a
    K-row agg. At real graph scale this is the convergence metric a
    Louvain loop maximizes — here it audits fixed partitions.

    Headroom: W·Σwin ≤ (2L)²·K stays inside BIGINT-as-double exactness
    until ~1e8-line graphs — widen to DECIMAL(38,0) beyond."""
    lpa = graph_label_propagation(spark, sf_dir)
    nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name", "n_regionkey"
    )
    lbl = pin(
        lpa.join(F.broadcast(nat), lpa.nation == nat.n_name)
        .select(
            F.lit("lpa").alias("part"),
            "node",
            F.col("community").alias("lbl"),
        )
        .unionAll(
            nat.select(
                F.lit("region").alias("part"),
                "node",
                F.col("n_regionkey").cast("bigint").alias("lbl"),
            )
        )
    )
    edges = _edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    und = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"), "w")
        .unionAll(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"), "w")
        )
        .groupBy("u", "v")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    la = lbl.select(
        F.col("part"), F.col("node").alias("u"), F.col("lbl").alias("ca")
    )
    lb = lbl.select(
        F.col("part").alias("pb"),
        F.col("node").alias("v"),
        F.col("lbl").alias("cb"),
    )
    cm = (
        und.join(F.broadcast(la), "u")
        .join(F.broadcast(lb), (lb.pb == F.col("part")) & (lb.v == und.v))
        .groupBy("part", F.col("ca").alias("community"))
        .agg(
            F.sum("w").cast("bigint").alias("deg"),
            F.coalesce(
                F.sum(F.when(F.col("ca") == F.col("cb"), F.col("w"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("win"),
        )
    )
    deg, win = F.col("deg"), F.col("win")
    return cm.groupBy(F.col("part").alias("partitioning")).agg(
        F.count("*").cast("bigint").alias("n_communities"),
        F.sum(deg).cast("bigint").alias("w_total"),
        (
            (
                F.sum(deg).cast("double") * F.sum(win).cast("double")
                - F.sum(deg * deg).cast("double")
            )
            / (F.sum(deg).cast("double") * F.sum(deg).cast("double"))
        ).alias("q_modularity"),
    )


_AA_TOP = 3  # same kNN backbone grain as graph_khop_distance


def _adamic_adar_sql(top: int) -> str:
    """DuckDB twin: kNN-backbone build (graph_khop_distance's CTEs),
    then neighbor-pair generation BLOCKED on the common neighbor w,
    per-term ROUND(9) lattice snap of the transcendental 1/ln(deg)
    BEFORE the DECIMAL sum, and a left-anti edge filter so only
    PREDICTED (non-edge) links survive."""
    return f"""
WITH {_knn_backbone_sql(top)},
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM und GROUP BY 1),
pr AS (
  SELECT a.u AS w, a.v AS x, b.v AS y
  FROM und a JOIN und b ON a.u = b.u AND a.v < b.v),
t AS (
  SELECT pr.x, pr.y,
         CAST(ROUND(1.0 / LN(deg.deg), 9) AS DECIMAL(20,10)) AS term
  FROM pr JOIN deg ON deg.node = pr.w),
agg AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(term) AS DOUBLE) AS aa
  FROM t GROUP BY 1, 2)
SELECT n1.n_name AS nation_u, n2.n_name AS nation_v, agg.cn, agg.aa
FROM agg
LEFT JOIN und ON und.u = agg.x AND und.v = agg.y
JOIN nation n1 ON n1.n_nationkey = agg.x
JOIN nation n2 ON n2.n_nationkey = agg.y
WHERE und.u IS NULL
"""


@query("graph_adamic_adar", oracle=_adamic_adar_sql(_AA_TOP))
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction — the graph family's missing
    PREDICTIVE member (pagerank ranks what IS, khop measures how far,
    LPA/CC cluster; nothing scores what's MISSING): for every non-edge
    pair (u, v) of the kNN trade backbone, AA(u,v) = Σ_{{w ∈
    N(u)∩N(v)}} 1/ln(deg(w)) — common neighbors weighted inversely by
    how promiscuous they are (a shared rare partner is stronger
    evidence than a shared hub; plain common-neighbor counting can't
    tell them apart, which is the cn column emitted beside aa).

    Determinism: backbone edges ride the injective radix-guarded rank
    key; each 1/ln(deg) is a transcendental, so it's snapped to the
    1e-9 lattice (ROUND(9), ties measure-zero) BEFORE the DECIMAL sum
    — the sum is then exact and the double conversion well inside the
    15-digit bitwise span; cn is an exact BIGINT. deg(w)=1 never
    divides by ln(1)=0: a degree-1 node generates no pair.

    Scale: pair generation is BLOCKED on the common neighbor w —
    O(Σ_w deg(w)²), never all-pairs; out-degree is capped at
    {_AA_TOP} by construction, and symmetrized in-degree rides the
    same conditional degree-cap policy as graph_bipartite_projection
    (at this graph's nation grain the max degree is bounded by the
    node count; at open-domain scale add the rank-pass cap gated by
    tables.max_group_count). The anti-join and name joins run on the
    pair frame, which the degree cap bounds."""
    _assert_node_radix(spark, sf_dir, 32, "graph_adamic_adar")
    e = _edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    wk = Window.partitionBy("src").orderBy(
        (F.col("w") * 32 + (31 - F.col("dst"))).desc()
    )
    knn = (
        e.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _AA_TOP)
        .select("src", "dst")
    )
    und = pin(
        knn.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionAll(knn.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    a = und.select(F.col("u").alias("w"), F.col("v").alias("x"))
    b = und.select(F.col("u").alias("w"), F.col("v").alias("y"))
    pr = a.join(b, "w").filter(F.col("x") < F.col("y"))
    t = pr.join(deg, pr.w == deg.node).select(
        "x",
        "y",
        F.round(1.0 / F.log(F.col("deg")), 9)
        .cast("decimal(20,10)")
        .alias("term"),
    )
    agg = t.groupBy("x", "y").agg(
        F.count("*").cast("bigint").alias("cn"),
        F.sum("term").cast("double").alias("aa"),
    )
    non_edge = agg.join(
        und,
        (agg.x == und.u) & (agg.y == und.v),
        "left_anti",
    )
    nat = load(spark, sf_dir, "nation")
    n1 = F.broadcast(
        nat.select(F.col("n_nationkey").alias("x"), F.col("n_name").alias("nation_u"))
    )
    n2 = F.broadcast(
        nat.select(F.col("n_nationkey").alias("y"), F.col("n_name").alias("nation_v"))
    )
    return (
        non_edge.join(n1, "x")
        .join(n2, "y")
        .select("nation_u", "nation_v", "cn", "aa")
    )


_HC_K = 4    # hop budget (bounded-k ego metric)
_HC_TOP = 3  # same kNN backbone grain as khop / adamic_adar


def _harmonic_sql(k: int, top: int) -> str:
    """DuckDB twin: the visited-set BFS unrolled — per round the
    frontier expands through the undirected backbone and EXCEPT
    removes already-seen (src, node) pairs, so each pair is labeled
    with its FIRST (shortest) hop. Every round CTE is MATERIALIZED
    (each is referenced twice: as the union carry and the dedup
    base)."""
    ctes = [
        _knn_backbone_sql(top),
        """s0 AS MATERIALIZED (
  SELECT n_nationkey AS src, n_nationkey AS node,
         CAST(0 AS BIGINT) AS hop
  FROM nation)""",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"""n{i} AS MATERIALIZED (
  SELECT src, node, CAST({i} AS BIGINT) AS hop FROM (
    SELECT DISTINCT s.src, und.v AS node
    FROM s{i - 1} s JOIN und ON und.u = s.node
    WHERE s.hop = {i - 1}
    EXCEPT SELECT src, node FROM s{i - 1}))"""
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
  SELECT * FROM s{i - 1} UNION ALL SELECT * FROM n{i})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT nat.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM(1000000 // hop) AS DOUBLE) / 1e6 AS harmonic,
       CAST(SUM(hop) AS DOUBLE) / COUNT(*) AS avg_dist
FROM s{k} s JOIN nation nat ON nat.n_nationkey = s.src
WHERE s.hop > 0
GROUP BY nat.n_name"""
    )


@query("graph_harmonic_centrality", oracle=_harmonic_sql(_HC_K, _HC_TOP))
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-k harmonic centrality over the kNN trade backbone —
    the IMPORTANCE-BY-DISTANCE member beside pagerank's
    importance-by-flow (harmonic = Σ 1/d(u,v) over nodes reached
    within {_HC_K} hops; Boldi-Vigna's axiom-clean replacement for
    closeness, finite even on disconnected graphs because unreached
    nodes contribute 0 rather than ∞). Distances come from an
    all-sources BFS run as a SPARSE visited-set expansion — frontier
    joins the edge list, an anti-join labels each (src, node) pair at
    its FIRST (hence shortest) hop — never a dense src×node grid;
    this is exactly HyperBall's exact-counting degenerate form, and
    at open-domain scale the visited set swaps for HLL registers per
    node (the documented approximation path).

    Determinism: hops are exact BIGINTs; each 1/d term is the exact
    integer 1000000 div d (d ∈ 1..{_HC_K}, non-negative `div` ==
    floor), so harmonic is an exact 1e-6-lattice sum and avg_dist an
    unrounded integer-ratio double — zero rounding anywhere.

    Scale: the backbone build reduces facts once; r12: the node state
    is nation-grain (constant cardinality by schema), so the
    all-sources bounded-k BFS folds to ONE array-aggregate expression
    over a single row — the state is the |n|×|n| hop matrix as an
    array of per-source distance arrays, each round the min-relaxation
    hop[s][v] <- min(hop[s][v], min_u hop[s][u]+1) with unreached = an
    integer sentinel standing in for the r11 absent row (the
    ts_croston O(1)-carried-state discipline, see graph_pagerank).
    The per-source harmonic/avg sums are exact-integer aggregates over
    the final arrays — identical values to the r11 grouped sums. At
    open-domain scale the visited set swaps for HLL registers per node
    (the documented approximation path) and the join-per-round loop
    returns."""
    _assert_node_radix(spark, sf_dir, 32, "graph_harmonic_centrality")
    # e feeds both unionAll branches of the symmetrized backbone —
    # materialize the edge aggregate once (fact pass never re-runs).
    e = pin(
        _edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
    )
    wk = Window.partitionBy("src").orderBy(
        (F.col("w") * 32 + (31 - F.col("dst"))).desc()
    )
    knn = (
        e.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _HC_TOP)
        .select("src", "dst")
    )
    nat = load(spark, sf_dir, "nation")
    nd_row = nat.select(
        F.col("n_nationkey").alias("node"), F.col("n_name").alias("nation")
    ).agg(F.expr("sort_array(collect_list(struct(node, nation)))").alias("nd"))
    und = (
        knn.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionAll(knn.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    es_row = (
        und.crossJoin(F.broadcast(nd_row))
        .select(
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), u) AS INT)"
            ).alias("ui"),
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), v) AS INT)"
            ).alias("vi"),
        )
        .filter("ui > 0 AND vi > 0")
        .agg(F.expr("collect_list(struct(ui, vi))").alias("es"))
    )
    inf = 1 << 40
    fold = f"""
aggregate(
  sequence(1, {_HC_K}),
  transform(nd, (sx, si) -> transform(nd, (x, i) ->
      IF(i = si, CAST(0 AS BIGINT), CAST({inf} AS BIGINT)))),
  (dd, rnd) -> transform(dd, ds -> transform(nd, (x, i) -> least(
      element_at(ds, i + 1),
      aggregate(filter(es, ed -> ed.vi = i + 1), CAST({inf} AS BIGINT),
                (m, ed) -> least(m, element_at(ds, ed.ui) + 1))))))
"""
    reached = f"filter(ds, h -> h > 0 AND h < {inf})"
    return (
        nd_row.join(F.broadcast(es_row))
        .select("nd", F.expr(fold).alias("dd"))
        .select(F.expr("explode(arrays_zip(nd, dd))").alias("z"))
        .select(
            F.col("z.nd.nation").alias("nation"),
            F.col("z.dd").alias("ds"),
        )
        .select(
            "nation",
            F.expr(f"CAST(size({reached}) AS BIGINT)").alias("n_reached"),
            F.expr(
                f"CAST(aggregate({reached}, CAST(0 AS BIGINT),"
                " (s, h) -> s + 1000000 div h) AS DOUBLE) / 1e6"
            ).alias("harmonic"),
            F.expr(
                f"CAST(aggregate({reached}, CAST(0 AS BIGINT),"
                f" (s, h) -> s + h) AS DOUBLE) / size({reached})"
            ).alias("avg_dist"),
        )
        .filter(F.col("n_reached") > 0)
    )


_ASSORT_TOP = 3  # kNN backbone grain (the dense trade graph is near-
# complete at every SF — all degrees equal, assortativity undefined; the
# backbone is where degree structure lives, as for khop/adamic-adar)

_ASSORT_SQL = f"""
WITH e AS MATERIALIZED (SELECT * FROM ({_EDGE_SQL}) WHERE src <> dst),
knn AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY w * 32 + (31 - dst) DESC) AS rk
    FROM e) WHERE rk <= {_ASSORT_TOP}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM knn
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
  GROUP BY node
),
ends AS (
  SELECT da.deg AS j, db.deg AS k
  FROM (SELECT a AS u, b AS v FROM und
        UNION ALL SELECT b AS u, a AS v FROM und) e
  JOIN deg da ON da.node = e.u
  JOIN deg db ON db.node = e.v
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(j) AS BIGINT) AS sj, CAST(SUM(k) AS BIGINT) AS sk,
         CAST(SUM(j * k) AS BIGINT) AS sjk,
         CAST(SUM(j * j) AS BIGINT) AS sjj,
         CAST(SUM(k * k) AS BIGINT) AS skk
  FROM ends
)
SELECT m // 2 AS n_edges,
       CAST(sj AS DOUBLE) / m AS mean_end_deg,
       CASE WHEN m * sjj - sj * sj <= 0 OR m * skk - sk * sk <= 0 THEN NULL
            ELSE ROUND(CAST(m * sjk - sj * sk AS DOUBLE)
                       / SQRT(CAST(m * sjj - sj * sj AS DOUBLE))
                       / SQRT(CAST(m * skk - sk * sk AS DOUBLE)), 6)
       END AS assortativity
FROM s
"""


@query("graph_assortativity", oracle=_ASSORT_SQL)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the kNN trade backbone
    (the dense full graph is near-complete at every SF — zero degree
    variance, r undefined; the backbone is where mixing structure
    lives, the same grain khop/adamic-adar/harmonic measure) — the
    one-number mixing diagnostic the family's other
    members condition on but never measure: do high-degree nations
    trade with each other (r > 0, assortative — robust core, fragile
    to targeted removal) or with low-degree partners (r < 0,
    disassortative — hub-and-spoke, the shape most infrastructure
    graphs take)? Computed as the Pearson correlation of the degree
    pairs at the ends of every edge, each undirected edge contributing
    both orientations (the standard symmetrization, which makes the
    two marginals equal).

    Determinism: degrees are exact integer counts, all five power
    sums exact BIGINTs; the correlation is two integer-exact
    differences under a SQRT, so it takes ROUND(6) (the sqrt rule);
    a regular graph (zero degree variance) yields NULL on both
    engines, never a division error. mean_end_deg is an unrounded
    integer-ratio double.

    Scale: the edge build reduces facts once; degrees are one
    partial agg of the edge list; the ends join shuffles edge-list-
    cardinality frames on the node key — at any graph scale this is
    two broadcast-or-hash joins of an edge list to a node-sized
    degree table, the graph_degree_stats shape, then a 1-row reduce."""
    _assert_node_radix(spark, sf_dir, 32, "graph_assortativity")
    e = _edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    wk = Window.partitionBy("src").orderBy(
        (F.col("w") * 32 + (31 - F.col("dst"))).desc()
    )
    knn = (
        e.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _ASSORT_TOP)
        .select("src", "dst")
    )
    und = pin(  # feeds deg AND both ends legs
        knn.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    ends = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("j"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("deg").alias("k"))),
            "v",
        )
    )
    s = ends.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("j").cast("bigint").alias("sj"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("sjk"),
        F.sum(F.col("j") * F.col("j")).cast("bigint").alias("sjj"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
    )
    m, sj, sk = F.col("m"), F.col("sj"), F.col("sk")
    vj = m * F.col("sjj") - sj * sj
    vk = m * F.col("skk") - sk * sk
    cov = m * F.col("sjk") - sj * sk
    return s.select(
        F.expr("m div 2").cast("bigint").alias("n_edges"),
        (sj.cast("double") / m).alias("mean_end_deg"),
        F.when((vj <= 0) | (vk <= 0), F.lit(None))
        .otherwise(
            F.round(
                cov.cast("double") / F.sqrt(vj.cast("double"))
                / F.sqrt(vk.cast("double")),
                6,
            )
        )
        .alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# One synchronized Louvain move pass (modularity-guided optimization)


def _louvain_sql() -> str:
    """DuckDB twin: shared edge/und CTEs, region start labels, per-node
    candidate gains on the exact BIGINT ΔQ·W² lattice, window argmax
    with smallest-community tie-break, then Q before/after via the
    modularity integer formula."""
    return f"""
WITH e AS MATERIALIZED (SELECT * FROM ({_EDGE_SQL}) WHERE src <> dst),
und AS MATERIALIZED (
  SELECT u, v, CAST(SUM(w) AS BIGINT) AS w
  FROM (SELECT src AS u, dst AS v, w FROM e
        UNION ALL SELECT dst AS u, src AS v, w FROM e)
  GROUP BY 1, 2),
lbl0 AS (
  SELECT n_nationkey AS node, CAST(n_regionkey AS BIGINT) AS c
  FROM nation),
deg AS (SELECT u AS node, CAST(SUM(w) AS BIGINT) AS d FROM und GROUP BY 1),
w2 AS (SELECT CAST(SUM(d) AS BIGINT) AS w2 FROM deg),
ctot AS (
  SELECT l.c, CAST(SUM(d.d) AS BIGINT) AS cdeg
  FROM lbl0 l JOIN deg d ON d.node = l.node GROUP BY 1),
kuc AS (
  SELECT und.u AS node, lv.c, CAST(SUM(und.w) AS BIGINT) AS k
  FROM und JOIN lbl0 lv ON lv.node = und.v
  GROUP BY 1, 2),
own AS (
  SELECT l.node, l.c AS a, d.d, ca.cdeg AS adeg,
         COALESCE(k.k, 0) AS ka
  FROM lbl0 l
  JOIN deg d ON d.node = l.node
  JOIN ctot ca ON ca.c = l.c
  LEFT JOIN kuc k ON k.node = l.node AND k.c = l.c),
cand AS (
  SELECT o.node, o.a, o.d, o.ka, kc.c AS b, kc.k AS kb,
         2 * (kc.k - o.ka) * w2.w2
         + 2 * o.d * (o.adeg - cb.cdeg - o.d) AS gain_lat,
         ROW_NUMBER() OVER (
           PARTITION BY o.node
           ORDER BY 2 * (kc.k - o.ka) * w2.w2
                    + 2 * o.d * (o.adeg - cb.cdeg - o.d) DESC,
                    kc.c) AS rn
  FROM own o
  JOIN kuc kc ON kc.node = o.node AND kc.c <> o.a
  JOIN ctot cb ON cb.c = kc.c
  CROSS JOIN w2),
best AS (
  SELECT node, a, b, gain_lat FROM cand WHERE rn = 1),
moves AS (
  SELECT o.node, o.a AS c_before,
         CASE WHEN b.gain_lat > 0 THEN b.b ELSE o.a END AS c_after,
         CAST(CASE WHEN b.gain_lat > 0 THEN 1 ELSE 0 END AS BIGINT)
           AS moved,
         CAST(CASE WHEN b.gain_lat > 0 THEN b.gain_lat ELSE 0 END
              AS BIGINT) AS gain_lat
  FROM own o LEFT JOIN best b ON b.node = o.node),
qof AS (
  SELECT part, (CAST(SUM(cdeg) AS DOUBLE) * CAST(SUM(cwin) AS DOUBLE)
          - CAST(SUM(cdeg * cdeg) AS DOUBLE))
         / (CAST(SUM(cdeg) AS DOUBLE) * CAST(SUM(cdeg) AS DOUBLE)) AS q
  FROM (
    SELECT part, cc, CAST(SUM(w) AS BIGINT) AS cdeg,
           CAST(COALESCE(SUM(w) FILTER (WHERE cu = cv), 0) AS BIGINT)
             AS cwin
    FROM (
      SELECT 'before' AS part, und.u, und.w, mu.c_before AS cu,
             mv.c_before AS cv, mu.c_before AS cc
      FROM und JOIN moves mu ON mu.node = und.u
               JOIN moves mv ON mv.node = und.v
      UNION ALL
      SELECT 'after' AS part, und.u, und.w, mu.c_after AS cu,
             mv.c_after AS cv, mu.c_after AS cc
      FROM und JOIN moves mu ON mu.node = und.u
               JOIN moves mv ON mv.node = und.v)
    GROUP BY part, cc)
  GROUP BY part)
SELECT n.n_name AS nation, m.c_before AS community_before,
       m.c_after AS community_after, m.moved, m.gain_lat,
       qb.q AS q_before, qa.q AS q_after
FROM moves m
JOIN nation n ON n.n_nationkey = m.node
JOIN qof qb ON qb.part = 'before'
JOIN qof qa ON qa.part = 'after'
"""


@query("graph_louvain_move", oracle=_louvain_sql())
def graph_louvain_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One SYNCHRONIZED Louvain move pass — the OPTIMIZER member
    completing the community-detection triad: LPA proposes a partition
    by label frequency, graph_community_modularity SCORES partitions,
    and Louvain (Blondel et al. 2008) is the move rule that MAXIMIZES
    that score. Starting from the geographic (region) partition, every
    node evaluates moving to each NEIGHBOR community and takes the
    best strictly-positive modularity gain — ties to the smallest
    community id; the pass emits each node's move, its exact gain, and
    Q before/after so the optimization is auditable in-query. The
    synchronized (all nodes decide on the OLD labels) variant is the
    standard distributed rendering — sequential node order, which
    classic Louvain uses, has no stable parallel meaning; synchronized
    sweeps are what Spark/Giraph implementations iterate.

    Determinism: the gain is computed on an exact integer lattice —
    ΔQ·W² = 2·(k_b − k_a)·W + 2·d_u·(deg_a − deg_b − d_u) with every
    term a BIGINT over integer edge weights (W = Σdeg over the doubled
    edge list), so the argmax and the >0 move test are exact on both
    engines (no float Q ever feeds a decision); Q itself is the
    modularity op's (W·Σwin − Σdeg²)/W² integer-ratio double,
    deliberately unrounded. Headroom: k·W ≤ W² stays in int64 until
    W ≈ 3e9 (≈1.5e9 fact lines); past that, DECIMAL(38,0) — ANSI
    fails loudly until then.

    Scale: facts reduce to the ≤n² nation edge list once (the
    graph-family discipline); degrees/community totals are K-row aggs;
    candidate gains live on the (node × neighbor-community) grain —
    bounded by the edge list, never materializing non-neighbor
    options; the scalar W rides a one-row broadcast (plan_audit
    NESTED_LOOP_OK). A planted two-clique test pins that a
    misassigned node moves home with the textbook gain and that Q
    strictly improves."""
    edges = _edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    und = pin(  # feeds deg, kuc, and both Q passes
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"), "w")
        .unionAll(
            edges.select(
                F.col("dst").alias("u"), F.col("src").alias("v"), "w"
            )
        )
        .groupBy("u", "v")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("c"),
    )
    # r12 fold (the §2 constant-grain technique applied to the ONE-PASS
    # move sweep): everything below the ≤n² edge aggregate is ≤n-row
    # algebra, but the relational form paid ~10 tiny-frame operations
    # per call (5 broadcast builds, a window, the eager moves
    # checkpoint) — 29 driver jobs, ~2.0 s of build for 0.25 s of
    # execution. Collect the edge list and the node table into ONE row
    # each (grain-bounded by schema: ≤ nations² edges) and run the
    # whole sweep — degrees, community totals, per-neighbor-community
    # gains, the strictly-positive argmax move, and both modularity
    # passes — as array expressions. Every value is the identical
    # exact-BIGINT op sequence (the gain lattice; tie-break to the
    # SMALLEST community via max(struct(gain, -b)); Q's integer sums
    # cast to DOUBLE in the same expression shape), so the emitted
    # rows are bit-identical. Base = nodes WITH degree (d > 0 ⇔
    # present in und), matching the oracle's own CTE: a node whose
    # only edges are self-loops is dropped by the src<>dst filter, has
    # no degree, no neighbor communities, and no modularity mass — the
    # ADVICE r10 SF-sensitive divergence class.
    er = und.agg(F.expr("array_sort(collect_list(struct(u, v, w))) AS es"))
    nr = nat.agg(
        F.expr("array_sort(collect_list(struct(node, n_name, c))) AS ns")
    )
    base = er.join(nr)  # 1-row × 1-row (plan_audit NESTED_LOOP_OK)
    # node → community label; every edge endpoint is a nation, so the
    # ANSI map access can never miss
    s1 = base.selectExpr(
        "es",
        "ns",
        "map_from_entries(transform(ns, x -> struct(x.node, x.c)))"
        " AS lbl",
    )
    # per-node: label, degree
    s2 = s1.selectExpr(
        "es",
        "lbl",
        "transform(ns, x -> named_struct("
        "  'node', x.node, 'n_name', x.n_name, 'a', x.c,"
        "  'd', aggregate(filter(es, e -> e.u = x.node),"
        "                 CAST(0 AS BIGINT), (s, e) -> s + e.w)"
        ")) AS nd",
    )
    # community totals over DEGREED nodes + the graph total w2
    s3 = s2.selectExpr(
        "es",
        "lbl",
        "nd",
        "map_from_entries(transform("
        "  array_distinct(transform(filter(nd, x -> x.d > 0),"
        "                           x -> x.a)),"
        "  cc -> struct(cc, aggregate("
        "    filter(nd, x -> x.d > 0 AND x.a = cc),"
        "    CAST(0 AS BIGINT), (s, x) -> s + x.d))"
        ")) AS ctot",
        "aggregate(nd, CAST(0 AS BIGINT), (s, x) -> s + x.d) AS w2",
    )
    # per degreed node: the best strictly-ranked neighbor-community
    # move — gain DESC, community ASC via max(struct(gain, -b)); the
    # per-b gain re-derives k (weight into b) and ka (weight into own
    # community) as exact BIGINT folds over the node's edges
    s4 = s3.selectExpr(
        "es",
        "lbl",
        "transform(filter(nd, x -> x.d > 0), x -> named_struct("
        "  'node', x.node, 'n_name', x.n_name, 'a', x.a, 'd', x.d,"
        "  'best', array_max(transform("
        "    filter(array_distinct(transform("
        "             filter(es, e -> e.u = x.node), e -> lbl[e.v])),"
        "           b -> b != x.a),"
        "    b -> struct("
        "      2 * (aggregate(filter(es, e -> e.u = x.node"
        "                             AND lbl[e.v] = b),"
        "                     CAST(0 AS BIGINT), (s, e) -> s + e.w)"
        "           - aggregate(filter(es, e -> e.u = x.node"
        "                               AND lbl[e.v] = x.a),"
        "                       CAST(0 AS BIGINT), (s, e) -> s + e.w))"
        "        * w2"
        "      + 2 * x.d * (ctot[x.a] - ctot[b] - x.d) AS g,"
        "      -b AS nb)))"
        ")) AS cands",
    )
    # the synchronized move decision (strictly-positive gain only)
    s5 = s4.selectExpr(
        "es",
        "transform(cands, x -> named_struct("
        "  'node', x.node, 'n_name', x.n_name,"
        "  'c_before', x.a,"
        "  'c_after', CASE WHEN x.best.g > 0 THEN -x.best.nb"
        "             ELSE x.a END,"
        "  'moved', CASE WHEN x.best.g > 0 THEN CAST(1 AS BIGINT)"
        "           ELSE CAST(0 AS BIGINT) END,"
        "  'gain_lat', CASE WHEN x.best.g > 0 THEN x.best.g"
        "              ELSE CAST(0 AS BIGINT) END"
        ")) AS mv",
    )

    def q_rows(col: str) -> str:
        """Per-community (cdeg, cwin) BIGINT sums under the `col`
        assignment, as one array expression (assignment map let-bound
        via a single-element transform — the HITS trick)."""
        amap = (
            f"map_from_entries(transform(mv, m -> struct(m.node,"
            f" m.{col})))"
        )
        cdeg = (
            "aggregate(filter(es, e -> am[e.u] = cc),"
            " CAST(0 AS BIGINT), (s, e) -> s + e.w)"
        )
        cwin = (
            "aggregate(filter(es, e -> am[e.u] = cc AND am[e.v] = cc),"
            " CAST(0 AS BIGINT), (s, e) -> s + e.w)"
        )
        return (
            f"transform(array({amap}), am -> "
            f"  transform(array_distinct(transform(mv, m -> m.{col})),"
            f"            cc -> struct({cdeg} AS cd, {cwin} AS cw))"
            ")[0]"
        )

    def q_final(rows: str) -> str:
        """(Σd·Σwin − Σd²)/Σd² — the identical double tree as the r11
        relational cm.agg."""
        sd = f"aggregate({rows}, CAST(0 AS BIGINT), (s, r) -> s + r.cd)"
        sw = f"aggregate({rows}, CAST(0 AS BIGINT), (s, r) -> s + r.cw)"
        sdd = (
            f"aggregate({rows}, CAST(0 AS BIGINT),"
            " (s, r) -> s + r.cd * r.cd)"
        )
        return (
            f"(CAST({sd} AS DOUBLE) * CAST({sw} AS DOUBLE)"
            f" - CAST({sdd} AS DOUBLE))"
            f" / (CAST({sd} AS DOUBLE) * CAST({sd} AS DOUBLE))"
        )

    s6 = s5.selectExpr(
        "mv",
        f"{q_rows('c_before')} AS qrows_b",
        f"{q_rows('c_after')} AS qrows_a",
    ).selectExpr(
        "mv",
        f"{q_final('qrows_b')} AS q_before",
        f"{q_final('qrows_a')} AS q_after",
    )
    return s6.selectExpr(
        "inline(transform(mv, m -> named_struct("
        "  'nation', m.n_name,"
        "  'community_before', m.c_before,"
        "  'community_after', m.c_after,"
        "  'moved', m.moved,"
        "  'gain_lat', m.gain_lat)))",
        "q_before",
        "q_after",
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient (per-node triadic closure)

_LCC_SQL = f"""
WITH e AS MATERIALIZED ({_EDGE_SQL}),
und AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM e WHERE src <> dst
    UNION ALL
    SELECT dst AS u, src AS v FROM e WHERE src <> dst)),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
tri AS (
  SELECT a.u AS node, CAST(COUNT(*) AS BIGINT) AS t
  FROM und a
  JOIN und b ON b.u = a.u AND b.v > a.v
  JOIN und c ON c.u = a.v AND c.v = b.v
  GROUP BY 1)
SELECT n.n_name AS nation, d.d AS degree,
       COALESCE(t.t, 0) AS triangles,
       CASE WHEN d.d > 1 THEN
         CAST(2 * COALESCE(t.t, 0) AS DOUBLE) / (d.d * (d.d - 1))
       ELSE 0.0 END AS lcc
FROM deg d
JOIN nation n ON n.n_nationkey = d.node
LEFT JOIN tri t ON t.node = d.node
"""


@query("graph_clustering_coefficient", oracle=_LCC_SQL)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per nation — the TRIADIC-CLOSURE
    profile of the trade graph: for each node, what fraction of its
    neighbor pairs trade with each other, lcc = 2T(u)/(d(u)(d(u)−1)).
    graph_triangle_count answers 'how many triangles exist' globally;
    this localizes them (hub nations with low lcc are brokers between
    otherwise-unconnected partners — Burt's structural holes;
    uniformly high lcc means a clique-like bloc). ΣT(u) = 3·triangles
    is the cross-operator identity a test pins.

    Determinism: pure integer counting on the simple undirected
    adjacency (DISTINCT pairs, self-loops dropped); lcc is one
    integer-ratio double — bitwise cross-engine, UNROUNDED; the
    isolated/degree-1 case (no neighbor pairs) is defined 0.0 on both
    engines, never an ANSI divide error.

    Scale: facts reduce to the ≤n² edge list once (the module
    discipline); the triangle join is the sorted-orientation wedge
    join (neighbor lists joined on the shared endpoint with v-ordering
    so each triangle counts once per corner) — the same
    skew-controlled shape as graph_triangle_count, equi-join keyed,
    AQE-skew-safe; degree caps are unnecessary at the nation grain and
    at larger grains the standard high-degree-vertex split applies."""
    edges = _edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    und = pin(  # feeds deg + three wedge-join sides
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionAll(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .distinct()
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    a = und.select(F.col("u").alias("node"), F.col("v").alias("x"))
    b = und.select(F.col("u").alias("node"), F.col("v").alias("y"))
    closing = und.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = (
        a.join(b, "node")
        .filter(F.col("y") > F.col("x"))
        .join(closing, ["x", "y"])
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    t = F.coalesce(F.col("t"), F.lit(0)).cast("bigint")
    d = F.col("d")
    return (
        deg.join(F.broadcast(nat), "node")
        .join(tri, "node", "left")
        .select(
            F.col("n_name").alias("nation"),
            d.alias("degree"),
            t.alias("triangles"),
            F.when(
                d > 1, (2 * t).cast("double") / (d * (d - 1))
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


# HITS hubs & authorities on the directed nation trade graph

_HITS_ROUNDS = 4
_HITS_UNIT = 1_000_000


def _hits_sql(rounds: int) -> str:
    """DuckDB twin: the mutual hub/authority recursion unrolled into a
    MATERIALIZED CTE chain (each a{i}/h{i} is referenced twice — by the
    next half-round AND by its own MAX normalization scalar subquery —
    so MATERIALIZED is load-bearing, the graph_kcore lesson). All
    arithmetic is BIGINT; `//` floors but every value is nonnegative,
    so it agrees with Spark's truncating `div`."""
    ctes = [
        f"e AS MATERIALIZED ({_EDGE_SQL})",
        "n0 AS (SELECT n_nationkey AS node FROM nation)",
        f"h0 AS (SELECT node, CAST({_HITS_UNIT} AS BIGINT) AS hu FROM n0)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""ar{i} AS MATERIALIZED (
  SELECT n.node, CAST(COALESCE(SUM(e.w * h.hu), 0) AS BIGINT) AS s
  FROM n0 n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN h{i - 1} h ON h.node = e.src
  GROUP BY n.node)"""
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT node, CASE WHEN (SELECT MAX(s) FROM ar{i}) > 0
    THEN (s * {_HITS_UNIT}) // (SELECT MAX(s) FROM ar{i})
    ELSE CAST(0 AS BIGINT) END AS au
  FROM ar{i})"""
        )
        ctes.append(
            f"""hr{i} AS MATERIALIZED (
  SELECT n.node, CAST(COALESCE(SUM(e.w * a.au), 0) AS BIGINT) AS s
  FROM n0 n
  LEFT JOIN e ON e.src = n.node
  LEFT JOIN a{i} a ON a.node = e.dst
  GROUP BY n.node)"""
        )
        ctes.append(
            f"""h{i} AS MATERIALIZED (
  SELECT node, CASE WHEN (SELECT MAX(s) FROM hr{i}) > 0
    THEN (s * {_HITS_UNIT}) // (SELECT MAX(s) FROM hr{i})
    ELSE CAST(0 AS BIGINT) END AS hu
  FROM hr{i})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT nat.n_name AS nation, h.hu AS hub_u, a.au AS auth_u,
       CAST(h.hu AS DOUBLE) / {_HITS_UNIT} AS hub,
       CAST(a.au AS DOUBLE) / {_HITS_UNIT} AS auth
FROM h{rounds} h
JOIN a{rounds} a ON a.node = h.node
JOIN nation nat ON nat.n_nationkey = h.node"""
    )


@query("graph_hits", oracle=_hits_sql(_HITS_ROUNDS))
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the directed nation trade graph —
    the MUTUAL-recursion centrality beside graph_pagerank's single
    random-surfer fixed point: a nation is a strong HUB if it supplies
    (out-edges into) strong authorities, a strong AUTHORITY if strong
    hubs supply it — the two scores are different rankings on any
    asymmetric graph (import-heavy vs export-heavy nations), which is
    exactly what the one-score pagerank cannot express.

    {_HITS_ROUNDS} rounds of auth(v) = Σ_in w·hub(u) then
    hub(u) = Σ_out w·auth(v), each half-round L∞-normalized to the
    {_HITS_UNIT} micro-unit lattice by s·UNIT // max(s) — integer
    floor of nonnegative BIGINTs, so truncating `div` and flooring
    `//` agree and every round is bit-identical across engines (the
    graph_pagerank discipline; max-normalization is the classical HITS
    choice and keeps the lattice from overflow: Σ w·state ≤
    UNIT·Σw = UNIT·|lineitem|, and ·UNIT again stays under int64 up to
    ~6e6 facts per SF — beyond that, pre-scale w, the docstring
    contract). A zero max (empty edge set) floors both scores to 0 via
    the same CASE guard both engines.

    Scale shape: fact-side work is ONE edge-list aggregation
    (localCheckpointed so nothing re-reads facts); the nation-grain
    graph (constant cardinality by schema) folds to a single row and
    all {_HITS_ROUNDS} mutual rounds run as ONE array-aggregate
    expression — the ts_croston O(1)-carried-state discipline (see
    graph_pagerank; r12 measured the per-round-checkpoint loop at
    ~2.6 s / ~30 driver jobs vs ~1 s folded). Each half-round's L∞
    max rides a let-binding (single-element transform) so the raw
    score array is evaluated once; every term — Σ w·state floor
    normalization s·UNIT div max — is the same exact-BIGINT op as the
    r11 join-per-round form. On an OPEN-domain graph the state is
    data-proportional and the join-per-round loop with per-round
    materialization returns (dedup_cluster keeps that shape)."""
    e = pin(_edges(spark, sf_dir))
    nd_row = load(spark, sf_dir, "nation").agg(
        F.expr(
            "sort_array(collect_list(struct(n_nationkey AS node,"
            " n_name AS nation)))"
        ).alias("nd")
    )
    es_row = (
        e.crossJoin(F.broadcast(nd_row))
        .select(
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), src)"
                " AS INT)"
            ).alias("si"),
            F.expr(
                "CAST(array_position(transform(nd, x -> x.node), dst)"
                " AS INT)"
            ).alias("di"),
            "w",
        )
        .filter("si > 0 AND di > 0")
        .agg(F.expr("collect_list(struct(si, di, w))").alias("es"))
    )

    def _half(state_arr: str, from_idx: str, at_idx: str) -> str:
        """One half-round: raw scores Σ w·state over edges into each
        node, then s·UNIT div max(s) with the raw array let-bound so
        it (and its max) evaluate once, guarded to 0 on max = 0."""
        raw = (
            f"transform(nd, (x, i) -> aggregate("
            f"filter(es, ed -> ed.{at_idx} = i + 1), CAST(0 AS BIGINT),"
            f" (t, ed) -> t + ed.w * element_at({state_arr}, ed.{from_idx})))"
        )
        return (
            f"element_at(transform(array({raw}), sa -> transform(sa,"
            f" s -> CASE WHEN array_max(sa) > 0 THEN (s * {_HITS_UNIT})"
            f" div array_max(sa) ELSE CAST(0 AS BIGINT) END)), 1)"
        )

    fold = f"""
aggregate(
  sequence(1, {_HITS_ROUNDS}),
  named_struct(
    'au', transform(nd, x -> CAST(0 AS BIGINT)),
    'hu', transform(nd, x -> CAST({_HITS_UNIT} AS BIGINT))),
  (acc, rnd) -> element_at(transform(array({_half("acc.hu", "si", "di")}),
    au -> named_struct('au', au, 'hu', {_half("au", "di", "si")})), 1))
"""
    return (
        nd_row.join(F.broadcast(es_row))
        .select("nd", F.expr(fold).alias("st"))
        .select(F.expr("explode(arrays_zip(nd, st.au, st.hu))").alias("z"))
        .select(
            F.col("z.nd.nation").alias("nation"),
            F.col("z.hu").alias("hub_u"),
            F.col("z.au").alias("auth_u"),
            (F.col("z.hu").cast("double") / _HITS_UNIT).alias("hub"),
            (F.col("z.au").cast("double") / _HITS_UNIT).alias("auth"),
        )
    )
