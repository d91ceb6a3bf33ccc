"""Graph analytics over the relational fixtures.

The reference's query layer (Flink SQL / Trino — reference
README.md:175-179) has no graph operators; these are north-star
extensions for corpus curation: link-graph importance (PageRank is
the classic page-quality prior used to weight web-crawl documents)
and degree statistics, both expressed as plain DataFrame joins and
aggregates so Catalyst/AQE handle the physical plan.

Graph: the bipartite part <-> supplier sourcing graph from
``lineitem`` (an edge per DISTINCT (part, supplier) pair, both
directions, so every node has out-degree >= 1). Node ids live in one
integer space: part p -> 2p, supplier s -> 2s+1.

Determinism: ranks are integer micro-mass (total mass 1e12) and every
update is integer multiply/divide — truncation is identical in Spark
and DuckDB, so five PageRank iterations are bit-deterministic under
any partitioning or aggregation order (no float summation order
anywhere).

Scale posture: the edge list / out-degrees / node set are
materialized ONCE (localCheckpoint here; a checkpoint dir or a
bucketed table on a cluster) — the naive unrolled lineage re-derives
the distinct-edge scan inside every iteration's joins (measured: 10
redundant scans, no exchange reuse under AQE). Each iteration is then
one join + one aggregate hashing on the node key; per-iteration
shuffle volume is O(|edges|) 16-byte contribution rows, never the
underlying fact table; rank vectors are checkpointed per round to
keep lineage depth constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.registry import register

TOTAL_MASS = 1_000_000_000_000  # 1e12 integer micro-mass units
N_ITER = 5
TOP_K = 20

_EDGES_SQL = """
    edges AS (
      SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      UNION ALL
      SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    outdeg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    params AS (SELECT COUNT(*) AS n FROM nodes)
"""


def _pagerank_iter_sql(prev: str, cur: str) -> str:
    base = f"(SELECT {TOTAL_MASS} // n FROM params)"
    return f"""
    {cur} AS (
      SELECT n.node,
             CAST((15 * {base} + 85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(p.r // d.deg) AS BIGINT) AS s
        FROM {prev} p
        JOIN edges e ON p.node = e.src
        JOIN outdeg d ON d.node = p.node
        GROUP BY e.dst) c ON n.node = c.node)
    """


def _pagerank_oracle() -> str:
    its = ",".join(
        _pagerank_iter_sql(f"it{i}", f"it{i + 1}") for i in range(N_ITER)
    )
    return f"""
    WITH {_EDGES_SQL},
    it0 AS (SELECT node, CAST({TOTAL_MASS} // n AS BIGINT) AS r
            FROM nodes CROSS JOIN params),
    {its}
    SELECT CAST(node AS BIGINT) AS node,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
           r AS rank_micromass
    FROM it{N_ITER}
    ORDER BY rank_micromass DESC, node
    LIMIT {TOP_K}
    """


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    fwd = pairs.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    rev = pairs.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("l_partkey") * 2).alias("dst"),
    )
    return fwd.unionByName(rev)


@register(
    "graph_pagerank_bipartite",
    _pagerank_oracle(),
    group="graph",
    doc="PageRank (5 iterations, damping 0.85) over the bipartite "
    "part<->supplier sourcing graph — the link-importance prior a "
    "web-corpus curation pipeline attaches to crawled documents, "
    "exercised here on the fixture's natural graph. Ranks are integer "
    "micro-mass (1e12 total) and every update is integer mul/div, so "
    "all five iterations are bit-deterministic under any partitioning; "
    "the DuckDB oracle unrolls the same five updates as chained CTEs. "
    "Scale: graph structure (edges/out-degrees/nodes) is materialized "
    "once and each iteration joins the checkpointed rank vector to it "
    "on the node key — one join + one aggregate per round, shuffle "
    "volume O(|edges|) 16-byte rows, independent of the fact-table "
    "width; lineage is truncated per round so plan depth stays "
    "constant across iterations.",
)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    # static graph structure is materialized ONCE (localCheckpoint —
    # on a cluster, a checkpoint dir or a bucketed table): the naive
    # unrolled lineage would re-derive the distinct edge list in every
    # iteration's two joins (measured 10 redundant scans / no exchange
    # reuse under AQE), turning 5 iterations into O(iter × scan)
    edges = _edges(spark, sf_dir).localCheckpoint(eager=True)
    # annotate each edge with its source's out-degree ONCE — this join
    # is iteration-invariant, so running it inside the loop would redo
    # the same |edges| shuffle five times
    edges_deg = (
        edges.join(
            edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), "src"
        )
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # one scalar to the driver: the graph size
    base = TOTAL_MASS // n
    ranks = nodes.select("node", F.lit(base).cast("bigint").alias("r"))
    for _ in range(N_ITER):
        contribs = (
            ranks.join(edges_deg, ranks["node"] == edges_deg["src"])
            .select(
                F.col("dst").alias("node"),
                # integer `div`, NOT `/`: long/long in Spark is DOUBLE
                # division, whose 0.5-ulp error near 1e12 truncates to
                # a different integer than exact division — DuckDB's
                # `//` is exact, so the engines would diverge
                F.expr("r div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        num = F.lit(15 * base).cast("bigint") + F.lit(85).cast(
            "bigint"
        ) * F.coalesce(F.col("s"), F.lit(0))
        ranks = (
            nodes.join(contribs, "node", "left")
            .select("node", num.alias("__num"))
            .select("node", F.expr("__num div 100").alias("r"))
            # truncate lineage each round, as connected_components does
            .localCheckpoint(eager=True)
        )
    return (
        ranks.select(
            F.col("node").cast("bigint").alias("node"),
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.col("r").alias("rank_micromass"),
        )
        .orderBy(F.col("rank_micromass").desc(), F.col("node"))
        .limit(TOP_K)
    )


@register(
    "graph_degree_stats",
    f"""
    WITH {_EDGES_SQL}
    SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(deg) AS BIGINT) AS min_deg,
           CAST(MAX(deg) AS BIGINT) AS max_deg,
           CAST(SUM(deg) AS BIGINT) AS total_edges
    FROM outdeg
    GROUP BY node_type
    ORDER BY node_type
    """,
    group="graph",
    doc="Degree statistics per node class of the bipartite sourcing "
    "graph — the skew probe run before any graph algorithm: max_deg "
    "bounds the hottest key an iteration will shuffle (the input to a "
    "salting decision at scale). One distinct + one count aggregate; "
    "shuffle volume O(|edges|).",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    node_type = F.when(F.col("src") % 2 == 0, F.lit("part")).otherwise(
        F.lit("supplier")
    )
    return (
        outdeg.select(node_type.alias("node_type"), "deg")
        .groupBy("node_type")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").cast("bigint").alias("min_deg"),
            F.max("deg").cast("bigint").alias("max_deg"),
            F.sum("deg").alias("total_edges"),
        )
        .orderBy("node_type")
    )


# --- triangle counting -------------------------------------------------
# Co-order part graph: undirected edge {p1, p2} iff some order contains
# both parts. Bounded fan-out per order (TPC-H orders hold <= 7 lines),
# so |edges| = O(sum_orders C(items,2)) — linear in the fact table.

_COPURCHASE_EDGES_SQL = """
    pairs AS (
      SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
      GROUP BY node),
    oriented AS (
      SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS src,
             CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS dst
      FROM pairs p
      JOIN deg du ON du.node = p.u
      JOIN deg dv ON dv.node = p.v)
"""


def _copurchase_oriented(spark: SparkSession, sf_dir: str) -> tuple:
    """(pairs, deg, oriented) of the co-order part graph — the shared
    structure of the triangle and clustering-coefficient queries.
    pairs/oriented are localCheckpointed: each feeds 2-3 joins."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("v")
    )
    pairs = (
        li.select(F.col("l_orderkey").alias("o1"), F.col("l_partkey").alias("u"))
        .join(l2, (F.col("o1") == F.col("o2")) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint(eager=True)
    )
    return pairs, deg, oriented


# Wedge-stage width constants, A/B-probed at sf3 in one session
# (PLANS.md round 8): width 32 = 563 s with GCLocker retry warnings
# (the round-7 thrash), width 75 (8M rows/task) = 429 s, width 300
# (2M rows/task) = 499 s — so the optimum is a FEW WAVES OF CORES,
# not a fixed rows-per-task: too few tasks spill, too many pay
# per-task shuffle-stream overhead. The rule below targets
# ~3 waves of the session's parallelism, but never lets a task hold
# more than WEDGE_ROWS_PER_TASK_MAX wedge rows (the memory bound that
# matters on a real executor) and never splits finer than
# WEDGE_ROWS_PER_TASK_TARGET is worth.
WEDGE_ROWS_PER_TASK_MAX = 8_000_000
WEDGE_ROWS_PER_TASK_TARGET = 2_000_000
WEDGE_WAVES = 3


def _wedge_parallelism(oriented: DataFrame) -> int:
    """Shuffle width for the wedge-join stage, derived from the EXACT
    wedge cardinality sum(outdeg * (outdeg - 1)) — one bounded scalar
    job over the checkpointed edge list (output: one row). ``get_spark``
    sets spark.sql.shuffle.partitions to the session's core count
    ($SPARK_GRAFT_CPUS, default 32), and AQE can only COALESCE below
    that number, never widen it — so at 32 cores and sf3 the ~600M-row
    wedge intermediate used to land on 32 partitions (~19M rows each)
    and the round-7 probes recorded GCLocker thrash
    and super-linear wall (sf1->sf3 ratio 3.5-4.8x for exactly-linear
    true work). The width targets ~WEDGE_WAVES waves of the session's
    cores, bounded below by the per-task memory cap
    (WEDGE_ROWS_PER_TASK_MAX) and above by the no-point-splitting
    target (see the A/B numbers at the constants), capped at 2048,
    floored at the session's configured shuffle width so small-scale
    oracle runs keep their exact plans. Results are invariant to the
    repartition — only task granularity changes."""
    spark = oriented.sparkSession
    row = (
        oriented.groupBy("src")
        .agg(F.count(F.lit(1)).alias("od"))
        .agg(F.sum(F.expr("od * (od - 1)")).alias("w"))
        .collect()[0]
    )
    wedges = int(row["w"] or 0)
    floor = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cores = spark.sparkContext.defaultParallelism
    want = min(
        WEDGE_WAVES * cores,
        -(-wedges // WEDGE_ROWS_PER_TASK_TARGET),  # don't over-split
    )
    need = -(-wedges // WEDGE_ROWS_PER_TASK_MAX)  # per-task memory bound
    return max(floor, min(2048, max(want, need)))


@register(
    "graph_triangle_count",
    f"""
    WITH {_COPURCHASE_EDGES_SQL},
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM oriented e1
      JOIN oriented e2 ON e1.src = e2.src AND e1.dst <> e2.dst
      JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
    group="graph",
    doc="Exact triangle count on the co-order part graph (parts "
    "appearing in the same order), plus nodes/edges/wedges — the "
    "inputs to global transitivity 3*tri/wedges. Degree-ordered "
    "orientation (Chiba-Nishizeki / Schank-Wagner 'forward'): each "
    "undirected edge points from its lower-(degree, id) endpoint to "
    "the higher, so every triangle {x,y,z} with rank(x)<rank(y)<rank(z) "
    "is counted exactly once as the equi-join e1=(x,y), e2=(x,z), "
    "e3=(y,z). Scale: orientation bounds every node's out-degree by "
    "O(sqrt(m)), so the wedge join materializes O(m^1.5) candidate "
    "rows worst-case instead of sum(deg^2) — the difference between "
    "feasible and not on a power-law graph (a hot part co-ordered "
    "with 1M others contributes ZERO wedges from its own adjacency "
    "because all its edges point inward). All equi-joins — no "
    "CartesianProduct; the edge list is materialized once "
    "(localCheckpoint) and reused by the degree, wedge, and closing "
    "joins. Edge generation is per-order C(items,2) with items <= 7.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, deg, oriented = _copurchase_oriented(spark, sf_dir)
    n = _wedge_parallelism(oriented)
    osrc = oriented.repartition(n, "src")
    e1 = osrc.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = osrc.select(F.col("src").alias("a2"), F.col("dst").alias("c"))
    wedges = (
        e1.join(e2, (F.col("a") == F.col("a2")) & (F.col("b") != F.col("c")))
        .select("b", "c")
        .repartition(n, "b", "c")
    )
    e3 = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    ).repartition(n, "b", "c")
    tri = wedges.join(e3, ["b", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            F.col("n_nodes").cast("bigint"),
            F.col("n_edges").cast("bigint"),
            F.col("n_wedges").cast("bigint"),
            F.col("n_triangles").cast("bigint"),
        )
    )


@register(
    "graph_local_clustering_topk",
    f"""
    WITH {_COPURCHASE_EDGES_SQL},
    tris AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1
      JOIN oriented e2 ON e1.src = e2.src AND e1.dst <> e2.dst
      JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
    pernode AS (
      SELECT node, COUNT(*) AS tri FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris)
      GROUP BY node)
    SELECT CAST(p.node AS BIGINT) AS node,
           CAST(d.d AS BIGINT) AS degree,
           CAST(p.tri AS BIGINT) AS triangles,
           CAST(2 * p.tri * 1000000 // (d.d * (d.d - 1)) AS BIGINT)
             AS cc_micro
    FROM pernode p JOIN deg d ON d.node = p.node
    WHERE d.d >= 3
    ORDER BY cc_micro DESC, node LIMIT 20
    """,
    group="graph",
    doc="Top-20 parts by LOCAL clustering coefficient on the co-order "
    "graph (degree >= 3): per-node triangle counts from the same "
    "degree-oriented wedge join as graph_triangle_count — each "
    "triangle (a,b,c) credits all three corners via a 3-way union "
    "projection, so no second pair enumeration — then "
    "cc = 2*tri/(d*(d-1)) in integer micro-units (exact cross-engine; "
    "no float division). The clustering coefficient is the classic "
    "'community tightness' signal (a part whose co-order neighbors "
    "also co-order each other). Scale: identical posture to the "
    "triangle count — O(m^1.5) wedge bound from the orientation, "
    "edge structure checkpointed once, final TakeOrdered(20), never "
    "a global sort.",
)
def graph_local_clustering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, deg, oriented = _copurchase_oriented(spark, sf_dir)
    n = _wedge_parallelism(oriented)
    osrc = oriented.repartition(n, "src")
    e1 = osrc.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = osrc.select(F.col("src").alias("a2"), F.col("dst").alias("c"))
    wedges = (
        e1.join(e2, (F.col("a") == F.col("a2")) & (F.col("b") != F.col("c")))
        .select("a", "b", "c")
        .repartition(n, "b", "c")
    )
    e3 = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    ).repartition(n, "b", "c")
    # one streaming pass over the closing join: each triangle credits
    # all three corners via explode — the triangle list is never
    # materialized (a localCheckpoint of the full (a,b,c) list measured
    # +40% wall at sf1 vs this shape)
    pernode = (
        wedges.join(e3, ["b", "c"])
        .select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    return (
        pernode.join(deg, "node")
        .filter(F.col("d") >= 3)
        .select(
            F.col("node").cast("bigint"),
            F.col("d").cast("bigint").alias("degree"),
            F.col("tri").cast("bigint").alias("triangles"),
            F.expr("2 * tri * 1000000 div (d * (d - 1))")
            .cast("bigint")
            .alias("cc_micro"),
        )
        .orderBy(F.col("cc_micro").desc(), "node")
        .limit(20)
    )
