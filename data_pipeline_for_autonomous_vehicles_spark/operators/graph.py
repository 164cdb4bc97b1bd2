"""Graph analytics over the order graph (customer → supplier edges).

PageRank with a fixed iteration count — the canonical iterative algorithm a
Spark engine must express well (the near-dup connected components in
`dedup.py` is the other one). Each iteration is ONE join (ranks ⋈ edges on
src) plus one hash-agg keyed by dst; the loop count is a plan-time constant
so the whole computation is a single declarative DAG Catalyst can pipeline
— no driver-side collect of anything but the final top-k.

Determinism: every quantity is int64 fixed-point (rank·1e12) and the
damping factor is the rational 17/20, so the arithmetic is exact integer
div/mul on both engines — float PageRank would drift between Spark's and
the oracle's accumulation orders.

Scale notes (100 TB): edges shuffle once per iteration keyed by dst — the
same cost profile as any groupBy; rank state is one narrow row per node.
Dangling mass (suppliers have no out-edges in the bipartite order graph) is
a 1-row aggregate broadcast back, not an N-way join. Skewed in-degree (a
hot supplier) is ordinary agg skew → AQE handles it; the per-edge map side
is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table

PR_SCALE = 10**12  # fixed-point rank units
PR_ITERS = 3
TOP_NODES = 20
_SUPP_OFFSET = 1_000_000  # supplier node ids live above this


def _graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges): distinct customer→supplier edges from order lines.
    Node id space: custkey, and suppkey + _SUPP_OFFSET."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(_SUPP_OFFSET)).alias("dst"),
        )
        .distinct()
    )
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    return nodes, edges


def pagerank_top_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank nodes after PR_ITERS exact fixed-point iterations,
    with dangling-mass redistribution (suppliers are all dangling)."""
    nodes, edges = _graph(spark, sf_dir)
    nodes = caching.materialize(nodes, "pagerank_top_nodes.nodes")
    edges = caching.materialize(edges, "pagerank_top_nodes.edges")
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))  # 1 row, broadcast below
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))

    # outdeg is static across iterations — join it into the rank state ONCE
    # (suppliers are dangling: outdeg null) so each round needs no re-join
    # against the degree table, only the contribution shuffle.
    ranks = (
        nodes.crossJoin(F.broadcast(n_nodes))
        .join(F.broadcast(outdeg), nodes.node == outdeg.src, "left")
        .select(
            "node",
            F.expr(f"CAST({PR_SCALE} AS BIGINT) div n").alias("rank"),
            "n",
            "outdeg",
        )
    )
    for _ in range(PR_ITERS):
        # Truncate lineage at each iteration boundary: the rank frame is read
        # by BOTH the dangling-mass aggregate and the contribution join, and
        # without materialization the logical plan re-derives the whole
        # previous iteration per branch — doubling work every round. One
        # eager localCheckpoint per iteration keeps each round one scan
        # (17s → 4s at sf0.01; on a cluster this also caps planning time).
        ranks = caching.checkpoint(ranks, "pagerank_top_nodes.ranks")
        dangling = ranks.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dangling")
        )
        contrib = (
            ranks.filter(F.col("outdeg").isNotNull())
            .withColumnRenamed("node", "src")
            .join(edges, "src")
            .select("dst", F.expr("rank div outdeg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("incoming"))
        )
        ranks = (
            ranks.join(contrib, ranks.node == contrib.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.expr(
                    f"CAST(3 * CAST({PR_SCALE} AS BIGINT) div (20 * n) "
                    "+ (17 * coalesce(incoming, CAST(0 AS BIGINT))) div 20 "
                    "+ (17 * (dangling div n)) div 20 AS BIGINT)"
                ).alias("rank"),
                "n",
                "outdeg",
            )
        )
    # top-k first via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no global single-partition window over all N nodes), then the
    # display rank over the K survivors via broadcast self-join count —
    # zero WindowExec in the plan (see ranking.rank_of_topk)
    top = ranks.select("node", "rank").orderBy(F.desc("rank"), F.asc("node")).limit(TOP_NODES)
    from .ranking import rank_of_topk

    return (
        rank_of_topk(top, "rank", "node")
        .select(
            F.col("topk_pos").alias("pos"),
            "node",
            F.col("rank").alias("rank_e12"),
            (F.col("node") >= _SUPP_OFFSET).alias("is_supplier"),
        )
        .orderBy("pos")
    )


def _sql_pagerank() -> str:
    iters = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        iters.append(
            f"""
d{i} AS (
  SELECT COALESCE(SUM(r.rank), 0)::BIGINT AS dangling
  FROM {prev} r LEFT JOIN outdeg o ON r.node = o.src
  WHERE o.src IS NULL),
c{i} AS (
  SELECT e.dst, SUM(r.rank // o.outdeg)::BIGINT AS incoming
  FROM {prev} r JOIN outdeg o ON r.node = o.src JOIN edges e ON e.src = r.node
  GROUP BY e.dst),
r{i} AS (
  SELECT r.node,
         (3 * CAST({PR_SCALE} AS BIGINT) // (20 * r.n)
          + (17 * COALESCE(c.incoming, 0)) // 20
          + (17 * (d.dangling // r.n)) // 20)::BIGINT AS rank,
         r.n
  FROM {prev} r LEFT JOIN c{i} c ON r.node = c.dst CROSS JOIN d{i} d)"""
        )
        prev = f"r{i}"
    return f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + {_SUPP_OFFSET} AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) // n AS rank, n FROM nodes CROSS JOIN nn),
{",".join(iters)}
SELECT pos, node, rank_e12, is_supplier FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY rank DESC, node ASC) AS pos,
         node, rank AS rank_e12, node >= {_SUPP_OFFSET} AS is_supplier
  FROM {prev})
WHERE pos <= {TOP_NODES}
ORDER BY pos
"""


# Baskets up to this size expand on the single-row array fast path (≤ ~8k
# pair structs per row); larger baskets spill to the chunked path below so
# one pathological giant order cannot straggle a single task with an O(k²)
# in-row expansion (round-9 verdict task 7).
BASKET_CAP = 128


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Distinct co-purchase part pairs (p1 < p2) from a lineitem frame,
    eagerly checkpointed. Per-order pair expansion as ONE collect_set +
    per-row array expansion instead of distinct + self-join (guide §2.4:
    remove shuffles outright — the join form shuffled the (order, part)
    table three ways; the basket array form is a single partial-aggregating
    shuffle keyed by order). Pair set is identical: sorted distinct parts
    per order, all (p1 < p2) combinations, distinct.

    Oversized-basket guard (guide §2.5 — skew): a basket of k parts emits
    C(k, 2) structs inside ONE row, i.e. inside one task — fine for real
    order baskets (driver data: single digits; BASKET_CAP bounds the row at
    ~8k structs) but a pathological hot order would straggle its task with
    no shuffle able to spread the work. Baskets larger than BASKET_CAP are
    split into BASKET_CAP-sized chunks of the same sorted array; each
    (chunk_i ≤ chunk_j) pair becomes its OWN row, those rows are hash-
    repartitioned across the cluster, and the per-row expansion is then
    bounded by BASKET_CAP² — a giant basket fans out to (k/CAP)² parallel
    tasks instead of one. The chunks preserve the sorted order, so within-
    chunk combinations and cross-chunk products emit exactly the (p1 < p2)
    pairs of the unchunked expansion; the trailing .distinct() is shared.
    The hot branch is EMPTY on sane baskets: the filter prunes it to zero
    rows and the fast path's plan work is one extra (cheap, basket-sized)
    checkpoint of the basket frame both branches read.
    """
    # read by BOTH the fast path and the hot-basket spill path —
    # materialize once (narrow: one row per order)
    baskets = caching.checkpoint(
        li.groupBy("l_orderkey").agg(F.array_sort(F.collect_set("l_partkey")).alias("ps")),
        "copurchase_edges.baskets",
    )
    small = (
        baskets.filter(F.size("ps") <= BASKET_CAP)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("pr")
        )
        .select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
    )
    chunks = F.expr(
        f"transform(sequence(0, (size(ps) - 1) div {BASKET_CAP}), "
        f"c -> slice(ps, c * {BASKET_CAP} + 1, {BASKET_CAP}))"
    )
    chunk_pairs = (
        baskets.filter(F.size("ps") > BASKET_CAP)
        .select("l_orderkey", chunks.alias("cs"))
        .select(
            "l_orderkey",
            F.explode(
                F.expr(
                    "flatten(transform(cs, (ca, i) -> "
                    "transform(slice(cs, i + 1, size(cs) - i), (cb, j) -> "
                    "struct(i AS ci, i + j AS cj, ca AS ca, cb AS cb))))"
                )
            ).alias("cp"),
        )
        .select("l_orderkey", "cp.ci", "cp.cj", "cp.ca", "cp.cb")
        # SPREAD the chunk-pair rows: without this exchange every chunk
        # pair of one order stays in the task that built its basket row
        .repartition("l_orderkey", "ci", "cj")
    )
    within = F.expr(
        "flatten(transform(ca, (x, i) -> transform(slice(ca, i + 2, size(ca)), "
        "y -> struct(x AS p1, y AS p2))))"
    )
    cross = F.expr(
        "flatten(transform(ca, x -> transform(cb, y -> struct(x AS p1, y AS p2))))"
    )
    hot = (
        chunk_pairs.select(
            F.explode(
                F.when(F.col("ci") == F.col("cj"), within).otherwise(cross)
            ).alias("pr")
        )
        .select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
    )
    # read by the degree agg, the orientation join, and the count —
    # materialize once EAGERLY (narrow int64 pairs): the lazy form let
    # each downstream branch race to materialize it and re-derived the
    # pair expansion along the way (measured 105 s vs 60 s staged at
    # ~sf1 for the whole census)
    return caching.checkpoint(small.unionByName(hot).distinct(), "copurchase_edges.pairs")


def copurchase_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph: nodes = parts, an edge
    joins two parts bought in the same order, a triangle = three mutually
    co-purchased parts (the motif behind "frequently bought together"
    bundles; `copurchase_degree_distribution` is the shared edge list's
    degree histogram). Exact count via the id-oriented 3-way edge join — every edge
    stored once as (p1 < p2), every triangle (a < b < c) counted once.

    Scale notes: the per-order pair expansion is O(k²) in basket size k —
    real pipelines cap or salt giant baskets (driver baskets are single
    digits). The wedge enumeration uses DEGREE-ORDERED orientation (the
    compact-forward algorithm): each undirected edge is directed toward
    its higher-(degree, id) endpoint, so every wedge pivots on its
    lowest-degree vertex and hub wedges never materialize — Σ out-deg² is
    bounded by O(m^1.5) instead of Σ deg². The count is
    orientation-invariant, so the ANSI oracle keeps the simpler
    id-oriented join: identical n_triangles, different physical cost. All
    joins are equi-joins on part keys — shuffle-partitionable, no
    cartesian anywhere.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li)
    nodes = edges.select(F.col("p1").alias("p")).unionByName(
        edges.select(F.col("p2").alias("p"))
    )
    deg = nodes.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    # orient u -> v iff (deg(u), u) < (deg(v), v) — every wedge pivots on
    # its lowest-degree vertex, so out-degrees are O(√m)-bounded
    du = deg.select(F.col("p").alias("p1"), F.col("deg").alias("deg1"))
    dv = deg.select(F.col("p").alias("p2"), F.col("deg").alias("deg2"))
    directed = caching.checkpoint(
        edges.join(du, "p1")
        .join(dv, "p2")
        .select(
            F.when(
                (F.col("deg1") < F.col("deg2"))
                | ((F.col("deg1") == F.col("deg2")) & (F.col("p1") < F.col("p2"))),
                F.struct(F.col("p1").alias("u"), F.col("p2").alias("v")),
            )
            .otherwise(F.struct(F.col("p2").alias("u"), F.col("p1").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v"),
        "copurchase_triangle_count.directed",
    )
    # edge-iterator with neighborhood intersection (the round-4 rewrite of
    # the explicit wedge join): per directed edge (u, v), the triangles it
    # closes are |N⁺(u) ∩ N⁺(v)| — the orientation is a total order, so
    # each triangle is counted exactly once at its (source, mid) edge.
    # The wedge relation (Σ C(outdeg, 2) rows ≈ 3.5·10⁸ at ~sf1) is never
    # materialized or shuffled: adjacency arrays are built once (outdeg is
    # O(√m)-bounded by the orientation, so arrays stay small) and the
    # intersection is a per-row JVM array op on the m-row edge frame.
    # Measured at ~sf1: 139.6 s (wedge join) → 59 s cold / 37 s warm.
    adj = caching.checkpoint(  # read twice by the closing joins
        directed.groupBy("u").agg(F.array_sort(F.collect_list("v")).alias("nbrs")),
        "copurchase_triangle_count.adj",
    )
    tri_per_edge = (
        directed.select("u", "v")
        .join(adj.select(F.col("u").alias("eu"), F.col("nbrs").alias("nu")),
              F.col("u") == F.col("eu"))
        .join(adj.select(F.col("u").alias("ev"), F.col("nbrs").alias("nv")),
              F.col("v") == F.col("ev"))
        .select(F.size(F.array_intersect(F.col("nu"), F.col("nv"))).alias("t"))
    )
    return (
        tri_per_edge.agg(F.coalesce(F.sum("t"), F.lit(0)).alias("n_triangles"))
        .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(nodes.distinct().agg(F.count(F.lit(1)).alias("n_nodes"))))
        .select("n_nodes", "n_edges", "n_triangles")
    )


_TRIANGLE_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
nodes AS (SELECT p1 AS p FROM e UNION SELECT p2 FROM e)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT COUNT(*)
        FROM e x JOIN e y ON y.p1 = x.p2
                 JOIN e z ON z.p1 = x.p1 AND z.p2 = y.p2) AS n_triangles
"""


# --- degree distribution ------------------------------------------------------


def copurchase_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-binned degree histogram of the part co-purchase graph — the
    first thing a graph engineer checks: a heavy power-law tail means hub
    vertices will dominate any wedge/join step (it is the measurement that
    justifies `copurchase_triangle_count`'s degree orientation and the
    salting/cap machinery). Bin = floor(log₂ deg) computed in pure integer
    arithmetic (bit length via repeated comparison is overkill — deg div
    2^k tests over ≤ 40 bins), reported with exact min/max/total degree.

    Scale: the edge list collapses to (node, degree) in one agg; the
    histogram key is ≤ log₂(max-degree) bins. Everything after the
    per-order pair expansion is sub-linear.
    """
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .distinct()
    )
    nodes = edges.select(F.col("p1").alias("p")).unionByName(
        edges.select(F.col("p2").alias("p"))
    )
    deg = nodes.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    # floor(log2) as integer bit-length — IEEE log2 can sit 1 ulp either
    # side of an exact power of two and flip the floor between engines
    bin_col = (F.length(F.bin(F.col("deg"))) - F.lit(1)).cast("long")
    return (
        deg.select("deg", bin_col.alias("deg_bin"))
        .groupBy("deg_bin")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
            F.sum("deg").alias("sum_deg"),
        )
        .orderBy("deg_bin")
    )


_DEGREE_DIST_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
nodes AS (SELECT p1 AS p FROM edges UNION ALL SELECT p2 FROM edges),
deg AS (SELECT p, COUNT(*) AS deg FROM nodes GROUP BY p)
SELECT CAST(length(printf('%b', deg)) - 1 AS BIGINT) AS deg_bin,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(deg) AS BIGINT) AS min_deg,
       CAST(MAX(deg) AS BIGINT) AS max_deg,
       CAST(SUM(deg) AS BIGINT) AS sum_deg
FROM deg
GROUP BY 1
ORDER BY deg_bin
"""


QUERIES = {
    "copurchase_degree_distribution": copurchase_degree_distribution,
    "pagerank_top_nodes": pagerank_top_nodes,
    "copurchase_triangle_count": copurchase_triangle_count,
}

ORACLES = {
    "pagerank_top_nodes": _sql_pagerank(),
    "copurchase_triangle_count": _TRIANGLE_SQL,
    "copurchase_degree_distribution": _DEGREE_DIST_SQL,
}
