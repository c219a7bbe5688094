"""Iterative graph analytics beyond connected components: PageRank
over the customer↔supplier trade graph (who traded with whom, via
orders ⋈ lineitem), in exact integer arithmetic.

Floating-point PageRank is not engine-portable: each node's incoming
mass is a SUM of doubles whose accumulation order differs between
Spark's partial-aggregation tree and a serial oracle. Here ranks live
in integer micro-units (RANK_SCALE), per-edge contributions use
integer division, and the damping update is integer arithmetic — every
iteration is bit-identical at any partition count AND identical to the
DuckDB oracle, which unrolls the same ``PR_ITERATIONS`` updates as
chained CTEs (aggregation is not legal inside a recursive CTE, and an
unrolled oracle is also more honestly "the same computation").

Scale shape per iteration: ranks ⋈ edges on src (both sides hash-
partitioned on the same key — one exchange each, reused round to
round), one map-side-combined groupBy(dst), a right join back to the
node set for teleport-only nodes. Lineage is truncated per round with
the registered checkpoint lifecycle exactly like connected components
(``entity_resolution.py``). Truncating integer division loses a few
micro-units of mass per edge (bounded by E per iteration) — the
standard price of exactness; ranks remain a total order, which is what
PageRank is for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pac_spark import catalog, loops
from pac_spark.cache import checkpoint, pin

__all__ = [
    "RANK_SCALE",
    "PR_ITERATIONS",
    "DAMPING_PCT",
    "trade_edges",
    "pagerank",
    "pagerank_trade_graph",
    "PAGERANK_SQL",
    "butterfly_supplier_pairs",
    "BUTTERFLY_SQL",
    "triangle_top_parts",
    "TRIANGLE_SQL",
    "two_hop_reach_top_customers",
    "TWO_HOP_SQL",
    "kcore_parts",
    "KCORE_SQL",
    "degree_assortativity",
    "ASSORTATIVITY_SQL",
    "sssp_from_hub",
    "SSSP_SQL",
    "lpa_communities",
    "LPA_SQL",
    "clustering_coeff_parts",
    "CLUSTERING_COEFF_SQL",
    "trade_graph_components",
    "TRADE_CC_SQL",
    "CC_TOP_EDGES",
    "hits_hub_authority",
    "HITS_SQL",
    "HITS_SCALE",
    "HITS_ROUNDS",
    "ppr_from_hub",
    "PPR_SQL",
    "PPR_ROUNDS",
    "hyperball_reach_profile",
    "HYPERBALL_SQL",
    "HB_HOPS",
    "hyperball_harmonic_centrality",
    "HARMONIC_SQL",
    "HC_TOP",
]

RANK_SCALE = 10**12  # rank micro-units: total initial mass
PR_ITERATIONS = 10
DAMPING_PCT = 85  # 0.85 damping as an integer percentage


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (random-walk) edges: customer c traded with supplier s
    iff some lineitem of c's order was supplied by s. Distinct pairs,
    both directions; node ids are disambiguated MULTIPLICATIVELY by
    role (``key*4 + role``, customer=1 / supplier=2) since TPC-H key
    spaces overlap. The earlier additive prefix (cust+1e9 / supp+2e9)
    silently COLLIDED once custkey >= 1e9 — the multiplicative encode
    is injective for every key below 2^61 and decodes with one
    ``% 4`` / ``div 4`` pair."""
    orders = catalog.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = catalog.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # pinned: the distinct pair aggregate feeds BOTH union branches —
    # without it each direction re-runs the orders ⋈ lineitem shuffle
    pairs = pin(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 4 + F.lit(1)).alias("cust"),
            (F.col("l_suppkey") * 4 + F.lit(2)).alias("supp"),
        )
        .distinct()
    )
    fwd = pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
    rev = pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    return fwd.union(rev)


def pagerank(edges: DataFrame, iterations: int = PR_ITERATIONS) -> DataFrame:
    """(node, rank) after ``iterations`` exact-integer updates.

    rank₀ = RANK_SCALE div N for every node;
    rankᵢ₊₁(v) = (15·RANK_SCALE) div (100·N)
               + (85 · (Σ_{u→v} rankᵢ(u) div deg(u) + Dᵢ div N)) div 100
    where Dᵢ = Σ rankᵢ(u) over dangling u (no out-edges).

    The node set is src ∪ dst, so a non-symmetric edge set ranks its
    sink-only nodes too (ADVICE r4: src-only derivation silently
    dropped mass sent to dst-only nodes). Dangling nodes receive
    teleport + incoming mass and REDISTRIBUTE their mass uniformly
    each round (the Dᵢ div N term — VERDICT r5 wrong-#3: the earlier
    leak-and-document simplification is gone). Dᵢ is a 1-row
    aggregate broadcast into the update — no driver collect, no
    per-round action; for edge sets where every node has an out-edge
    (the symmetric trade graph) Dᵢ = 0 and the update is unchanged.
    """
    edges = pin(edges)
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # one small scalar; fixes N for the formula
    if n_nodes == 0:
        raise ValueError("pagerank needs a non-empty edge set")
    # RANK_SCALE is a fixed resolution dial: init = RANK_SCALE div N
    # must keep enough micro-units that per-edge integer division
    # still discriminates ranks. Guard rather than silently degrade —
    # past ~RANK_SCALE/1e4 nodes every rank would collapse into a few
    # thousand distinct values and the total order stops meaning
    # anything. Raising RANK_SCALE requires the SAME factor in
    # PAGERANK_SQL (the oracle unrolls the identical constant).
    if n_nodes > RANK_SCALE // 10_000:
        raise ValueError(
            f"{n_nodes} nodes exceed RANK_SCALE={RANK_SCALE} resolution "
            "(init rank would drop below 10^4 micro-units); raise "
            "RANK_SCALE in graph.py AND its oracle PAGERANK_SQL together"
        )
    deg = pin(edges.groupBy("src").agg(F.count("*").alias("deg")))
    edged = pin(edges.join(deg, "src"))
    srcs = deg.select("src")  # deg keys ARE the distinct out-edge sources

    teleport = ((100 - DAMPING_PCT) * RANK_SCALE) // (100 * n_nodes)
    init = RANK_SCALE // n_nodes
    # dangling-node EXISTENCE is a structural fact, checked once: when
    # every node has an out-edge (the symmetric trade graph), Dᵢ = 0
    # for every i and the per-round aggregate + broadcast join would be
    # 10 pure-overhead jobs. |src set| vs |node set| — one count on the
    # (pinned, tiny) degree frame the loop needs anyway, no extra join.
    has_dangling = deg.count() < n_nodes
    # The per-iteration working set has two scales: the rank/update
    # frames are node-sized, but the join probe and the pre-combine
    # groupBy input are edge-sized, so the loop sizes by both.
    # edges.count() reads the already-pinned frame.
    n_edges = edges.count()
    spark = edges.sparkSession
    # Rank frames are node-sized: broadcasting them into the edge join
    # (and the node-sized contrib into the update join) removes two of
    # the three per-iteration shuffles — only the map-side-combined
    # groupBy(dst) remains.
    bcast_ranks = loops.fits_broadcast(spark, n_nodes)
    parts = loops.loop_parts(spark, nodes=n_nodes, edges=n_edges)
    with loops.scoped_conf(spark, loops.SHUFFLE_PARTITIONS, parts):
        ranks = checkpoint(nodes.select("node", F.lit(init).alias("rank")))
        for i in range(iterations):
            rank_side = F.broadcast(ranks) if bcast_ranks else ranks
            contrib = (
                edged.join(rank_side, edged.src == ranks.node)
                .select("dst", F.expr("rank div deg").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("mass"))
            )
            contrib_side = F.broadcast(contrib) if bcast_ranks else contrib
            updated = nodes.join(
                contrib_side, nodes.node == contrib.dst, "left"
            )
            if has_dangling:
                dangling = ranks.join(srcs, ranks.node == srcs.src, "left_anti").agg(
                    F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dmass")
                )
                updated = updated.crossJoin(F.broadcast(dangling))
            else:
                updated = updated.withColumn("dmass", F.lit(0).cast("long"))
            next_ranks = updated.select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({DAMPING_PCT} * (coalesce(mass, 0L)"
                        f" + dmass div {n_nodes}L)) div 100"
                    )
                ).alias("rank"),
            )
            # checkpoint every SECOND round (and always the last):
            # lineage depth 2 keeps the plan bounded while halving the
            # number of forced materializations. Results are unchanged
            # at any cadence (integer arithmetic; the checkpoint is
            # purely a lineage cut).
            # the final round always checkpoints, and checkpoint() is
            # EAGER — the loop's last materialization happens inside
            # the scoped partition setting; after restore only reads
            # of the checkpointed blocks remain. On the dangling path
            # the NEXT iteration reads ranks TWICE (contribution join
            # + dangling-mass aggregate), so non-checkpoint rounds pin
            # there — otherwise the whole two-iteration lineage runs
            # twice per round.
            if i % 2 == 1 or i == iterations - 1:
                ranks = checkpoint(next_ranks)
            elif has_dangling:
                ranks = pin(next_ranks)
            else:
                ranks = next_ranks
    return ranks


def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: PageRank over the trade graph, ranked output."""
    ranks = pagerank(trade_edges(spark, sf_dir))
    role = F.when(F.col("node") % 4 == 2, F.lit("supplier")).otherwise(
        F.lit("customer")
    )
    key = F.expr("node div 4")
    return ranks.select(
        role.alias("role"),
        key.alias("entity_key"),
        F.col("rank").alias("rank_micro"),
    ).orderBy(F.desc("rank_micro"), "role", "entity_key")


def PAGERANK_SQL(iterations: int = PR_ITERATIONS) -> str:
    """DuckDB oracle: the SAME integer updates, unrolled as chained
    CTEs (pr0..prN)."""
    parts = [
        f"""WITH pairs AS MATERIALIZED (
    SELECT DISTINCT o_custkey * 4 + 1 AS cust,
                    l_suppkey * 4 + 2 AS supp
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
    SELECT cust AS src, supp AS dst FROM pairs
    UNION ALL
    SELECT supp AS src, cust AS dst FROM pairs
),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
edged AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src),
pr0 AS MATERIALIZED (
    SELECT node, CAST({RANK_SCALE} // n_nodes AS BIGINT) AS rank
    FROM nodes, n
)"""
    ]
    for i in range(iterations):
        parts.append(
            f""",
m{i} AS (
    SELECT e.dst, SUM(p.rank // e.deg) AS mass
    FROM edged e JOIN pr{i} p ON e.src = p.node
    GROUP BY e.dst
),
d{i} AS (
    SELECT COALESCE(SUM(rank), 0) AS dmass FROM pr{i}
    WHERE node NOT IN (SELECT src FROM deg)
),
pr{i + 1} AS MATERIALIZED (
    SELECT nodes.node,
           CAST(({100 - DAMPING_PCT} * {RANK_SCALE}) // (100 * n.n_nodes)
                + ({DAMPING_PCT} * (COALESCE(m{i}.mass, 0)
                    + d{i}.dmass // n.n_nodes)) // 100 AS BIGINT)
               AS rank
    FROM nodes CROSS JOIN n CROSS JOIN d{i}
    LEFT JOIN m{i} ON nodes.node = m{i}.dst
)"""
        )
    parts.append(
        f"""
SELECT CASE WHEN node % 4 = 2 THEN 'supplier' ELSE 'customer' END AS role,
       CAST(node // 4 AS BIGINT) AS entity_key,
       rank AS rank_micro
FROM pr{iterations}
ORDER BY rank_micro DESC, role, entity_key"""
    )
    return "".join(parts)


# butterfly counting guards: pivot on the BOUNDED-degree side and cap
# it, so wedge generation is Σ C(deg,2) over parts (max deg ~52 in the
# testdata), never over suppliers (max deg ~682 → 20x the wedges)
BUTTERFLY_MAX_PIVOT_DEG = 256
BUTTERFLY_TOP_N = 20


def butterfly_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (bipartite 4-cycle) counting over the part–supplier
    graph: the bipartite analog of triangle counting — a butterfly is
    two suppliers sharing two parts, THE cohesion motif for bipartite
    networks (triangles cannot exist). Per supplier pair:
    ``butterflies = C(shared_parts, 2)``; top pairs reported.

    Scale shape (the standard vertex-priority trick from the butterfly
    literature, expressed relationally):

    - wedges pivot on the side whose degree is BOUNDED — parts (a part
      is supplied by few suppliers; suppliers supply many parts).
      Wedge cost is Σ_p C(deg_p, 2); pivoting on suppliers instead
      would cost 20× here and explode on hub vertices at 100 TB.
    - a pivot-degree ceiling (``BUTTERFLY_MAX_PIVOT_DEG``) bounds the
      worst single vertex: a hub part would contribute C(deg, 2)
      wedges alone, the same skew the ngram dedup caps with its
      document-frequency ceiling. The cap is part of the operator's
      SEMANTICS (stated identically in the oracle), not a silent
      truncation.
    - one map-side-combined groupBy on the wedge (s1, s2) key, then
      TakeOrdered for the top-N — the only shuffle moves wedge
      partials, never raw lineitem rows.
    """
    ps = (
        catalog.load(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    ps = pin(ps)
    deg = ps.groupBy("p").agg(F.count("*").alias("deg"))
    eligible = ps.join(
        deg.filter(F.col("deg") <= BUTTERFLY_MAX_PIVOT_DEG), "p"
    ).select("p", "s")
    a = eligible.alias("a")
    b = eligible.alias("b")
    wedges = a.join(
        b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s"))
    ).select(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
    pairs = wedges.groupBy("s1", "s2").agg(F.count("*").alias("shared_parts"))
    return (
        pairs.select(
            "s1",
            "s2",
            "shared_parts",
            F.expr("(shared_parts * (shared_parts - 1)) div 2").alias(
                "butterflies"
            ),
        )
        .orderBy(F.desc("butterflies"), F.desc("shared_parts"), "s1", "s2")
        .limit(BUTTERFLY_TOP_N)
    )


def BUTTERFLY_SQL() -> str:
    return f"""
WITH ps AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
),
deg AS (SELECT p, COUNT(*) AS deg FROM ps GROUP BY p),
eligible AS (
    SELECT ps.p, ps.s FROM ps JOIN deg USING (p)
    WHERE deg <= {BUTTERFLY_MAX_PIVOT_DEG}
),
wedges AS (
    SELECT a.s AS s1, b.s AS s2
    FROM eligible a JOIN eligible b ON a.p = b.p AND a.s < b.s
),
pairs AS (
    SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS shared_parts
    FROM wedges GROUP BY s1, s2
)
SELECT s1, s2, shared_parts,
       CAST(shared_parts * (shared_parts - 1) // 2 AS BIGINT) AS butterflies
FROM pairs
ORDER BY butterflies DESC, shared_parts DESC, s1, s2
LIMIT {BUTTERFLY_TOP_N}
"""


# ---------------------------------------------------------------------------
# Triangle counting (unipartite motif analysis)

TRIANGLE_TOP_EDGES = 5000  # strongest co-purchase edges kept in the motif graph
TRIANGLE_TOP_N = 100  # reported parts


def _co_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counted co-purchase part pairs (pa < pb, cnt = co-order count):
    the bounded basket self-join shared by the triangle and k-core
    motif operators (code-review r7 — they carried two near-identical
    copies; any future skew cap must exist exactly once)."""
    op = pin(
        catalog.load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(b, "o")
        .filter(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count("*").alias("cnt"))
    )


def triangle_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation counts over the TOP-K co-purchase graph:
    parts are nodes, the K strongest "ordered together" edges (by
    order co-count, full deterministic tie-break) form the graph, and
    each part is scored by the number of triangles it sits in — the
    unipartite cohesion motif completing the family (butterflies cover
    the bipartite side).

    The top-K edge cut is part of the operator's SEMANTICS, not a
    silent cap: motif analysis over the full co-purchase graph is
    Σ deg² wedge work dominated by noise edges seen once; cutting to
    the K strongest edges is the standard densification step, and it
    is what makes the plan scale-invariant —

    - the pair generator is the bounded basket self-join (fan-out ≤
      order size², one shuffle on orderkey, one map-side-combined
      groupBy on the pair);
    - the top-K lands as TakeOrderedAndProject (no global sort);
    - the K-row edge frame is pinned and broadcast into both closing
      joins, so the triangle enumeration never shuffles regardless of
      corpus size: wedge work is bounded by K·max_deg(K-graph) and
      the close is a broadcast hash probe.

    Triangles are enumerated once each via the a<b<c orientation
    (edges already satisfy pa<pb, so e1(a,b)⋈e2(b,c)⋈e3(a,c) with the
    join keys enforcing a<b<c), then unpivoted to per-node counts.
    """
    edges = pin(
        _co_purchase_pairs(spark, sf_dir)
        .orderBy(F.desc("cnt"), "pa", "pb")
        .limit(TRIANGLE_TOP_EDGES)
        .select("pa", "pb")
    )
    e1 = edges.alias("e1")
    e2 = F.broadcast(edges.alias("e2"))
    e3 = F.broadcast(edges.alias("e3"))
    tri = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .select(
            F.col("e1.pa").alias("na"),
            F.col("e1.pb").alias("nb"),
            F.col("e2.pb").alias("nc"),
        )
    )
    return (
        tri.select(F.explode(F.array("na", "nb", "nc")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "part_id")
        .limit(TRIANGLE_TOP_N)
    )


def TRIANGLE_SQL() -> str:
    """Registered in the r7 rotation (gate: tests/test_staged_specs.py)."""
    return f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pairs AS (
    SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cnt
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    GROUP BY 1, 2
),
e AS (SELECT pa, pb FROM pairs ORDER BY cnt DESC, pa, pb LIMIT {TRIANGLE_TOP_EDGES}),
tri AS (
    SELECT e1.pa AS na, e1.pb AS nb, e2.pb AS nc
    FROM e e1
    JOIN e e2 ON e2.pa = e1.pb
    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
nodes AS (
    SELECT na AS part_id FROM tri
    UNION ALL SELECT nb FROM tri
    UNION ALL SELECT nc FROM tri
)
SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY part_id
ORDER BY n_triangles DESC, part_id
LIMIT {TRIANGLE_TOP_N}
"""


# ---------------------------------------------------------------------------
# 2-hop ego-network reach


REACH_TOP_K = 20


def two_hop_reach_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For the ``REACH_TOP_K`` highest-degree customers: exact 2-hop
    reach over the trade graph — how many OTHER customers they can
    touch through a shared supplier. The ego-network breadth metric
    behind influencer/anomaly screens.

    Scale shape: the expansion is anchored — the first hop filters to
    the top-K anchors (broadcast of a K-row frame) BEFORE the
    mid-node join, so the fan-out is sum over anchors of
    sum_{mid in N(a)} deg(mid), never the whole graph squared; the
    distinct on (anchor, reached) bounds memory per anchor by the
    reach itself. Degrees come from one map-side-combined count; the
    anchor cut is TakeOrdered under the total (degree desc, node)
    order.
    """
    # pinned: the join+distinct edge derivation feeds THREE consumers
    # (degrees, hop 1, hop 2) — ReuseExchange shares only identical
    # exchange subtrees, not the aggregates above them
    edges = pin(trade_edges(spark, sf_dir))
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    anchors = pin(
        deg.filter(F.col("src") % 4 == 1)
        .orderBy(F.desc("degree"), F.asc("src"))
        .limit(REACH_TOP_K)
        .select(F.col("src").alias("anchor"), "degree")
    )
    hop1 = F.broadcast(anchors).join(
        edges, F.col("anchor") == F.col("src")
    ).select("anchor", "degree", F.col("dst").alias("mid"))
    # hop1 is anchored-bounded — EXACTLY Σ degree(anchor) rows, a
    # 1-row scalar off the K-row anchor frame — so when it fits it
    # broadcasts into the hop-2 join and the pinned edge frame is
    # probed in place instead of re-shuffled. Its rows carry three
    # longs, so the estimate doubles the two-long row.
    hop1_rows = anchors.agg(F.sum("degree")).collect()[0][0] or 0
    if loops.fits_broadcast(spark, 2 * hop1_rows):
        hop1 = F.broadcast(hop1)
    hop2 = hop1.join(
        edges.withColumnRenamed("src", "mid"), "mid"
    ).filter(F.col("dst") != F.col("anchor"))
    return (
        hop2.groupBy("anchor", "degree")
        .agg(F.countDistinct("dst").alias("n_two_hop"))
        .select(
            F.expr("anchor div 4").alias("custkey"),
            F.col("degree").cast("long").alias("degree"),
            F.col("n_two_hop").cast("long").alias("n_two_hop"),
        )
        .orderBy(F.desc("degree"), F.asc("custkey"))
    )


TWO_HOP_SQL = f"""
WITH pairs AS (
    SELECT DISTINCT o_custkey * 4 + 1 AS cust,
           l_suppkey * 4 + 2 AS supp
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
    SELECT cust AS src, supp AS dst FROM pairs
    UNION ALL
    SELECT supp AS src, cust AS dst FROM pairs
), deg AS (
    SELECT src, COUNT(*) AS degree FROM edges GROUP BY src
), anchors AS (
    SELECT src AS anchor, degree FROM deg
    WHERE src % 4 = 1
    ORDER BY degree DESC, src LIMIT {REACH_TOP_K}
), hop2 AS (
    SELECT a.anchor, a.degree, e2.dst
    FROM anchors a
    JOIN edges e1 ON e1.src = a.anchor
    JOIN edges e2 ON e2.src = e1.dst
    WHERE e2.dst <> a.anchor
)
SELECT CAST(anchor // 4 AS BIGINT) AS custkey,
       CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_two_hop
FROM hop2
GROUP BY anchor, degree
ORDER BY degree DESC, custkey
"""


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling)


KCORE_K = 2  # the cycle core: peel pendant trees until only cycles remain
KCORE_MIN_COOCCUR = 2  # edge admission, same threshold the recommenders use
KCORE_ROUNDS = 8  # synchronous-peel cap (idempotent once stable)


def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``KCORE_K``-core of the co-purchase graph: parts surviving
    iterative removal of nodes with degree < k, with their in-core
    degree — the standard graph-densification step (a node outside
    the 2-core sits on a pendant tree: no cycle, no cohesion).

    Peeling is SYNCHRONOUS (each round removes every current
    sub-degree node at once) and capped at ``KCORE_ROUNDS`` rounds in
    BOTH engines; peeling is idempotent once stable, so the early
    exit when a round removes nothing cannot diverge from the
    oracle's fixed unroll. Per round: one map-side-combined degree
    count, a 1-row doomed-count scalar (the PageRank convergence
    pattern), and two anti-joins dropping edges that touch doomed
    nodes; the edge frame re-checkpoints each round to cut lineage.
    Degrees are exact (edges are distinct pairs by construction).
    """
    # pinned: the union's two branches otherwise each re-run the
    # corpus-scale pair aggregation (code-review r7)
    pairs = pin(
        _co_purchase_pairs(spark, sf_dir)
        .filter(F.col("cnt") >= KCORE_MIN_COOCCUR)
        .select("pa", "pb")
    )
    edges = checkpoint(
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
            pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
    )
    # The doomed frame is node-bounded and its exact row count is
    # already in hand (the loop's own early-exit scalar), so when it
    # fits it broadcasts into BOTH anti-joins — the checkpointed edge
    # frame is probed in place instead of being re-shuffled twice per
    # peel round.
    n_edges = edges.count()
    parts = loops.loop_parts(spark, edges=n_edges)
    with loops.scoped_conf(spark, loops.SHUFFLE_PARTITIONS, parts):
        for _ in range(KCORE_ROUNDS):
            doomed = pin(
                edges.groupBy("src")
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") < KCORE_K)
                .select(F.col("src").alias("node"))
            )
            n_doomed = doomed.count()
            if n_doomed == 0:
                break
            doom_side = (
                F.broadcast(doomed)
                if loops.fits_broadcast(spark, n_doomed)
                else doomed
            )
            edges = checkpoint(
                edges.join(doom_side, edges.src == doomed.node, "left_anti").join(
                    doom_side, edges.dst == doomed.node, "left_anti"
                )
            )
    return (
        edges.groupBy("src")
        .agg(F.count("*").alias("core_degree"))
        .select(F.col("src").alias("part_id"), "core_degree")
        .orderBy("part_id")
    )


def _kcore_sql() -> str:
    rounds = []
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
d{i} AS (SELECT src AS node FROM e{i - 1} GROUP BY src HAVING COUNT(*) < {KCORE_K}),
e{i} AS MATERIALIZED (
    SELECT src, dst FROM e{i - 1}
    WHERE src NOT IN (SELECT node FROM d{i})
      AND dst NOT IN (SELECT node FROM d{i})
)""")
    return f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pairs AS (
    SELECT a.p AS pa, b.p AS pb
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    GROUP BY 1, 2 HAVING COUNT(*) >= {KCORE_MIN_COOCCUR}
),
e0 AS MATERIALIZED (
    SELECT pa AS src, pb AS dst FROM pairs
    UNION ALL
    SELECT pb, pa FROM pairs
),
{",".join(rounds)}
SELECT src AS part_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM e{KCORE_ROUNDS} GROUP BY src ORDER BY part_id
"""


KCORE_SQL = _kcore_sql()


# ---------------------------------------------------------------------------
# Degree assortativity (graph-level mixing statistic)

def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman's degree assortativity of the trade graph: the Pearson
    correlation of (degree(src), degree(dst)) over the symmetric
    directed edge list — positive when high-degree nodes prefer each
    other (hub-to-hub mixing), negative for hub-and-spoke. On a
    bipartite customer↔supplier graph it is typically negative (few
    suppliers serve many customers), which makes it a useful one-row
    health readout for the graph family.

    Exact-moment idiom (the corr/trend precedent): degrees are
    integers from one map-side-combined groupBy and the moments
    accumulate in decimal(38,0); r is ONE double expression over
    exact integer determinants, zero-variance guarded to NULL.
    Summing over directed edges counts each undirected edge once per
    direction — exactly the remaining-degree sum in Newman's formula
    for an undirected graph.

    r11 (guide §1.1 first-principles / §2.4): the original shape
    joined the edge list against the degree table TWICE (per-edge dx
    and dy) — two edge-sized shuffle joins. But over a SYMMETRIC edge
    set every per-edge degree moment except the cross term is a
    NODE-table sum: a node appears as src in exactly deg(n) directed
    edges, so Σ_edges deg(src)^k = Σ_nodes deg^(k+1), and the dst
    moments equal the src moments by edge reversal. Those now come
    from one aggregate over the degree table (no join), and only
    s_xy = Σ_edges deg(src)·deg(dst) pays a join — computed as ONE
    edge ⋈ deg(dst) join + per-src neighbor-degree sums + a
    node-sized join back to deg (distributivity keeps the integer
    arithmetic exact and identical). Two edge-sized joins → one.
    Same-JVM interleaved A/B at sf0.1 (min-of-4, warm):
    4.09 s -> 3.98 s — locally near-neutral because the cost here is
    the shared trade-edge derivation (noop-isolated: 1.9 s of the
    4.0 s), not the joins; the join removal is the at-scale win (one
    edge-sized shuffle instead of two). DuckDB oracle (unchanged — it
    still states the per-edge form) green at sf0.01 and sf0.1.
    """
    edges = pin(trade_edges(spark, sf_dir))
    deg = pin(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    dec = "decimal(38,0)"
    d = F.col("deg").cast(dec)
    m = deg.agg(
        # Σ deg over nodes = the directed edge count (exact; coalesced
        # so an empty graph reports 0 edges like the COUNT it replaces)
        F.coalesce(F.sum(d), F.lit(0).cast(dec)).alias("n_edges_dec"),
        F.sum((d * F.col("deg")).cast(dec)).alias("sx"),
        F.sum((d * F.col("deg") * F.col("deg")).cast(dec)).alias("sxx"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    # neighbor-degree sum per src (the only pairing the cross term
    # needs), then Σ deg(src)·ns(src) on the node-sized frames
    ns = (
        edges.join(
            deg.select(F.col("src").alias("b"), F.col("deg").alias("dy")),
            F.col("dst") == F.col("b"),
        )
        .groupBy("src")
        .agg(F.sum(F.col("dy").cast(dec)).alias("nd"))
    )
    cross = deg.join(ns, "src").agg(
        F.sum((F.col("deg").cast(dec) * F.col("nd")).cast(dec)).alias("sxy")
    )
    n_edges = F.col("n_edges_dec")
    dxx = n_edges * F.col("sxx") - F.col("sx") * F.col("sx")
    dxy = n_edges * F.col("sxy") - F.col("sx") * F.col("sx")
    return (
        m.crossJoin(F.broadcast(cross))
        .select(
            "n_nodes",
            F.col("n_edges_dec").cast("long").alias("n_edges"),
            F.when(
                dxx > 0,
                dxy.cast("double") / F.sqrt(dxx.cast("double") * dxx.cast("double")),
            ).alias("assortativity"),
        )
    )


def ASSORTATIVITY_SQL() -> str:
    """STAGED for the r7/r8 rotation (gate: tests/test_staged_specs.py)."""
    return """
WITH pairs AS (
    SELECT DISTINCT o.o_custkey * 4 + 1 AS cust,
           l.l_suppkey * 4 + 2 AS supp
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
    SELECT cust AS src, supp AS dst FROM pairs
    UNION ALL
    SELECT supp AS src, cust AS dst FROM pairs
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
e AS (
    SELECT CAST(a.deg AS HUGEINT) AS dx, CAST(b.deg AS HUGEINT) AS dy
    FROM edges
    JOIN deg a ON edges.src = a.src
    JOIN deg b ON edges.dst = b.src
),
m AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(dx) AS sx, SUM(dy) AS sy,
           SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy, SUM(dx * dy) AS sxy
    FROM e
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT nn.n_nodes,
       CAST(m.n AS BIGINT) AS n_edges,
       CASE WHEN m.n * m.sxx - m.sx * m.sx > 0
             AND m.n * m.syy - m.sy * m.sy > 0
            THEN CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                 / sqrt(CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                        * CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE))
       END AS assortativity
FROM m CROSS JOIN nn
"""


# ---------------------------------------------------------------------------
# Hop-bounded single-source shortest paths (weighted min-plus)

SSSP_HOPS = 6  # synchronous Bellman-Ford rounds — see docstring


def sssp_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths from the graph's hub:
    cheapest-trade distance from the highest-degree node to every node
    reachable within ``SSSP_HOPS`` hops, where an edge's weight is the
    smallest quantity ever traded between that customer and supplier
    (an integer "friction" — min-plus semantics, the classic
    Bellman-Ford relaxation).

    The hop bound is part of the SEMANTICS, not a convergence fudge:
    the result is "cheapest cost using at most K hops" (the K-round
    Bellman-Ford invariant), identical in both engines because both
    run exactly K synchronous relaxations. Unbounded SSSP needs up to
    V-1 rounds; a K-hop readout is what a bounded-latency pipeline
    actually ships (and K rounds IS delta-stepping's outer loop shape
    on a 1000-executor cluster: per round one hash join dist ⋈ edges
    on the same key both sides plus one map-side-combined min —
    lineage cut every round via the checkpoint registry).

    Source selection is deterministic: max degree, ties to the
    smallest node id.
    """
    orders = catalog.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    # floor() in BOTH engines: a bare cast-to-long truncates in Spark
    # but CAST(... AS BIGINT) ROUNDS in DuckDB, so a fractional
    # quantity would diverge (code-review r7; TPC-H quantities are
    # integral, so values are unchanged). pin: the union's two
    # branches otherwise re-run the join+aggregate.
    pairs = pin(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            (F.col("o_custkey") * 4 + F.lit(1)).alias("cust"),
            (F.col("l_suppkey") * 4 + F.lit(2)).alias("supp"),
        )
        .agg(F.min(F.floor("l_quantity").cast("long")).alias("w"))
    )
    edges = pin(
        pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst"), "w")
        .unionByName(
            pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"), "w")
        )
    )
    # r12 (VERDICT r11 what's-wrong-#2): the node count is only a
    # broadcast/partition gate, and the hub selection already computes
    # a degree row per distinct src — pin that node-sized frame and
    # read BOTH the hub and the node count off it, instead of paying a
    # separate edge-wide select("src").distinct() exchange + aggregate
    # before the loop starts. At 100 TB that extra pre-loop job was a
    # full edge-frame exchange; counts are exact and unchanged
    # (|distinct src| == |degree rows| by construction).
    deg = pin(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    hub = deg.orderBy(F.desc("deg"), F.asc("src")).limit(1)
    dist = pin(hub.select(F.col("src").alias("node"), F.lit(0).cast("long").alias("dist")))
    # DECISION RECORD (r10): frontier-pruned relaxation (join edges
    # against only the nodes whose dist improved last round — the
    # delta-stepping refinement) was implemented, proven value-
    # identical at 3 SFs, and REVERTED on measurement: same-JVM
    # interleaved A/B at sf0.1, warm min-of-4, 6.0s full vs 6.7s
    # frontier (1.12x SLOWER). Why: this operator's semantics is K
    # EXPANDING rounds on a graph whose eccentricity exceeds K (the
    # hub reaches ~1.7k of 16k nodes by round 2 — measured), so every
    # round's frontier IS most of the distance table, while the
    # pruning pays an extra improvement-join + materialization per
    # round. Frontier pruning earns its keep when rounds CONVERGE
    # (frontier → 0); a K-hop bounded readout never reaches that
    # regime by construction.
    #
    # The distance table is node-bounded, so when it fits it
    # broadcasts into the per-round relax join — the pinned edge frame
    # is probed in place instead of re-shuffled every round (no extra
    # join or materialization, unlike the reverted frontier idea).
    n_nodes = deg.count()  # reads the pinned degree frame, no new pass
    n_edges = edges.count()
    bcast_dist = loops.fits_broadcast(spark, n_nodes)
    parts = loops.loop_parts(spark, nodes=n_nodes, edges=n_edges)
    with loops.scoped_conf(spark, loops.SHUFFLE_PARTITIONS, parts):
        for i in range(SSSP_HOPS):
            dist_side = F.broadcast(dist) if bcast_dist else dist
            relax = dist_side.join(edges, dist.node == edges.src).select(
                F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
            )
            new = dist.unionByName(relax).groupBy("node").agg(F.min("dist").alias("dist"))
            # cadence-2 checkpoints (the PageRank pattern): every other
            # round materializes and truncates lineage; in-between
            # rounds just persist
            dist = checkpoint(new) if i % 2 == 1 else pin(new)
    return dist.select("node", "dist").orderBy("node")


LPA_ROUNDS = 4  # fixed synchronous label-propagation rounds


def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the trade graph by synchronous label
    propagation (Raghavan 2007): every node starts as its own label;
    each round it adopts the most frequent label among its neighbors,
    ties to the SMALLEST label — the near-linear community pass that
    groups customers and suppliers who trade with the same crowd.

    Determinism (LPA's classic weakness, solved the k-core/SSSP way):
    the round count is FIXED at ``LPA_ROUNDS`` in both engines — the
    result is defined as the K-round synchronous state — and the
    per-node update is a total order (count DESC, label ASC), stated
    identically as Spark's ``max(struct(c, -label))`` and the
    oracle's ROW_NUMBER. Each node also casts ONE vote for its own
    current label (the standard stabilizer): without it, synchronous
    LPA on a bipartite graph sustains a 2-cycle flip-flop where the
    two sides permanently swap labels (crafted-tested); with it, a
    biclique converges to its minimum node id within two rounds.

    Scale shape per round: ONE hash join labels ⋈ edges (same key
    both sides) + one map-side-combined (src, label) count + one
    argmax aggregate — the delta-stepping outer-loop shape; lineage
    cut on the PageRank cadence via the checkpoint registry. Node ids
    are the shared multiplicative role encode (key*4 + role), decoded
    with bit shifts on BOTH engines (DuckDB's BIGINT ``//`` is
    float-backed — the budget-allocation lesson).

    The label frame is node-sized, so when it fits it broadcasts into
    the per-round edge join — the pinned edge frame is then probed in
    place instead of re-shuffled every round — and the loop's
    partition count follows the measured graph (``pac_spark.loops``).
    Neither can change the argmax (count DESC, label ASC is a total
    order per src).
    """
    # pinned: consumed LPA_ROUNDS + 1 times (the initial node set +
    # one join per round) — unpinned, each round replays the
    # orders ⋈ lineitem pair derivation
    edges = pin(trade_edges(spark, sf_dir))
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    labels = pin(labels)
    n_nodes = labels.count()
    n_edges = edges.count()
    bcast_labels = loops.fits_broadcast(spark, n_nodes)
    parts = loops.loop_parts(spark, nodes=n_nodes, edges=n_edges)
    with loops.scoped_conf(spark, loops.SHUFFLE_PARTITIONS, parts):
        for i in range(LPA_ROUNDS):
            label_side = F.broadcast(labels) if bcast_labels else labels
            votes = (
                edges.join(label_side, edges.dst == labels.node)
                .select(edges.src, "label")
                .unionByName(
                    labels.select(F.col("node").alias("src"), "label")
                )
                .groupBy("src", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            new = (
                votes.groupBy("src")
                .agg(
                    F.max(
                        F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                    ).alias("m")
                )
                .select(F.col("src").alias("node"), (-F.col("m.nl")).alias("label"))
            )
            # cadence-2 checkpoints (the PageRank pattern); non-
            # checkpoint rounds pin — the next round reads labels
            # TWICE (vote join + self-vote branch)
            labels = checkpoint(new) if i % 2 == 1 else pin(new)
    return labels.select(
        F.when(F.col("node") % 4 == 1, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("member_type"),
        F.shiftright(F.col("node"), 2).alias("member_key"),
        F.col("label").alias("community_id"),
    ).orderBy("member_type", "member_key")


def LPA_SQL(rounds: int = LPA_ROUNDS) -> str:
    """STAGED for the r11 rotation (gate: tests/test_staged_specs.py)."""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""
l{i} AS MATERIALIZED (
    SELECT src AS node, label FROM (
        SELECT src, label,
               ROW_NUMBER() OVER (
                   PARTITION BY src
                   ORDER BY COUNT(*) DESC, label ASC
               ) AS rn
        FROM (
            SELECT e.src, l.label
            FROM edges e JOIN l{i - 1} l ON e.dst = l.node
            UNION ALL
            SELECT node AS src, label FROM l{i - 1}
        )
        GROUP BY src, label
    ) WHERE rn = 1
)""")
    return f"""
WITH pairs AS (
    SELECT DISTINCT o_custkey * 4 + 1 AS cust, l_suppkey * 4 + 2 AS supp
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
    SELECT cust AS src, supp AS dst FROM pairs
    UNION ALL
    SELECT supp, cust FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{",".join(steps)}
SELECT CASE WHEN node % 4 = 1 THEN 'customer' ELSE 'supplier' END
           AS member_type,
       node >> 2 AS member_key,
       label AS community_id
FROM l{rounds}
ORDER BY member_type, member_key
"""


def SSSP_SQL(hops: int = SSSP_HOPS) -> str:
    """STAGED for the r7/r8 rotation (gate: tests/test_staged_specs.py)."""
    rounds = []
    for i in range(1, hops + 1):
        rounds.append(f"""
d{i} AS MATERIALIZED (
    SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{i - 1} d JOIN edges e ON d.node = e.src
    ) GROUP BY node
)""")
    return f"""
WITH pairs AS (
    SELECT o_custkey * 4 + 1 AS cust,
           l_suppkey * 4 + 2 AS supp,
           MIN(CAST(FLOOR(l_quantity) AS BIGINT)) AS w
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2
),
edges AS MATERIALIZED (
    SELECT cust AS src, supp AS dst, w FROM pairs
    UNION ALL
    SELECT supp, cust, w FROM pairs
),
d0 AS (
    SELECT src AS node, CAST(0 AS BIGINT) AS dist FROM edges
    GROUP BY src ORDER BY COUNT(*) DESC, src LIMIT 1
),
{",".join(rounds)}
SELECT node, dist FROM d{hops} ORDER BY node
"""


def clustering_coeff_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part over the TOP-K
    co-purchase graph (the SAME densified edge cut as
    :func:`triangle_top_parts` — one stated graph, two motif
    readouts): for each node with ≥ 2 neighbors,
    ``2·triangles / (deg·(deg−1))`` — how close the part's
    neighborhood is to a clique, the per-node texture the corpus-wide
    triangle count flattens away.

    Exactness: the coefficient is rational — reported in milli-units
    by the shared truncating division (``2000·tri div deg·(deg−1)``),
    no doubles anywhere. Degree-1 nodes are excluded by stated
    semantics in both engines (undefined denominator).

    Scale shape inherits the triangle argument: pair generation is
    the bounded basket self-join; the K-row edge frame is pinned and
    broadcast into the enumeration closes; degrees are one map-side
    aggregate over 2K endpoint rows; the final join is K-bounded.
    """
    from pac_spark.functions.exact import int_div

    edges = pin(
        _co_purchase_pairs(spark, sf_dir)
        .orderBy(F.desc("cnt"), "pa", "pb")
        .limit(TRIANGLE_TOP_EDGES)
        .select("pa", "pb")
    )
    e1 = edges.alias("e1")
    e2 = F.broadcast(edges.alias("e2"))
    e3 = F.broadcast(edges.alias("e3"))
    tri = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .select(
            F.col("e1.pa").alias("na"),
            F.col("e1.pb").alias("nb"),
            F.col("e2.pb").alias("nc"),
        )
    )
    tri_per_node = (
        tri.select(F.explode(F.array("na", "nb", "nc")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        edges.select(F.explode(F.array("pa", "pb")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri_per_node, "part_id", "left")
        .select(
            "part_id",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            int_div(
                F.coalesce("n_triangles", F.lit(0)) * 2000,
                F.col("degree") * (F.col("degree") - 1),
            ).alias("coeff_milli"),
        )
        .orderBy(F.desc("coeff_milli"), "part_id")
    )


def CLUSTERING_COEFF_SQL() -> str:
    """Oracle: the triangle CTE chain + an endpoint-degree rollup."""
    return f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pairs AS (
    SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cnt
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    GROUP BY 1, 2
),
e AS (SELECT pa, pb FROM pairs ORDER BY cnt DESC, pa, pb LIMIT {TRIANGLE_TOP_EDGES}),
tri AS (
    SELECT e1.pa AS na, e1.pb AS nb, e2.pb AS nc
    FROM e e1
    JOIN e e2 ON e2.pa = e1.pb
    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
tpn AS (
    SELECT part_id, COUNT(*) AS n_triangles FROM (
        SELECT na AS part_id FROM tri
        UNION ALL SELECT nb FROM tri
        UNION ALL SELECT nc FROM tri
    ) GROUP BY part_id
),
deg AS (
    SELECT part_id, COUNT(*) AS degree FROM (
        SELECT pa AS part_id FROM e UNION ALL SELECT pb FROM e
    ) GROUP BY part_id
)
SELECT deg.part_id, CAST(degree AS BIGINT) AS degree,
       CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
       (COALESCE(n_triangles, 0) * 2000) // (degree * (degree - 1))
           AS coeff_milli
FROM deg LEFT JOIN tpn ON deg.part_id = tpn.part_id
WHERE degree >= 2
ORDER BY coeff_milli DESC, deg.part_id
"""


CC_TOP_EDGES = 1024  # strongest trade edges kept in the component graph


def trade_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component census of the STRONG trade graph: keep the
    ``CC_TOP_EDGES`` highest-volume customer↔supplier relationships
    (distinct-order count, total tie-break — the triangle/LPA
    densification posture: the full graph is one giant component, so
    the structure worth reporting lives in the strong-edge backbone),
    run exact connected components, and report each component's size
    and role mix — the trading-bloc readout.

    Reuses the pointer-doubling
    :func:`~pac_spark.operators.entity_resolution.connected_components`
    (convergence checked, raises on the round cap — never partial
    labels); node encode is the shared ``key*4 + role`` scheme and
    the census decodes roles with one ``% 4``. The oracle computes the
    SAME fixpoint via a recursive min-label CTE with a label < node
    prune (see TRADE_CC_SQL — its docstring records why a fixed
    round count was wrong: the r11 sf0.1 sweep caught a 10-round
    doubling unroll stalling two components short).

    Scale shape: strength aggregate is one map-side-combined groupBy
    over the orders ⋈ lineitem join; the cut is
    TakeOrderedAndProject; everything after runs on a K-row frame.
    NULL custkey/suppkey rows are excluded in both engines (no node).
    """
    orders = catalog.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    strength = (
        orders.filter(F.col("o_custkey").isNotNull())
        .join(
            li.filter(F.col("l_suppkey").isNotNull()),
            orders.o_orderkey == li.l_orderkey,
        )
        .groupBy(
            (F.col("o_custkey") * 4 + F.lit(1)).alias("id_a"),
            (F.col("l_suppkey") * 4 + F.lit(2)).alias("id_b"),
        )
        .agg(F.countDistinct("o_orderkey").alias("c"))
    )
    edges = pin(
        strength.orderBy(F.desc("c"), "id_a", "id_b")
        .limit(CC_TOP_EDGES)
        .select("id_a", "id_b")
    )
    nodes = (
        edges.select(F.explode(F.array("id_a", "id_b")).alias("id"))
        .distinct()
    )
    from pac_spark.operators.entity_resolution import connected_components

    labels = connected_components(nodes, edges)
    return (
        labels.groupBy(F.col("label").alias("component_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum((F.col("id") % 4 == 1).cast("long")).alias("n_customers"),
            F.sum((F.col("id") % 4 == 2).cast("long")).alias("n_suppliers"),
        )
        .orderBy(F.desc("n_members"), "component_id")
    )


def TRADE_CC_SQL() -> str:
    """Oracle: the strength cut + a TRUE min-label FIXPOINT via
    ``WITH RECURSIVE`` — no round bound to under-converge (the r11
    sf0.1 sweep caught exactly that: 10 unrolled pointer-doubling
    rounds stalled two components short, because the l(l) jump stops
    helping at a local-minimum label on a chain). The recursion is
    safe HERE because the top-K cut bounds component sizes (row
    growth is at most Σ|C|² accumulated (node, label) pairs) and the
    ``label < node`` prune keeps only labels that can still win a
    node's MIN — the component minimum always survives it."""
    return f"""
WITH RECURSIVE strength AS (
    SELECT o.o_custkey * 4 + 1 AS id_a, l.l_suppkey * 4 + 2 AS id_b,
           COUNT(DISTINCT o.o_orderkey) AS c
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL
    GROUP BY 1, 2
),
e AS (
    SELECT id_a, id_b FROM strength
    ORDER BY c DESC, id_a, id_b LIMIT {CC_TOP_EDGES}
),
und AS (
    SELECT id_a AS src, id_b AS dst FROM e
    UNION ALL SELECT id_b, id_a FROM e
),
r AS (
    SELECT dst AS n, MIN(LEAST(src, dst)) AS l FROM und GROUP BY dst
    UNION
    SELECT e2.dst, r.l FROM r JOIN und e2 ON e2.src = r.n WHERE r.l < e2.dst
),
labels AS (SELECT n, MIN(l) AS l FROM r GROUP BY n)
SELECT CAST(l AS BIGINT) AS component_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN n % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_customers,
       CAST(SUM(CASE WHEN n % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_suppliers
FROM labels
GROUP BY l ORDER BY n_members DESC, component_id
"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg) on the directed trade graph
# ---------------------------------------------------------------------------

HITS_SCALE = 10**6  # score micro-units: max-normalized each half-round
HITS_ROUNDS = 4


def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg's HITS over the DIRECTED purchase graph (customer →
    supplier): a customer is a good HUB if it buys from good
    authorities; a supplier is a good AUTHORITY if good hubs buy from
    it. Mutually-recursive power iteration on A/Aᵀ — the link-analysis
    complement of :func:`pagerank` (one damped random-walk score) and
    a different fixpoint: HITS converges to the dominant singular
    pair of the adjacency matrix, so on this bipartite graph the
    authority vector ranks suppliers by *recursively weighted* buyer
    breadth, not raw degree. Reference parity: the reference ships no
    link analysis at all — this extends the engine's graph family the
    same way pagerank/k-core/LPA did.

    Exactness (the pagerank discipline): scores are BIGINT micro-units;
    each half-round is an integer SUM followed by max-normalization
    ``score · 10⁶ div max`` — the product is computed in decimal(38,0)
    so a petabyte-scale raw sum cannot overflow, and every operand is
    positive so Spark's ``div`` (truncation) and DuckDB's ``//``
    (floor) agree. No float anywhere; bit-identical at any partition
    count and vs the unrolled-CTE oracle.

    Scale shape: the distinct (cust, supp) pair frame is pinned and
    reused across all 2·K joins (equi-joins on the pair keys, never a
    theta join); each normalization is a 1-row max aggregate broadcast
    back via crossJoin — the k-core "doomed scalar" idiom. Per round:
    2 hash joins + 2 map-side-combined aggregates + 2 scalar
    broadcasts, K = 4 fixed rounds; frames stay node-sized. The
    per-round ``pin`` keeps lineage at the round boundary, the same
    cadence argument as pagerank's.
    """
    orders = catalog.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = catalog.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # the trade_edges pair build, kept DIRECTED (cust → supp): calling
    # trade_edges and filtering the forward half back out would keep
    # the reverse union branch alive in the plan (the % 4 filter is
    # data-dependent, Catalyst cannot prune the branch statically)
    pairs = pin(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 4 + F.lit(1)).alias("cust"),
            (F.col("l_suppkey") * 4 + F.lit(2)).alias("supp"),
        )
        .distinct()
    )
    if not pairs.head(1):
        raise ValueError("hits_hub_authority needs a non-empty edge set")

    def _norm(df: DataFrame, key: str, out: str) -> DataFrame:
        # eager checkpoint, not pin: each half-round stacks a
        # broadcast crossJoin on the previous one, and the optimizer's
        # cost on that lineage grows superlinearly — the un-cut chain
        # stalled analysis for minutes at sf0.001 (measured) while
        # checkpointed rounds run in seconds. Same cadence argument as
        # pagerank's per-round checkpoint; frames are node-sized.
        mx = df.agg(F.max("raw").alias("mx"))
        return checkpoint(
            df.crossJoin(F.broadcast(mx)).select(
                key,
                F.expr(
                    f"CAST((CAST(raw AS DECIMAL(38,0)) * {HITS_SCALE})"
                    " div mx AS BIGINT)"
                ).alias(out),
            )
        )

    hubs = pairs.select("cust").distinct().select(
        "cust", F.lit(HITS_SCALE).cast("long").alias("h")
    )
    auth = None
    for _ in range(HITS_ROUNDS):
        a_raw = (
            pairs.join(hubs, "cust")
            .groupBy("supp")
            .agg(F.sum("h").alias("raw"))
        )
        auth = _norm(a_raw, "supp", "a")
        h_raw = (
            pairs.join(auth, "supp")
            .groupBy("cust")
            .agg(F.sum("a").alias("raw"))
        )
        hubs = _norm(h_raw, "cust", "h")
    return (
        auth.select(
            F.lit("supplier").alias("role"),
            F.expr("supp div 4").alias("entity_key"),
            F.col("a").alias("score_micro"),
        )
        .unionAll(
            hubs.select(
                F.lit("customer").alias("role"),
                F.expr("cust div 4").alias("entity_key"),
                F.col("h").alias("score_micro"),
            )
        )
        .orderBy(F.desc("score_micro"), "role", "entity_key")
    )


def HITS_SQL(rounds: int = HITS_ROUNDS) -> str:
    """DuckDB oracle: the SAME integer half-rounds, unrolled as
    chained CTEs (h0 .. h{K}, a0 .. a{K-1})."""
    parts = [
        f"""WITH pairs AS MATERIALIZED (
    SELECT DISTINCT o_custkey * 4 + 1 AS cust,
                    l_suppkey * 4 + 2 AS supp
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
h0 AS (SELECT DISTINCT cust, CAST({HITS_SCALE} AS BIGINT) AS h FROM pairs)"""
    ]
    for i in range(rounds):
        parts.append(
            f""",
ar{i} AS (
    SELECT supp, SUM(h) AS raw FROM pairs JOIN h{i} USING (cust)
    GROUP BY supp
),
am{i} AS (SELECT MAX(raw) AS mx FROM ar{i}),
a{i} AS MATERIALIZED (
    SELECT supp,
           CAST((CAST(raw AS HUGEINT) * {HITS_SCALE}) // mx AS BIGINT) AS a
    FROM ar{i}, am{i}
),
hr{i} AS (
    SELECT cust, SUM(a) AS raw FROM pairs JOIN a{i} USING (supp)
    GROUP BY cust
),
hm{i} AS (SELECT MAX(raw) AS mx FROM hr{i}),
h{i + 1} AS MATERIALIZED (
    SELECT cust,
           CAST((CAST(raw AS HUGEINT) * {HITS_SCALE}) // mx AS BIGINT) AS h
    FROM hr{i}, hm{i}
)"""
        )
    parts.append(
        f"""
SELECT role, entity_key, score_micro FROM (
    SELECT 'supplier' AS role, CAST(supp // 4 AS BIGINT) AS entity_key,
           a AS score_micro
    FROM a{rounds - 1}
    UNION ALL
    SELECT 'customer', CAST(cust // 4 AS BIGINT), h FROM h{rounds}
)
ORDER BY score_micro DESC, role, entity_key"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Personalized PageRank from the hub seed
# ---------------------------------------------------------------------------

PPR_ROUNDS = 8


def ppr_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the graph's hub (max degree, ties to
    the smallest node id — the sssp_from_hub seed rule): teleport mass
    returns to the SEED, not uniformly, so the stationary score ranks
    every entity by random-walk PROXIMITY to the seed — the
    "similar/related entities" query that global :func:`pagerank`
    cannot answer (its uniform teleport measures global importance).

    Integer exactness: the pagerank micro-unit discipline — BIGINT
    ranks, per-edge ``rank div deg``, damping in integer percent —
    with the teleport term ``(100 − d)·SCALE div 100`` landing only on
    the seed. K = 8 synchronous rounds is part of the SEMANTICS (the
    sssp hop-bound argument): both engines run exactly K rounds, and
    the result frame holds exactly the nodes reached within K hops —
    unreached nodes score 0 and are OMITTED (stated in both engines;
    an empty graph yields an empty frame, no seed to rank from).

    Scale shape: the rank frame is SPARSE — it starts as 1 row and
    grows only over the seed's K-hop ball, so per round the hash join
    rank ⋈ edges and the map-side-combined mass aggregate touch
    reached-ball rows, not the node space (on a 1000-executor cluster
    this is the frontier locality global pagerank cannot have); the
    teleport re-injection is a FULL OUTER join against the 1-row seed
    frame. Lineage cut per round via the checkpoint registry.
    """
    edges = pin(trade_edges(spark, sf_dir))
    deg = pin(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    edged = pin(edges.join(deg, "src"))
    seed = pin(
        deg.orderBy(F.desc("deg"), F.asc("src"))
        .limit(1)
        .select(F.col("src").alias("node"))
    )
    teleport = (100 - DAMPING_PCT) * RANK_SCALE // 100
    ranks = checkpoint(
        seed.select("node", F.lit(RANK_SCALE).cast("long").alias("rank"))
    )
    for _ in range(PPR_ROUNDS):
        mass = (
            edged.join(ranks, edged.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div deg")).alias("mass"))
        )
        ranks = checkpoint(
            seed.withColumn("t", F.lit(teleport).cast("long"))
            .join(mass, F.col("node") == F.col("dst"), "full")
            .select(
                F.coalesce(F.col("node"), F.col("dst")).alias("node"),
                (
                    F.coalesce(F.col("t"), F.lit(0))
                    + F.expr(
                        f"({DAMPING_PCT} * coalesce(mass, 0)) div 100"
                    )
                ).cast("long").alias("rank"),
            )
        )
    role = F.when(F.col("node") % 4 == 2, F.lit("supplier")).otherwise(
        F.lit("customer")
    )
    return ranks.select(
        role.alias("role"),
        F.expr("node div 4").alias("entity_key"),
        F.col("rank").alias("ppr_micro"),
    ).orderBy(F.desc("ppr_micro"), "role", "entity_key")


def PPR_SQL(rounds: int = PPR_ROUNDS) -> str:
    """DuckDB oracle: the SAME sparse integer updates, unrolled."""
    teleport = (100 - DAMPING_PCT) * RANK_SCALE // 100
    parts = [
        f"""WITH pairs AS MATERIALIZED (
    SELECT DISTINCT o_custkey * 4 + 1 AS cust,
                    l_suppkey * 4 + 2 AS supp
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
    SELECT cust AS src, supp AS dst FROM pairs
    UNION ALL
    SELECT supp AS src, cust AS dst FROM pairs
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
edged AS MATERIALIZED (
    SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src
),
seed AS MATERIALIZED (
    SELECT src AS node FROM deg ORDER BY deg DESC, src LIMIT 1
),
r0 AS (SELECT node, CAST({RANK_SCALE} AS BIGINT) AS rank FROM seed)"""
    ]
    for i in range(rounds):
        parts.append(
            f""",
m{i} AS (
    SELECT e.dst, SUM(p.rank // e.deg) AS mass
    FROM edged e JOIN r{i} p ON e.src = p.node
    GROUP BY e.dst
),
r{i + 1} AS MATERIALIZED (
    SELECT COALESCE(s.node, m.dst) AS node,
           CAST(COALESCE(s.t, 0)
                + ({DAMPING_PCT} * COALESCE(m.mass, 0)) // 100
               AS BIGINT) AS rank
    FROM (SELECT node, CAST({teleport} AS BIGINT) AS t FROM seed) s
    FULL JOIN m{i} m ON s.node = m.dst
)"""
        )
    parts.append(
        f"""
SELECT CASE WHEN node % 4 = 2 THEN 'supplier' ELSE 'customer' END AS role,
       CAST(node // 4 AS BIGINT) AS entity_key,
       rank AS ppr_micro
FROM r{rounds}
ORDER BY ppr_micro DESC, role, entity_key"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# HyperBall: approximate neighborhood function / effective diameter
# ---------------------------------------------------------------------------

HB_HOPS = 3


def _hyperball_regs(spark: SparkSession, sf_dir: str) -> list:
    """The shared HyperBall register propagation: the checkpointed
    (node, reg, m) frame after each hop, ``[ball(·,0) .. ball(·,K)]``.
    Both readouts (global reach profile, per-node harmonic centrality)
    consume the same frames; the construction and its guarantees are
    documented on :func:`hyperball_reach_profile`."""
    from pac_spark.functions.hashing import md5_u60
    from pac_spark.operators.sketch import HLL_M, _rho_case

    edges = pin(trade_edges(spark, sf_dir))
    # symmetric graph: the src column alone covers the node set
    nodes = edges.select("src").distinct()
    h = md5_u60(F.concat(F.lit("hb|"), F.col("src").cast("string")))
    regs = checkpoint(
        nodes.select(
            F.col("src").alias("node"),
            (h % HLL_M).alias("reg"),
            F.shiftright(h, 6).alias("w"),
        )
        .withColumn("m", F.expr(_rho_case("w")))
        .select("node", "reg", "m")
    )
    out = [regs]
    for _ in range(HB_HOPS):
        moved = edges.join(regs, edges.src == regs.node).select(
            F.col("dst").alias("node"), "reg", "m"
        )
        regs = checkpoint(
            moved.unionByName(regs.select("node", "reg", "m"))
            .groupBy("node", "reg")
            .agg(F.max("m").alias("m"))
        )
        out.append(regs)
    return out


def _hb_node_estimates(frame: DataFrame) -> DataFrame:
    """(node, e): the raw HLL estimate of one register frame, rounded
    to whole BIGINT entities — the hll op's exact-integer harmonic sum
    with the one float division at the read-off."""
    from pac_spark.operators.sketch import HLL_K, HLL_M, _HLL_EST_NUM

    per_node = frame.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {HLL_K} - m)")
        ).alias("s_active"),
    )
    s_total = F.col("s_active") + (
        F.lit(HLL_M) - F.col("n_active")
    ) * F.lit(2**HLL_K)
    est = F.round(F.lit(_HLL_EST_NUM) / s_total.cast("double")).cast("long")
    return per_node.select("node", est.alias("e"))


def hyperball_reach_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall (Boldi & Vigna 2011): the approximate neighborhood
    function N(t) = Σ_v |ball(v, t)| of the trade graph for
    t = 0..``HB_HOPS``, plus the share-of-final readout that yields the
    EFFECTIVE DIAMETER (smallest t whose reach covers ≥ 90% of the
    final hop's). Exact all-pairs reach is O(n²) — the whole point of
    the algorithm is that a per-node HyperLogLog of the reachable set
    merges by register MAX, so one K-round edge propagation computes
    every node's ball size at once. This is the published
    MapReduce/SUMMARIZATION shape: per round the register frame
    (≤ 64·V rows) joins edges once and re-aggregates by max — never a
    pairwise product.

    Exactness: registers reuse the engine's from-scratch HLL
    (md5_u60 → 6-bit index + rho of the remaining bits — the
    hll_distinct_customers_by_priority construction, raw estimate, no
    small-range correction, all stated there — so SMALL balls
    overestimate hard: N(0) reads ≈ 45·V, not V, because a 1-element
    64-register sketch sits deep in HLL's linear-counting regime and
    the LC branch is libm-ln-tied, which the engine's exactness rule
    forbids; the SHARE readout is the robust one — near the effective
    diameter the hops compare similarly-sized balls whose bias largely
    cancels in the ratio); register maxima
    commute, so the sketch is partition-invariant, and the per-node
    estimate is the ONE float division of exact integers that the HLL
    op already hash-proves. Per-node estimates round to whole
    entities (BIGINT) before the reach SUM — order-independent — and
    the share arithmetic runs in decimal(38,0)/HUGEINT, overflow-proof
    at a 10⁹-node graph (where Σ round(est) ≤ n² ≈ 10¹⁸ still fits
    BIGINT). An empty graph yields the hop spine with NULL reach in
    BOTH engines (SUM over nothing), never a division error.

    Scale shape: K = 3 fixed rounds as stated semantics; per round
    one hash join regs ⋈ edges (same key both sides) + one
    map-side-combined (node, reg) max + a checkpoint; each hop's
    readout aggregates the checkpointed register frame — the
    whole profile costs K joins over a frame 64× the node count.
    """
    frames = [
        # global agg (no grouping): an empty graph must still yield
        # the hop row, with NULL reach — the stated spine contract
        _hb_node_estimates(r)
        .agg(F.sum("e").alias("reach_est"))
        .select(F.lit(t).cast("int").alias("hop"), "reach_est")
        for t, r in enumerate(_hyperball_regs(spark, sf_dir))
    ]
    prof = frames[0]
    for f in frames[1:]:
        prof = prof.unionByName(f)
    fin = prof.where(F.col("hop") == HB_HOPS).select(
        F.col("reach_est").alias("final_est")
    )
    share = F.expr(
        "CAST((CAST(reach_est AS DECIMAL(38,0)) * 1000) div final_est"
        " AS BIGINT)"
    )
    return (
        prof.crossJoin(F.broadcast(fin))
        .select(
            "hop",
            "reach_est",
            share.alias("share_of_final_milli"),
            (share >= 900).alias("reaches_90pct"),
        )
        .orderBy("hop")
    )


def _HB_PREFIX_SQL(hops: int) -> str:
    """The shared oracle prefix: the unrolled register propagation
    (h0..h{K}) plus each hop's per-node estimate CTE (e0..e{K} with
    columns node, e) — both HyperBall readouts build on it."""
    from pac_spark.functions.hashing import md5_u60_sql
    from pac_spark.operators.sketch import HLL_K, HLL_M, _HLL_EST_NUM, _rho_case

    h = md5_u60_sql("'hb|' || CAST(node AS VARCHAR)")

    def est_cte(t: int) -> str:
        return f""",
e{t} AS (
    SELECT node,
           CAST(ROUND({_HLL_EST_NUM!r}
               / CAST(s_active + ({HLL_M} - n_active)
                      * CAST({2**HLL_K} AS BIGINT) AS DOUBLE))
               AS BIGINT) AS e
    FROM (
        SELECT node, COUNT(*) AS n_active,
               SUM(CAST(1 AS BIGINT) << ({HLL_K} - m)) AS s_active
        FROM h{t} GROUP BY node
    ) p{t}
)"""

    parts = [
        f"""WITH pairs AS MATERIALIZED (
    SELECT DISTINCT o_custkey * 4 + 1 AS cust,
                    l_suppkey * 4 + 2 AS supp
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
    SELECT cust AS src, supp AS dst FROM pairs
    UNION ALL
    SELECT supp AS src, cust AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
hashed AS (
    SELECT node, {h} % {HLL_M} AS reg, {h} // {HLL_M} AS w FROM nodes
),
h0 AS MATERIALIZED (
    SELECT node, reg, {_rho_case('w')} AS m FROM hashed
)"""
    ]
    parts.append(est_cte(0))
    for t in range(1, hops + 1):
        parts.append(
            f""",
h{t} AS MATERIALIZED (
    SELECT node, reg, MAX(m) AS m FROM (
        SELECT e.dst AS node, r.reg, r.m
        FROM edges e JOIN h{t - 1} r ON r.node = e.src
        UNION ALL
        SELECT node, reg, m FROM h{t - 1}
    ) u GROUP BY node, reg
)"""
        )
        parts.append(est_cte(t))
    return "".join(parts)


def HYPERBALL_SQL(hops: int = HB_HOPS) -> str:
    """DuckDB oracle: the SAME register propagation, unrolled, with
    the hll op's estimate expression verbatim per hop."""
    readouts = ",".join(
        f"""
r{t} AS (SELECT {t} AS hop, SUM(e) AS reach_est FROM e{t})"""
        for t in range(hops + 1)
    )
    union = " UNION ALL ".join(f"SELECT * FROM r{t}" for t in range(hops + 1))
    return (
        _HB_PREFIX_SQL(hops)
        + ","
        + readouts
        + f""",
prof AS ({union}),
fin AS (SELECT reach_est AS final_est FROM prof WHERE hop = {hops})
SELECT CAST(hop AS INT) AS hop,
       CAST(reach_est AS BIGINT) AS reach_est,
       CAST((CAST(reach_est AS HUGEINT) * 1000) // final_est AS BIGINT)
           AS share_of_final_milli,
       ((CAST(reach_est AS HUGEINT) * 1000) // final_est) >= 900
           AS reaches_90pct
FROM prof, fin ORDER BY hop"""
    )


HC_TOP = 20


def hyperball_harmonic_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate HARMONIC CENTRALITY — Boldi & Vigna's actual
    headline application of HyperBall: C_H(v) = Σ_{u≠v} 1/d(v, u),
    estimated hop-wise as Σ_t (|ball(v,t)| − |ball(v,t−1)|)/t for
    t = 1..``HB_HOPS`` (nodes first reached at hop t contribute 1/t;
    beyond-K contributions are cut — the hop bound is stated
    semantics, the sssp argument). The top-``HC_TOP`` most central
    entities, the "who can reach the market fastest" readout that
    degree alone gets wrong on chained topologies.

    Exactness: per-hop per-node estimates are the shared whole-entity
    BIGINT read-off (:func:`_hb_node_estimates`); register maxima are
    monotone, so every hop delta is ≥ 0 BEFORE rounding and the
    rounded estimates stay nondecreasing — each 1/t term is then the
    truncating division ``(delta·1000) div t``, summed as exact
    integers. Ordering is total (centrality desc, role, entity key),
    so the top-k cut is deterministic.

    Scale shape: the register propagation is shared (K joins over the
    ≤ 64·V-row frame); the readout joins K+1 node-sized estimate
    frames on node and cuts with TakeOrderedAndProject — no extra
    corpus pass, no window over a single partition.
    """
    ests = [
        _hb_node_estimates(r).withColumnRenamed("e", f"e{t}")
        for t, r in enumerate(_hyperball_regs(spark, sf_dir))
    ]
    joined = ests[0]
    for f in ests[1:]:
        joined = joined.join(f, "node")
    cent = sum(
        F.expr(f"((e{t} - e{t - 1}) * 1000) div {t}")
        for t in range(1, HB_HOPS + 1)
    )
    role = F.when(F.col("node") % 4 == 2, F.lit("supplier")).otherwise(
        F.lit("customer")
    )
    return (
        joined.select(
            role.alias("role"),
            F.expr("node div 4").alias("entity_key"),
            cent.cast("long").alias("centrality_milli"),
        )
        .orderBy(F.desc("centrality_milli"), "role", "entity_key")
        .limit(HC_TOP)
    )


def HARMONIC_SQL(hops: int = HB_HOPS, top: int = HC_TOP) -> str:
    """DuckDB oracle: the shared prefix + the per-node hop-delta
    harmonic sum."""
    joins = " ".join(
        f"JOIN e{t} ON e{t}.node = e0.node" for t in range(1, hops + 1)
    )
    terms = " + ".join(
        f"((e{t}.e - e{t - 1}.e) * 1000) // {t}" for t in range(1, hops + 1)
    )
    return (
        _HB_PREFIX_SQL(hops)
        + f"""
SELECT CASE WHEN e0.node % 4 = 2 THEN 'supplier' ELSE 'customer' END AS role,
       CAST(e0.node // 4 AS BIGINT) AS entity_key,
       CAST({terms} AS BIGINT) AS centrality_milli
FROM e0 {joins}
ORDER BY centrality_milli DESC, role, entity_key
LIMIT {top}"""
    )
