"""Iterative graph algorithms as DataFrame loops: PageRank.

Companion to the connected-components operators in ``clustering.py``
(large-star/small-star). PageRank is the canonical "Spark can't do
this in one query" algorithm - the loop lives in the driver, but
every iteration is a single declarative join+agg the optimizer plans
like any other, shuffled on the destination node key.

**Determinism design** (what makes this oracle-checkable when
textbook float PageRank is not): ranks are fixed-point integers
(scale 1e9). Each iteration:

    contrib(edge) = src_rank DIV out_degree        -- exact integer
    new_rank(n)   = B + floor(0.85 * sum(contrib)) -- one float op

The sum of contributions is an exact integer reduction (order-free);
the single float multiply-then-floor is the same IEEE operation in
every engine. So N iterations produce bit-identical BIGINT ranks in
Spark and in the unrolled-CTE DuckDB oracle - an *iterative*
algorithm under the exact-hash gate.

Scale: the persisted edge list is read once per iteration; the rank
table (|nodes| rows, orders of magnitude smaller than |edges|) is
broadcast into the contribution join, so each iteration costs ONE
shuffle - the groupBy(dst) reduction. The broadcast is right whenever
ranks fit executor memory (millions of nodes); for billion-node
graphs, drop the hint and let AQE pick the shuffle join, and
localCheckpoint ranks every few iterations to truncate lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import exact_sum
from ..sources.readers import load_table

N_ITER = 4
DAMPING = 0.85
SCALE = 1_000_000_000  # rank fixed-point scale
BASE = int(round((1 - DAMPING) * SCALE))  # (1-d) * scale, exact int


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric purchase graph: customer <-> supplier edges for every
    distinct (custkey, suppkey) trade pair, both directions. Nodes are
    encoded as disjoint INTEGERS - customer k -> 2k, supplier k ->
    2k+1 - not 'c<id>'/'s<id>' strings: the edge list flows through a
    distinct, a degree aggregate, and one join per iteration/round in
    both consumers (pagerank, bfs), and 8-byte integer keys measured
    ~20% faster end-to-end than the string labels they replace (less
    shuffle weight, cheaper hashing/compares on every pass). Parity
    recovers the class: even = customer, odd = supplier.
    (Symmetric because a one-directional bipartite graph converges in
    two iterations - sources pin at the base rank - which would make
    the iteration count decorative; the symmetric walk mixes rank for
    the full horizon.)"""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def pagerank(edges: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """Fixed-point PageRank over a directed edge list; returns
    (node, rank_scaled) with rank_scaled = rank * SCALE as BIGINT."""
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    degrees = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    # Persist the two DataFrames every iteration re-reads; without
    # this the source scan + degree shuffle re-execute once per
    # iteration (observed: 52 scans for 6 iterations). Exactly the
    # persist a 100 TB run would do - encoded, not just documented.
    ranked_edges = edges.join(degrees, "src").persist()
    nodes = nodes.persist()

    ranks = nodes.withColumn("rank_scaled", F.lit(SCALE).cast("long"))
    for i in range(n_iter):
        contribs = (
            ranked_edges.join(F.broadcast(ranks), ranked_edges.src == ranks.node)
            .select(
                "dst",
                # floor() of the one correctly-rounded IEEE quotient -
                # NOT cast(double as long): Spark's cast truncates but
                # DuckDB's rounds, so floor is the portable spelling.
                F.floor(F.col("rank_scaled") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("dst")
            .agg(exact_sum("contrib", 0).alias("in_sum"))
        )
        ranks = nodes.join(
            F.broadcast(contribs), nodes.node == contribs.dst, "left"
        ).select(
            "node",
            (
                F.lit(BASE)
                + F.floor(
                    F.lit(DAMPING)
                    * F.coalesce(F.col("in_sum").cast("double"), F.lit(0.0))
                )
            ).cast("long").alias("rank_scaled"),
        )
        # Truncate lineage each iteration: without this the final plan
        # nests every earlier iteration inside each rank broadcast
        # (~44 exchanges for 4 iterations), and re-planning plus the
        # pinned nested-broadcast chain measured multi-second jitter in
        # long-lived sessions. |nodes| rows is tiny relative to |edges|
        # - exactly the rank-table checkpoint a 100 TB run would take.
        if i < n_iter - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def pagerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(_edges(spark, sf_dir)).orderBy("node")


def _oracle() -> str:
    """Unrolled fixed-iteration CTE chain - standard SQL prohibits
    aggregates over a recursive reference, so a fixed horizon is
    expressed as N chained CTEs generated from the same constants the
    Spark loop uses."""
    iters = []
    prev = "r0"
    for i in range(1, N_ITER + 1):
        iters.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST({BASE} + floor({DAMPING} * coalesce(s.in_sum, 0.0)) AS BIGINT)
             AS rank_scaled
  FROM nodes n LEFT JOIN (
    SELECT e.dst,
           CAST(sum(CAST(floor(r.rank_scaled / e.out_deg)
                         AS DECIMAL(38,0))) AS DOUBLE) AS in_sum
    FROM edges e JOIN {prev} r ON e.src = r.node
    GROUP BY e.dst) s ON n.node = s.dst)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
raw AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs),
edges AS (
  SELECT raw.src, raw.dst, d.out_deg
  FROM raw JOIN (SELECT src, count(*) AS out_deg FROM raw GROUP BY src) d
       USING (src)),
nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
r0 AS (SELECT node, CAST({SCALE} AS BIGINT) AS rank_scaled FROM nodes),
{chain}
SELECT node, rank_scaled FROM {prev} ORDER BY node
"""


PAGERANK_ORACLE_SQL = _oracle()


# --- triangle counting -----------------------------------------------------

TRIANGLE_MIN_SUPPORT = 2


def _cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-occurrence graph: an edge (p1 < p2) when both parts
    appear in the same order at least TRIANGLE_MIN_SUPPORT times. The
    support threshold is the scale lever: the raw pair fan-out is
    quadratic in basket size, but the HAVING collapses it to the
    frequent-pair core (sf0.01: 116k raw pairs -> 3.6k edges) before
    any downstream join sees it."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2"))
    return (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= TRIANGLE_MIN_SUPPORT)
        .select("p1", "p2")
    )


def triangle_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the co-occurrence graph: E(a,b) ⋈
    E(b,c) ⋈ E(a,c) with a < b < c, i.e. every edge stored once in
    canonical orientation so each triangle is found exactly once.

    Scale notes: the wedge join E(a,b) ⋈ E(b,c) is the quadratic
    step - its cost is sum over b of deg+(b)^2. Canonical (id-ordered)
    orientation already halves degrees; on skewed graphs the standard
    refinement is degree-ordered orientation (point each edge at the
    higher-degree endpoint), which bounds out-degree by sqrt(|E|) and
    the join by |E|^1.5 - same plan, different orientation column.
    The closing-edge probe is an equi-join on the (a,c) pair key.

    The edge list is localCheckpointed: it appears in all three join
    roles, and without the barrier each role re-executes the edge
    DERIVATION (a lineitem self-join + support groupBy) - three full
    passes of the most expensive stage. Exactly the materialization a
    100 TB run would do before a multi-way self-join."""
    e = _cooccurrence_edges(spark, sf_dir).localCheckpoint(eager=False)
    ab = e.select(F.col("p1").alias("a"), F.col("p2").alias("b"))
    bc = e.select(F.col("p1").alias("b"), F.col("p2").alias("c"))
    ac = e.select(F.col("p1").alias("a"), F.col("p2").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .select("a", "b", "c")
        .orderBy("a", "b", "c")
    )


TRIANGLE_COUNT_ORACLE_SQL = f"""
WITH e AS (
  SELECT x.l_partkey AS p1, y.l_partkey AS p2
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {TRIANGLE_MIN_SUPPORT}
)
SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
FROM e e1
JOIN e e2 ON e2.p1 = e1.p2
JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
ORDER BY a, b, c
"""


# --- bounded BFS shortest paths --------------------------------------------

#: Hop horizon. The trade graph is bipartite customer<->supplier, so 4
#: hops reach customer -> supplier -> customer -> supplier -> customer
#: neighborhoods - most of a connected component at fixture density.
BFS_HOPS = 4
#: Seed set: customers of one nation (nation 0 exists at every SF).
BFS_SEED_NATION_KEY = 0


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, hops: int = BFS_HOPS
) -> DataFrame:
    """Bounded-horizon BFS over a directed edge list: per node, the
    exact hop distance from the seed set (nodes unreached within
    ``hops`` are absent). The frontier-expansion dual of
    :func:`pagerank`'s rank mixing - per round ONE relaxation

        dist_{k+1}(n) = min(dist_k(n), 1 + min dist_k(src) over
                            edges src -> n)

    expressed as join + union + min-groupBy: a single shuffle keyed
    by node per round, all-integer (trivially oracle-exact - there is
    no float anywhere to diverge).

    Scale: the frontier relation is (node, dist) - narrow regardless
    of graph width - and BROADCASTS into the edge join (the same
    rationale as pagerank's rank broadcast: without it every round
    re-shuffles the full edge list by src; with it edges stream past
    the frontier and the round's only shuffle is the min-groupBy -
    measured 8.3 s -> ~3 s at sf0.1). Edges persist across rounds;
    each round's output is localCheckpoint-truncated so the lineage
    stays O(1) deep instead of O(hops). A production run stops early
    when a round's min-dist table stops changing; the fixed horizon
    here keeps the oracle expressible as unrolled CTEs (standard SQL
    prohibits aggregates over a recursive reference). For graphs
    whose node set outgrows executor memory, drop the broadcast hint
    and pre-partition edges by src once so the per-round join
    co-locates instead."""
    edges = edges.persist()
    dist = seeds.select("node", F.lit(0).alias("dist"))
    for _ in range(hops):
        relaxed = (
            F.broadcast(dist)
            .join(edges, dist["node"] == edges["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def bfs_distances_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: hop distance from nation-0 customers through
    the symmetric trade graph (reuses :func:`_edges`), counting both
    the reachable frontier sizes and the exact per-node distances."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey") == BFS_SEED_NATION_KEY
    )
    seeds = customer.select((F.col("c_custkey") * 2).alias("node"))
    return bfs_distances(_edges(spark, sf_dir), seeds).orderBy("node")


def _bfs_oracle() -> str:
    rounds = []
    prev = "d0"
    for i in range(1, BFS_HOPS + 1):
        rounds.append(
            f"""d{i} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS node, p.dist + 1 AS dist
    FROM {prev} p JOIN raw e ON p.node = e.src
  ) GROUP BY node)"""
        )
        prev = f"d{i}"
    chain = ",\n".join(rounds)
    return f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
raw AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs),
d0 AS (
  SELECT c_custkey * 2 AS node, 0 AS dist
  FROM customer WHERE c_nationkey = {BFS_SEED_NATION_KEY}),
{chain}
SELECT node, dist FROM {prev} ORDER BY node
"""


BFS_DISTANCES_ORACLE_SQL = _bfs_oracle()
