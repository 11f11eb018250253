"""Graph analytics over relationship edges derived from the relational
tables — the iterative-algorithm surface beyond connected components
(operators/dedup.py). PageRank here is EXACTLY oracled: ranks live in
integer micro-units (1e-12) and every update uses order-independent
BIGINT sums plus truncating integer division, so a fixed iteration count
produces bit-identical ranks in any engine — the same trick that made
text_lm_score and the dedup family hash-exact (float PageRank would
drift with partitioning; integer PageRank cannot).

Scale shape: the expensive part is EDGE DERIVATION (a fact-table
multi-join + DISTINCT/aggregate — one shuffle on the join key, then a
reduction to the compact (src, dst) pair). The nation-level iterations
(pagerank, LPA) then run on the DRIVER over the collected edge list,
which is <= 625 rows BY CONSTRUCTION (25-key nation domain) at any
corpus scale — the bounded-collect contract. A graph whose node set
grows with the data (e.g. BFS over entity keys) must keep its
iterations distributed: persist the edge list once and localCheckpoint
the frontier every few iterations to truncate lineage, as
graph_bfs_distance does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_bi_spark.caching import persist_tracked
from clinical_bi_spark.queries import query
from clinical_bi_spark.session import tune
from clinical_bi_spark.sources import load_tables

_SCALE = 10**12  # rank micro-units: 1.0 == 1e12
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio
_ITERS = 5

# Dangling-node policy (documented contract, mirrored exactly by the
# oracle): nodes with no out-edges leak their rank mass — no
# redistribution step. Ranks therefore do not sum to 1; they remain a
# deterministic centrality ordering, which is what the query is for.

_EDGES_SQL = """
  SELECT DISTINCT CAST(c.c_nationkey AS INT) AS src,
                  CAST(s.s_nationkey AS INT) AS dst
  FROM lineitem l
  JOIN orders   o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
"""


def _iteration_cte(k: int) -> str:
    prev = "r0" if k == 1 else f"it{k - 1}"
    return f"""it{k} AS (
  SELECT n.node,
         CAST((SELECT base FROM params)
              + ({_DAMP_NUM} * COALESCE(SUM(p.rank // d.outdeg), 0))
                // {_DAMP_DEN} AS BIGINT) AS rank
  FROM nodes n
  LEFT JOIN edges  e ON e.dst = n.node
  LEFT JOIN outdeg d ON d.src = e.src
  LEFT JOIN {prev} p ON p.node = e.src
  GROUP BY n.node
)"""


_PAGERANK_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst FROM edges
),
params AS (
  SELECT ({_SCALE} // (SELECT COUNT(*) FROM nodes)) AS r0,
         ((15 * ({_SCALE} // (SELECT COUNT(*) FROM nodes))) // 100) AS base
),
outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
),
r0 AS (
  SELECT node, (SELECT r0 FROM params) AS rank FROM nodes
),
{",".join(_iteration_cte(k) for k in range(1, _ITERS + 1))}
SELECT it.node AS node,
       nt.n_name AS nation,
       CAST(COALESCE(d.outdeg, 0) AS INT) AS out_deg,
       it.rank AS rank_micro,
       CAST(it.rank AS DOUBLE) / 1000000000000.0 AS rank
FROM it{_ITERS} it
JOIN nation nt ON nt.n_nationkey = it.node
LEFT JOIN outdeg d ON d.src = it.node
"""


def _trade_edges(t) -> DataFrame:
    """Distinct (customer_nation -> supplier_nation) edges — the shared
    fact-derivation behind every graph query here (mirrors _EDGES_SQL)."""
    return (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("c_nationkey").cast("int").alias("src"),
            F.col("s_nationkey").cast("int").alias("dst"),
        )
        .distinct()
    )


@query("graph_pagerank", oracle=_PAGERANK_ORACLE, bench=True)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration (5) damped PageRank over the nation-level
    trade graph (customer nation -> supplier nation, one edge per
    distinct trading pair), in exact integer micro-units:

        r0       = SCALE div N
        base     = (15 * r0) div 100
        r'(v)    = base + (85 * sum_{{u->v}} (r(u) div outdeg(u))) div 100

    Truncating div and BIGINT sums are order-independent, so the result
    is bit-identical however Spark partitions the contributions — the
    property that lets an iterative algorithm carry an exact SQL oracle
    (unrolled CTEs, one per iteration).

    The fact-scale work (deriving the distinct edge
    list) stays in Spark; the 5 rank iterations run on the DRIVER over
    the collected edge list. The collect is bounded BY CONSTRUCTION —
    the node domain is the 25-key nation dimension, so the distinct
    (src, dst) list is <= 625 rows at ANY corpus scale (the same bounded
    -collect contract as DSIR's 1024-bucket model and the BPE per-round
    argmax). The previous distributed loop spent ~10 tiny exchange/
    broadcast stages on 25-row relations — pure scheduler overhead that
    cannot amortize because the iterated relation cannot grow with the
    data (measured 2.68 s -> the edge-derivation cost alone). Integer //
    on non-negative Python ints is exactly SQL's truncating div, so the
    ranks are bit-identical to the distributed form (pinned by the
    unchanged DuckDB oracle and tests/test_analytics.py invariants)."""
    t = load_tables(tune(spark), sf_dir)
    erows = _trade_edges(t).collect()  # <= 625 rows by nation-domain bound
    edges = [(int(r.src), int(r.dst)) for r in erows]
    node_set = {s for s, _ in edges} | {d for _, d in edges}
    nodes = sorted(node_set)
    out_schema = "node int, out_deg int, rank_micro long"
    if nodes:
        n_nodes = len(nodes)
        r0 = _SCALE // n_nodes
        base = (15 * r0) // 100
        outdeg: dict[int, int] = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        rank = dict.fromkeys(nodes, r0)
        for _ in range(_ITERS):
            contrib = dict.fromkeys(nodes, 0)
            for s, d in edges:
                contrib[d] += rank[s] // outdeg[s]
            rank = {
                v: base + (_DAMP_NUM * contrib[v]) // _DAMP_DEN for v in nodes
            }
        rows = [(v, outdeg.get(v, 0), rank[v]) for v in nodes]
    else:
        rows = []
    rdf = spark.createDataFrame(rows, out_schema)
    return (
        rdf.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("node"),
        )
        .select(
            "node",
            F.col("n_name").alias("nation"),
            "out_deg",
            "rank_micro",
            (F.col("rank_micro").cast("double") / F.lit(1000000000000.0)).alias(
                "rank"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BFS shortest-hop distances from a source node (fixed-iteration frontier).
# ---------------------------------------------------------------------------

_BFS_SOURCE = 0  # nation 0 as the BFS root
_BFS_ITERS = 4


def _bfs_cte(k: int) -> str:
    prev = f"d{k - 1}"
    return f"""d{k} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS node, p.dist + 1 AS dist
    FROM {prev} p JOIN edges e ON e.src = p.node
  ) u GROUP BY node
)"""


_BFS_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst FROM edges
),
d0 AS (
  SELECT CAST({_BFS_SOURCE} AS INT) AS node, CAST(0 AS INT) AS dist
),
{",".join(_bfs_cte(k) for k in range(1, _BFS_ITERS + 1))}
SELECT n.node AS node,
       CAST(d.dist AS INT) AS dist
FROM nodes n JOIN d{_BFS_ITERS} d ON d.node = n.node
"""


@query("graph_bfs_distance", oracle=_BFS_ORACLE)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop distances from nation 0 over the directed trade
    graph, 4 relaxation rounds (covers the graph's diameter here;
    unreached nodes are absent, exactly as in the oracle). Each round is
    one hash join frontier-expansion + a MIN groupBy — integer
    distances, so the fold is order-independent and exactly oracled via
    unrolled CTEs. Same 100 TB posture as PageRank: persist edges once,
    iterate; rounds shuffle (node, candidate_dist) pairs with map-side
    partial MIN."""
    t = load_tables(tune(spark), sf_dir)
    edges = _trade_edges(t)
    edges = persist_tracked(edges)
    dist = spark.createDataFrame(
        [(_BFS_SOURCE, 0)], "node int, dist int"
    )
    for _ in range(_BFS_ITERS):
        expanded = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    return nodes.join(dist, "node").select(
        "node", F.col("dist").cast("int").alias("dist")
    )


# ---------------------------------------------------------------------------
# Triangle counting on the undirected trade graph.
# ---------------------------------------------------------------------------

_TRIANGLES_ORACLE = f"""
WITH raw AS ({_EDGES_SQL}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM und e1
JOIN und e2 ON e2.u = e1.v
JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
"""


@query("graph_triangles", oracle=_TRIANGLES_ORACLE)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the undirected trade graph: canonicalize each
    edge to (min, max), drop self-loops, and count ordered wedges
    u < v < w closed by a third edge — two hash equi-joins on edge
    endpoints (the standard node-ordering trick that counts each
    triangle exactly once and bounds wedge fan-out by the smaller
    endpoint's degree)."""
    t = load_tables(tune(spark), sf_dir)
    raw = _trade_edges(t)
    und = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    und = persist_tracked(und)
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


# Label-propagation community detection (Raghavan et al. 2007), made
# deterministic: SYNCHRONOUS updates, a fixed iteration count, and the
# (count DESC, label ASC) tie-break — no randomized visit order, so the
# final labels are engine-independent and the oracle unrolls the
# iterations as chained CTEs (the pagerank/IVF-fit pattern). The graph
# is the nation trade graph sparsified to ABOVE-AVERAGE-volume lanes
# (pair count > integer mean pair count — adaptive, SF-independent),
# then symmetrized; without sparsification the dense trade graph
# collapses to one community immediately and the query would test
# nothing.
_LPA_ITERS = 4

_LPA_EDGES_SQL = """
  pairs AS (
    SELECT CAST(c.c_nationkey AS INT) AS src,
           CAST(s.s_nationkey AS INT) AS dst,
           COUNT(*) AS cnt
    FROM lineitem l
    JOIN orders   o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    GROUP BY c.c_nationkey, s.s_nationkey
  ),
  thresh AS (
    SELECT SUM(cnt) // COUNT(*) AS avg_cnt FROM pairs
  ),
  heavy AS (
    SELECT src, dst FROM pairs WHERE cnt > (SELECT avg_cnt FROM thresh)
  ),
  uedges AS (
    SELECT src, dst FROM heavy
    UNION
    SELECT dst AS src, src AS dst FROM heavy
  )
"""


def _lpa_iteration_cte(k: int) -> str:
    prev = "lp0" if k == 1 else f"lp{k - 1}"
    return f"""lp{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label)
             AS rk
    FROM (
      SELECT e.src AS node, p.label, COUNT(*) AS c
      FROM uedges e JOIN {prev} p ON p.node = e.dst
      GROUP BY e.src, p.label
    ) g
  ) t WHERE rk = 1
)"""


_LPA_ORACLE = f"""
WITH {_LPA_EDGES_SQL},
lp0 AS (
  SELECT DISTINCT src AS node, src AS label FROM uedges
),
{",".join(_lpa_iteration_cte(k) for k in range(1, _LPA_ITERS + 1))}
SELECT f.node, nt.n_name AS nation,
       CAST(f.label AS INT) AS community,
       CAST(COUNT(*) OVER (PARTITION BY f.label) AS BIGINT) AS community_size
FROM lp{_LPA_ITERS} f
JOIN nation nt ON nt.n_nationkey = f.node
"""


@query("graph_label_propagation", oracle=_LPA_ORACLE, bench=True)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via deterministic synchronous label
    propagation (_LPA_ITERS = 4 fixed iterations, min-label tie-break) over the
    above-average-volume trade lanes, symmetrized. Exactly oracled —
    the randomized-visit-order nondeterminism of textbook LPA is
    replaced by the synchronous (count DESC, label ASC) rule, the same
    determinism-over-optimality trade the PageRank and IVF-fit
    graduations made.

    Scale shape: the fact-scale work is the lane aggregation (one
    map-side-combined fact join, shared shape with graph_pagerank's
    audit); the 4 label iterations run on the driver over the collected
    <=625-row lane table (nation-domain bound — see the comment
    below)."""
    t = load_tables(tune(spark), sf_dir)
    pairs = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("c_nationkey").cast("int").alias("src"),
            F.col("s_nationkey").cast("int").alias("dst"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    # ONE bounded collect of the aggregated lane table
    # (<= 625 rows BY CONSTRUCTION — the nation-domain bound, same
    # bounded-collect contract as graph_pagerank's edge list) replaces
    # (a) the separate threshold-scalar action that re-ran the fact-scale
    # 4-way join a second time for the heavy filter, (b) the eager
    # localCheckpoint materialization, and (c) 4 iterations x (join +
    # groupBy + window) of tiny exchange stages over 25-node relations.
    # The synchronous (count DESC, label ASC) rule is exact integer
    # bookkeeping, so the driver fixpoint is value-identical to the
    # distributed form (pinned by the unchanged DuckDB oracle).
    prows = pairs.collect()
    if prows:
        total = sum(int(r.cnt) for r in prows)
        # SUM // COUNT, like the oracle's thresh CTE (values non-negative,
        # so Python floor-div == the previous double-div + bigint cast)
        avg_cnt = total // len(prows)
        heavy = {
            (int(r.src), int(r.dst)) for r in prows if int(r.cnt) > avg_cnt
        }
        uedges = heavy | {(d, s) for s, d in heavy}
        neigh: dict[int, list[int]] = {}
        for s, d in sorted(uedges):
            neigh.setdefault(s, []).append(d)
        labels = {v: v for v in neigh}
        for _ in range(_LPA_ITERS):
            new_labels = {}
            for v, ns in neigh.items():
                counts: dict[int, int] = {}
                for u in ns:
                    lbl = labels[u]
                    counts[lbl] = counts.get(lbl, 0) + 1
                # ROW_NUMBER() OVER (ORDER BY c DESC, label) = 1
                new_labels[v] = min(counts, key=lambda l: (-counts[l], l))
            labels = new_labels
        sizes: dict[int, int] = {}
        for lbl in labels.values():
            sizes[lbl] = sizes.get(lbl, 0) + 1
        rows = [
            (v, labels[v], sizes[labels[v]]) for v in sorted(labels)
        ]
    else:
        rows = []
    ldf = spark.createDataFrame(
        rows, "node int, community int, community_size long"
    )
    return (
        ldf.join(
            F.broadcast(
                t.nation.select(
                    F.col("n_nationkey").cast("int").alias("node"), "n_name"
                )
            ),
            "node",
        )
        .select(
            "node",
            F.col("n_name").alias("nation"),
            "community",
            "community_size",
        )
    )


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction over the part co-purchase graph.
#
# The canonical link-prediction score (Adamic & Adar 2003; the standard
# baseline in the recommender / graph-ML literature): two parts that
# share many LOW-DEGREE customers are more related than two sharing the
# same number of hub customers, so each common neighbor c contributes
# 1/ln(deg(c)) instead of 1. Computed here over the bipartite
# customer→part basket relation (orders ⋈ lineitem, DISTINCT pairs).
#
# Exactness playbook: the per-neighbor term is frozen to a NANO-INT —
# round(1e9 / ln(deg)) as BIGINT — *before* aggregation, so the score
# is an order-independent integer SUM (the data_psi_drift /
# graph_pagerank micro-int contract; deg is a small int, so both
# engines' ln agree far beyond the rounding precision — pinned per-deg
# in tests). deg ≥ 2 is automatic for any customer that generates a
# pair, so ln is never 0. ROUNDING CAVEAT: the per-deg
# pin spans exactly deg 2.._AA_BASKET_CAP and relies on Spark F.round
# (HALF_UP) == DuckDB ROUND (half-away) == Python round() (banker's)
# agreeing EMPIRICALLY over that range — the Python reference uses a
# different half-way tie rule, so any raise of _AA_BASKET_CAP MUST
# re-run the pin (tests/test_analytics.py keys the range to the cap,
# so the re-run is automatic — but a half-way tie at a new deg would
# rightly fail it; resolve by switching the Python reference to the
# half-away rule math.floor(x + 0.5), not by loosening the pin).
#
# Scale shape (the classic all-pairs trap, answered the winnow way):
# pair generation self-joins the basket relation on the CUSTOMER key,
# so cost is Σ_c deg(c)² — quadratic in basket size, not corpus size.
# Anti-skew cap: customers with deg > _AA_BASKET_CAP are EXCLUDED from
# pair generation (the df-cap playbook of dedup_winnow_pairs — a
# 10k-item hub basket predicts nothing pairwise and would alone emit
# 50M candidate rows; the oracle applies the same cap, so the contract
# is adjudicated, not silent). Output is bounded to pairs with ≥
# _AA_MIN_COMMON common neighbors — the strong-link set a recommender
# materializes. Only (cust, part, deg) ints ever shuffle.
# ---------------------------------------------------------------------------

_AA_BASKET_CAP = 64  # max basket size allowed into pair generation
_AA_MIN_COMMON = 3  # emit pairs with at least this many common neighbors

_ADAMIC_ADAR_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), deg AS (
  SELECT cust, COUNT(*) AS deg FROM baskets GROUP BY cust
), keep AS (
  SELECT b.cust, b.part,
         CAST(ROUND(1000000000.0 / ln(CAST(d.deg AS DOUBLE))) AS BIGINT)
           AS term
  FROM baskets b JOIN deg d ON d.cust = b.cust
  WHERE d.deg BETWEEN 2 AND {_AA_BASKET_CAP}
)
SELECT a.part AS part_a, b.part AS part_b,
       CAST(COUNT(*) AS BIGINT) AS n_common,
       CAST(SUM(a.term) AS BIGINT) AS aa_nano
FROM keep a JOIN keep b ON a.cust = b.cust AND a.part < b.part
GROUP BY 1, 2
HAVING COUNT(*) >= {_AA_MIN_COMMON}
"""


@query("graph_adamic_adar", oracle=_ADAMIC_ADAR_ORACLE, bench=True)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction: for every part pair sharing >=
    ``_AA_MIN_COMMON`` customers, sum round(1e9 / ln(basket size)) over
    the common customers (nano-int exact; hub baskets past
    ``_AA_BASKET_CAP`` excluded on both engines). See the block comment
    above for the exactness/anti-skew contract."""
    t = load_tables(tune(spark), sf_dir)
    baskets = (
        t.orders.join(
            t.lineitem, t.orders.o_orderkey == t.lineitem.l_orderkey
        )
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .distinct()
    )
    deg = baskets.groupBy("cust").agg(F.count(F.lit(1)).alias("deg"))
    keep = persist_tracked(
        baskets.join(
            deg.filter(
                (F.col("deg") >= 2) & (F.col("deg") <= _AA_BASKET_CAP)
            ),
            "cust",
        ).select(
            "cust",
            "part",
            F.round(F.lit(1e9) / F.log(F.col("deg").cast("double")))
            .cast("bigint")
            .alias("term"),
        )
    )
    pa = keep.select("cust", F.col("part").alias("part_a"), "term")
    pb = keep.select("cust", F.col("part").alias("part_b"))
    return (
        pa.join(pb, "cust")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("term").cast("bigint").alias("aa_nano"),
        )
        .filter(F.col("n_common") >= _AA_MIN_COMMON)
    )
