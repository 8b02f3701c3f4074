"""Graph analytics queries: PageRank over the supplier<->customer
trade graph (operators/pagerank.py; connected components' certified
query lives in queries/text.py as doc_dup_clusters).

The graph: one undirected trade relation per (supplier, customer)
pair that shares at least one lineitem, weighted by how many
lineitems they share — materialized as BOTH directed edges so the
random walk diffuses over the bipartite structure (a one-directional
build would make every customer a dangling sink and the ranks
degenerate after one step).

Registered r6 OUTSIDE the driver window (r8 debut candidate per the
queries/__init__.py cursor note); check_oracle-certified this round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators.pagerank import (
    pagerank,
    sql_pagerank,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.bfs import (
    bellman_ford,
    bfs_hops,
    multi_bfs_hops,
    sql_bellman_ford,
    sql_bfs_hops,
    sql_multi_bfs_hops,
    sql_widest_path,
    widest_path,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.kcore import (
    core_decomposition,
    kcore,
    sql_core_decomposition,
    sql_kcore,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.ktruss import (
    ktruss,
    sql_ktruss,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.hierarchy import (
    resolve_forest,
    sql_resolve_forest,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators._broadcast_guard import (
    guarded_broadcast,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators._session_cache import (
    keyed_cache,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.lpa import (
    label_propagation,
    sql_label_propagation,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.triangles import (
    sql_triangle_counts,
    triangle_counts,
)
from crypto_price_tracker_with_etl_dashboard_spark.queries import register
from crypto_price_tracker_with_etl_dashboard_spark.sources import load_table

_PR_ITERS = 4  # two full supplier<->customer diffusion round-trips


def _trade_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregated supplier->customer pair table (sup, cust, w),
    cached once per sf_dir in the session cache and shared by every
    trade_* query: ~10 of them run the identical lineitem-orders
    join + groupBy build (~1.4 s each at sf0.1).  Keyed, so a hit
    skips the source listing.  Node ids are numeric — supplier s ->
    2s, customer c -> 2c+1 (disjoint key spaces, and integer shuffle
    keys hash ~2x faster than the 's123'/'c456' string encoding)."""
    return keyed_cache(
        spark, ("trade_half", sf_dir), lambda: _build_trade_half(spark, sf_dir)
    )


def _build_trade_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # the certified graph is the FIRST ORDER YEAR's trade network —
    # a time-sliced influence analysis (the usual analytical cut);
    # the date predicate pushes down to the orders scan
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < "1996-01-01")
        .select("o_orderkey", "o_custkey")
    )
    half = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).cast("bigint").alias("sup"),
            (F.col("o_custkey") * 2 + 1).cast("bigint").alias("cust"),
        )
        .groupBy("sup", "cust")
        .agg(F.count("*").cast("bigint").alias("w"))
        .cache()  # consumed by both mirror branches + later queries
    )
    return half


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirrored undirected trade graph (src, dst, w): the directed
    pair table is AGGREGATED ONCE (and session-cached, _trade_half)
    and then mirrored — unioning the raw 600k-row pair stream in both
    directions before the groupBy paid double shuffle volume AND
    re-ran the lineitem-orders join per union branch (~3.3s -> ~1.4s
    edge build at sf0.1)."""
    half = _trade_half(spark, sf_dir)
    return half.select(
        F.col("sup").alias("src"), F.col("cust").alias("dst"), "w"
    ).unionByName(
        half.select(F.col("cust").alias("src"), F.col("sup").alias("dst"), "w")
    )


def q_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(
        _trade_edges(spark, sf_dir), iters=_PR_ITERS
    ).orderBy(F.col("pagerank").desc(), F.col("node").asc())


_EDGES_CTE = """half AS (
      SELECT CAST(l.l_suppkey * 2 AS BIGINT) AS sup,
             CAST(o.o_custkey * 2 + 1 AS BIGINT) AS cust,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT sup AS src, cust AS dst, w FROM half
      UNION ALL
      SELECT cust AS src, sup AS dst, w FROM half
    )"""

register(
    "trade_pagerank",
    q_trade_pagerank,
    sql_pagerank(_EDGES_CTE, iters=_PR_ITERS)
    + " ORDER BY pagerank DESC, node ASC",
)


# ---- Triangle counting / clustering coefficients ---------------------------
# The graph: users co-occurring in the same (props.k, hour) activity
# cell — the natural sparse interaction graph the events stream
# induces (the TPC-H co-supply projection is a COMPLETE graph at
# every SF — uniform random assignment connects every supplier pair —
# so it certifies nothing and its wedge stage is Θ(n³)).  Cell
# granularity keeps |edges| output-bound: ~650 edges at sf0.01,
# ~67k at sf0.1.
#
# _MAX_CELL_USERS is the 100 TB guard: a pathological cell with h
# users emits C(h, 2) pairs, so one hot cell (a bot spike on one k
# value in one hour) can dominate the whole edge build; cells above
# the cap are dropped on BOTH engines (standard projection-capping,
# same discipline as the ngram stop-shingle cap in functions/dedup.py).

_MAX_CELL_USERS = 256
# Celebrity-node guard (triangle_counts max_degree): at the certified
# SFs the max observed degree is 136, so results are unchanged; on a
# pathologically densified graph (sf1's fixed 1500-user population at
# 10x event rate drives the co-occurrence graph toward complete) the
# cap keeps the wedge stage bounded at n*C(cap,2) instead of Theta(n^3).
_MAX_NODE_DEGREE = 512
# Sampled-wedge estimator for the nodes the cap drops (r8 verdict
# "what's wrong" #1): each hub keeps its 64 lowest-md5-ranked
# neighbors, so the estimator's wedge volume is hubs * C(64, 2) ~
# 2016 wedges/hub — on the densified sf1 replica (1500 hubs) that is
# ~3M wedge rows where the exact path would need Theta(n^3) ~ 3.4e9.
# At certified SFs no node exceeds 512, so the estimator contributes
# zero rows and the only output change is the n_sampled_wedges=0
# column.
_EST_NEIGHBOR_CAP = 64


def _cooccur_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User co-occurrence edge list, each undirected edge once
    (u < v).  ONE shuffle builds the per-cell sorted user sets
    (collect_set dedups per-user repeats within a cell); pair
    expansion is then MAP-SIDE array arithmetic — the naive
    formulation (distinct + per-cell count + semi-join cap +
    equi-self-join) pays four shuffles over the cell stream for the
    identical edge list.

    The built edge list is cached per sf_dir in the session cache —
    the triangle and community queries share it, so the second graph
    query (and every bench re-run) skips the build (~1 s at sf0.1)."""
    return keyed_cache(
        spark,
        ("cooccur_edges", sf_dir),
        lambda: _build_cooccur_edges(spark, sf_dir),
    )


def _build_cooccur_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_cell = (
        ev.select(
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            F.date_trunc("hour", F.col("ts")).alias("cell"),
            "user_id",
        )
        .groupBy("k", "cell")
        .agg(F.sort_array(F.collect_set("user_id")).alias("us"))
        .filter(F.size("us") <= _MAX_CELL_USERS)
    )
    # all i<j pairs of the sorted set: u < v holds by construction
    pairs = F.expr(
        "flatten(transform(us, (x, i) ->"
        " transform(slice(us, i + 2, size(us) - i - 1),"
        " y -> struct(x AS u, y AS v))))"
    )
    # explode_outer: plain explode invites InferFiltersFromGenerate to
    # re-evaluate the pair expression a second time as a size() guard
    edges = (
        per_cell.select(F.explode_outer(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .distinct()
        .cache()
    )
    edges.count()  # materialize before either consumer fans out
    return edges


def q_events_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_counts(
        _cooccur_edges(spark, sf_dir),
        max_degree=_MAX_NODE_DEGREE,
        est_neighbor_cap=_EST_NEIGHBOR_CAP,
    ).orderBy(F.col("triangles").desc(), F.col("node").asc())


_TRI_EDGES_CTE = f"""cells AS (
      SELECT DISTINCT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             date_trunc('hour', ts) AS cell, user_id
      FROM events
    ),
    small AS (
      SELECT k, cell FROM cells GROUP BY k, cell
      HAVING COUNT(*) <= {_MAX_CELL_USERS}
    ),
    capped AS (
      SELECT c.k, c.cell, c.user_id FROM cells c
      JOIN small s ON s.k = c.k AND s.cell = c.cell
    ),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM capped a
      JOIN capped b ON a.k = b.k AND a.cell = b.cell
                   AND a.user_id < b.user_id
    )"""

register(
    "events_triangles",
    q_events_triangles,
    sql_triangle_counts(
        _TRI_EDGES_CTE,
        max_degree=_MAX_NODE_DEGREE,
        est_neighbor_cap=_EST_NEIGHBOR_CAP,
    )
    + " ORDER BY triangles DESC, node ASC",
)


# ---- Label-propagation communities -----------------------------------------
# Synchronous min-tie LPA over the same co-occurrence graph — a pure
# integer recursion, so the oracle unrolls the identical rounds.

_LPA_ITERS = 3


def q_events_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_propagation(
        _cooccur_edges(spark, sf_dir), iters=_LPA_ITERS
    ).orderBy("community", "node")


register(
    "events_communities",
    q_events_communities,
    sql_label_propagation(_TRI_EDGES_CTE, iters=_LPA_ITERS)
    + " ORDER BY community, node",
)


# ---- Hierarchy resolution (forest roots + depth) ---------------------------
# The data-derived forest: each user's parent is their MINIMUM
# smaller co-occurring neighbor (edges are u < v, so min(u) per v);
# users with no smaller neighbor are roots.  Unique parentage holds
# by construction (min is single-valued), so the relation is a
# forest and resolve_forest's pointer doubling applies.  The oracle
# is a genuine WITH RECURSIVE walk — real recursion differential,
# not an unrolled chain.


def q_events_user_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cooccur_edges(spark, sf_dir)
    parents = edges.groupBy("v").agg(F.min("u").alias("parent")).select(
        F.col("v").alias("child"), "parent"
    )
    return resolve_forest(parents).orderBy("node")


register(
    "events_user_forest",
    q_events_user_forest,
    sql_resolve_forest(
        _TRI_EDGES_CTE
        + """,
    parents AS (
      SELECT v AS child, MIN(u) AS parent FROM edges GROUP BY v
    )"""
    )
    + " ORDER BY node",
)


# ---- k-core decomposition --------------------------------------------------
# The density filter before expensive per-node work: peel nodes of
# in-subgraph degree < k until stable (operators/kcore.py).  The
# oracle unrolls _KCORE_ROUNDS peel steps — valid because peeling is
# monotone and the operator RAISES if the fixpoint needs more rounds
# than the unroll covers.

_KCORE_K = 6  # sf0.01 graph degeneracy is 6 (7-core is empty)
_KCORE_ROUNDS = 8


def q_events_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore(
        _cooccur_edges(spark, sf_dir), k=_KCORE_K, max_rounds=_KCORE_ROUNDS
    ).orderBy("node")


register(
    "events_kcore",
    q_events_kcore,
    sql_kcore("WITH_PLACEHOLDER", k=_KCORE_K, rounds=_KCORE_ROUNDS)
    .replace("WITH WITH_PLACEHOLDER,", "WITH " + _TRI_EDGES_CTE + ",")
    + " ORDER BY node",
)


# ---- BFS shortest hops from a source supplier -------------------------------
# Hop distance from supplier 1 (node 2 in the disjoint encoding) to
# every node reachable in <= _BFS_HOPS hops of the trade graph — the
# supply-chain blast-radius readout.  Spark runs the scale-correct
# visited-anti-join frontier iteration (operators/bfs.py); the oracle
# unrolls per-level DISTINCT expansions and takes MIN(level), which
# the operator's docstring proves equivalent.

_BFS_SOURCE = 2  # supplier 1 -> node 2*1 (exists at every sf)
_BFS_HOPS = 3


def q_trade_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    reached = bfs_hops(
        _trade_edges(spark, sf_dir), source=_BFS_SOURCE, max_hops=_BFS_HOPS
    )
    kind = F.when(F.col("node") % 2 == 0, "supplier").otherwise("customer")
    return reached.select(
        "node", kind.alias("kind"), "hops"
    ).orderBy("hops", "node")


register(
    "trade_bfs_hops",
    q_trade_bfs_hops,
    sql_bfs_hops(_EDGES_CTE, source=_BFS_SOURCE, max_hops=_BFS_HOPS).replace(
        "SELECT node, MIN(hops) AS hops FROM (",
        "SELECT node, CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END"
        " AS kind, MIN(hops) AS hops FROM (",
    )
    + " ORDER BY hops, node",
)


# ---- Weighted cheapest path (Bellman-Ford rounds) ---------------------------
# The weighted sibling of trade_bfs_hops: minimum total edge weight
# from supplier 1 to every node reachable within _BF_ROUNDS edges
# (operators/bfs.py::bellman_ford).  Visited-set pruning is unsound
# under weights (a longer path can be cheaper), so this certifies
# the full synchronous-relaxation shape instead — the unrolled
# oracle matches bit-for-bit even short of convergence because
# every partial distance is an exact BIGINT.

_BF_ROUNDS = 4


def q_trade_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    dist = bellman_ford(
        _trade_edges(spark, sf_dir), source=_BFS_SOURCE, rounds=_BF_ROUNDS
    )
    kind = F.when(F.col("node") % 2 == 0, "supplier").otherwise("customer")
    return dist.select("node", kind.alias("kind"), "cost").orderBy(
        "cost", "node"
    )


register(
    "trade_cheapest_path",
    q_trade_cheapest_path,
    sql_bellman_ford(_EDGES_CTE, source=_BFS_SOURCE, rounds=_BF_ROUNDS).replace(
        f"SELECT node, cost FROM d{_BF_ROUNDS}",
        f"SELECT node, CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END"
        f" AS kind, cost FROM d{_BF_ROUNDS} ORDER BY cost, node",
    ),
)


# ---- Personalized PageRank from supplier 1 ----------------------------------
# Same damped integer recursion as trade_pagerank, but the teleport
# mass (1-d) lands entirely on the source node (Haveliwala, WWW
# 2002), so ranks measure trade-graph PROXIMITY to supplier 1 — the
# recommendation/attribution view BFS hop counts can't give (it
# weighs HOW MANY short weighted paths, not just the shortest).

def q_trade_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(
        _trade_edges(spark, sf_dir), iters=_PR_ITERS, personalize=_BFS_SOURCE
    ).orderBy(F.col("pagerank").desc(), F.col("node").asc())


register(
    "trade_ppr",
    q_trade_ppr,
    sql_pagerank(_EDGES_CTE, iters=_PR_ITERS, personalize=_BFS_SOURCE)
    + " ORDER BY pagerank DESC, node ASC",
)


# ---- Multi-source harmonic closeness centrality ------------------------------
# WHICH of the first eight suppliers sits most central in the trade
# graph?  Harmonic closeness H(s) = sum over reached v != s of
# 1/d(s,v) (Marchiori & Latora, 2000 — well-defined under
# disconnection, unlike classic closeness), truncated at
# _CLOSENESS_HOPS like the landmark estimators.  One synchronized
# multi-source sweep (operators/bfs.py::multi_bfs_hops) shares each
# round's edge scan across all K sources — the Eppstein-Wang pivot
# shape, where K stays FIXED as the graph grows, so at 100 TB the
# cost is max_hops shared edge joins with O(K * |nodes|) state, not
# K full traversals.  1/d accumulates as exact integer ppm
# (1000000 div hops), so the oracle matches bit-for-bit.

_CLOSENESS_SOURCES = [2 * s for s in range(1, 9)]  # suppliers 1..8
_CLOSENESS_HOPS = 3


def q_trade_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    reached = multi_bfs_hops(
        _trade_edges(spark, sf_dir),
        sources=_CLOSENESS_SOURCES,
        max_hops=_CLOSENESS_HOPS,
    )
    return (
        reached.filter(F.col("hops") > 0)
        .groupBy("root")
        .agg(
            F.count("*").cast("bigint").alias("n_reached"),
            F.sum(F.expr("1000000 div hops")).cast("bigint").alias("harmonic_ppm"),
        )
        .orderBy(F.col("harmonic_ppm").desc(), F.col("root"))
    )


register(
    "trade_closeness",
    q_trade_closeness,
    f"""
    SELECT root, CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(SUM(1000000 // hops) AS BIGINT) AS harmonic_ppm
    FROM (
      {sql_multi_bfs_hops(_EDGES_CTE, _CLOSENESS_SOURCES, _CLOSENESS_HOPS)}
    )
    WHERE hops > 0
    GROUP BY root
    ORDER BY harmonic_ppm DESC, root
    """,
)


# ---- HITS hubs & authorities ------------------------------------------------
# The DIRECTED supplier->customer half of the trade graph (no
# mirror): hub = a supplier selling to well-bought customers,
# authority = a customer buying from well-selling suppliers — the
# buyer/seller asymmetry the PageRank mirror deliberately erases.
_HITS_ITERS = 4


def _trade_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregated supplier->customer half (the _trade_half build,
    direction kept): a pure rename of the session-cached pair table,
    so trade_hits shares the one lineitem-orders build too (r12)."""
    return _trade_half(spark, sf_dir).select(
        F.col("sup").alias("src"), F.col("cust").alias("dst"), "w"
    )


def q_trade_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.hits import hits

    return hits(
        _trade_directed(spark, sf_dir), iters=_HITS_ITERS
    ).orderBy(F.col("authority").desc(), F.col("hub").desc(), F.col("node"))


_DIRECTED_EDGES_CTE = """edges AS (
      SELECT CAST(l.l_suppkey * 2 AS BIGINT) AS src,
             CAST(o.o_custkey * 2 + 1 AS BIGINT) AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY 1, 2
    )"""


def _hits_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.hits import sql_hits

    return (
        sql_hits(_DIRECTED_EDGES_CTE, iters=_HITS_ITERS)
        + " ORDER BY authority DESC, hub DESC, node"
    )


register("trade_hits", q_trade_hits, _hits_sql())


# ---- degree assortativity ----------------------------------------------------
# Newman's degree assortativity r over the mirrored trade graph: the
# Pearson correlation of (deg(src), deg(dst)) across directed edge
# instances — do high-degree traders deal with other high-degree
# traders (r > 0) or with the periphery (r < 0)?  Bipartite
# supplier<->customer graphs are canonically DISassortative, so the
# certified figure has a sign the data must earn.
#
# Exactness: the five sufficient statistics (M, Sx, Sy, Sxy, Sx2,
# Sy2) are exact BIGINT sums; r is ONE shared double expression on
# them (the lineitem_quantity_model discipline), so both engines
# agree bit-for-bit.  Degrees broadcast back onto the edge list —
# the edge relation never reshuffles after its build.
_ASSORT_EXPR = (
    "(CAST(M AS DOUBLE) * CAST(Sxy AS DOUBLE)"
    " - CAST(Sx AS DOUBLE) * CAST(Sy AS DOUBLE))"
    " / (sqrt(CAST(M AS DOUBLE) * CAST(Sx2 AS DOUBLE)"
    "          - CAST(Sx AS DOUBLE) * CAST(Sx AS DOUBLE))"
    "    * sqrt(CAST(M AS DOUBLE) * CAST(Sy2 AS DOUBLE)"
    "           - CAST(Sy AS DOUBLE) * CAST(Sy AS DOUBLE)))"
)


def q_trade_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("deg"))
    ex = edges.join(
        F.broadcast(deg.select(F.col("src").alias("__s"), F.col("deg").alias("x"))),
        F.col("src") == F.col("__s"),
    ).join(
        F.broadcast(deg.select(F.col("src").alias("__d"), F.col("deg").alias("y"))),
        F.col("dst") == F.col("__d"),
    )
    stats = ex.agg(
        F.count("*").cast("bigint").alias("M"),
        F.sum("x").cast("bigint").alias("Sx"),
        F.sum("y").cast("bigint").alias("Sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("Sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("Sx2"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("Sy2"),
    )
    return stats.select(
        "M", "Sx", "Sy", "Sxy",
        F.expr(_ASSORT_EXPR).alias("assortativity"),
    )


register(
    "trade_assortativity",
    q_trade_assortativity,
    f"""
    WITH {_EDGES_CTE},
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    ex AS (
      SELECT dx.deg AS x, dy.deg AS y
      FROM edges e
      JOIN deg dx ON e.src = dx.src
      JOIN deg dy ON e.dst = dy.src
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS M,
             CAST(SUM(x) AS BIGINT) AS Sx,
             CAST(SUM(y) AS BIGINT) AS Sy,
             CAST(SUM(x * y) AS BIGINT) AS Sxy,
             CAST(SUM(x * x) AS BIGINT) AS Sx2,
             CAST(SUM(y * y) AS BIGINT) AS Sy2
      FROM ex
    )
    SELECT M, Sx, Sy, Sxy, {_ASSORT_EXPR} AS assortativity
    FROM stats
    """,
)


# ---- neighbor-overlap (Jaccard) supplier similarity ----------------------------
# Structural substitutability: two suppliers are similar when they
# sell to the same customers — the node-similarity primitive behind
# link prediction and entity consolidation (SimRank's first
# iteration).  Inverted-posting join on the shared customer with the
# ngram-jaccard stop-key cap (customers buying from more than 32
# suppliers are hub boilerplate and would quadratically dominate the
# pair stage); Jaccard in exact integer ppm; pairs kept at >= 3
# shared customers.
_NJ_MAX_CUST_DEG = 32
_NJ_MIN_SHARED = 3


def q_trade_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = _trade_directed(spark, sf_dir).select(
        F.col("src").alias("sup"), F.col("dst").alias("cust")
    )
    w = Window.partitionBy("cust")
    capped = (
        posts.withColumn("__deg", F.count("*").over(w))
        .filter(F.col("__deg") <= _NJ_MAX_CUST_DEG)
        .select("sup", "cust")
    )
    sizes = capped.groupBy("sup").agg(F.count("*").alias("n"))
    a = capped.select(F.col("sup").alias("a"), "cust")
    b = capped.select(F.col("sup").alias("b"), "cust")
    shared = (
        a.join(b, "cust")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= _NJ_MIN_SHARED)
    )
    na = sizes.select(F.col("sup").alias("a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("sup").alias("b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .select(
            "a", "b",
            F.col("shared").cast("bigint").alias("shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr(
                "shared * 1000000 div (n_a + n_b - shared)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "a", "b")
    )


from pyspark.sql import Window  # noqa: E402


register(
    "trade_neighbor_jaccard",
    q_trade_neighbor_jaccard,
    f"""
    WITH half AS (
      SELECT CAST(l.l_suppkey * 2 AS BIGINT) AS sup,
             CAST(o.o_custkey * 2 + 1 AS BIGINT) AS cust
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    capped AS (
      SELECT sup, cust FROM (
        SELECT sup, cust, COUNT(*) OVER (PARTITION BY cust) AS deg
        FROM half
      ) WHERE deg <= {_NJ_MAX_CUST_DEG}
    ),
    sizes AS (SELECT sup, COUNT(*) AS n FROM capped GROUP BY sup),
    shared AS (
      SELECT a.sup AS a, b.sup AS b, COUNT(*) AS shared
      FROM capped a JOIN capped b
        ON a.cust = b.cust AND a.sup < b.sup
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_NJ_MIN_SHARED}
    )
    SELECT s.a, s.b,
           CAST(s.shared AS BIGINT) AS shared,
           CAST(na.n AS BIGINT) AS n_a,
           CAST(nb.n AS BIGINT) AS n_b,
           CAST(s.shared AS BIGINT) * 1000000
             // CAST(na.n + nb.n - s.shared AS BIGINT) AS jaccard_ppm
    FROM shared s
    JOIN sizes na ON s.a = na.sup
    JOIN sizes nb ON s.b = nb.sup
    ORDER BY jaccard_ppm DESC, a, b
    """,
)


# ---- community modularity ------------------------------------------------------
# The quality score for the LPA partition: Newman modularity
# Q = sum_c [ e_c/m - (d_c/(2m))^2 ] over the same co-occurrence
# graph — did label propagation find real structure (Q >> 0) or
# noise (Q ~ 0)?  Per-community terms quantize to integer ppm (floor
# on one shared double expression over exact integer e_c / d_c / m)
# BEFORE any summation, so every row is engine-exact; the corpus
# consumer sums q_ppm for the scalar Q.
_MOD_EXPR = (
    "CAST(floor((CAST(e_in AS DOUBLE) / CAST(m AS DOUBLE)"
    " - (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))"
    "   * (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))"
    " * 1000000.0) AS BIGINT)"
)


def q_events_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cooccur_edges(spark, sf_dir)
    # the label table feeds THREE consumers (the two tag joins + the
    # per-community degree rollup) and LPA's final round is lazy —
    # truncate it once so the round isn't re-executed per branch
    # (the hits._l1_normalize discipline, r12 optimization)
    comm = label_propagation(edges, iters=_LPA_ITERS).localCheckpoint(eager=False)
    m = edges.count()  # one scalar (edge count), the |nodes| discipline
    cu = comm.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    cv = comm.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    # 2*m bounds |nodes| for free (m is already counted); the guard
    # drops the O(nodes) hint past MAX_BROADCAST_NODES instead of
    # OOMing a forced broadcast (r9 verdict ask #2)
    tagged = edges.join(
        guarded_broadcast(cu, 2 * m, op="modularity_tag_u"), "u"
    ).join(guarded_broadcast(cv, 2 * m, op="modularity_tag_v"), "v")
    e_in = (
        tagged.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").cast("bigint").alias("e_in"))
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    d_c = (
        comm.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("d_c"),
        )
    )
    return (
        d_c.join(e_in, "community", "left")
        .select(
            "community", "n_nodes",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("bigint").alias("e_in"),
            "d_c",
            F.lit(m).cast("bigint").alias("m"),
        )
        .select(
            "community", "n_nodes", "e_in", "d_c", "m",
            F.expr(_MOD_EXPR).alias("q_ppm"),
        )
        .orderBy(F.col("q_ppm").desc(), "community")
    )


def _modularity_sql() -> str:
    lpa = sql_label_propagation(_TRI_EDGES_CTE, iters=_LPA_ITERS)
    return f"""
    WITH {_TRI_EDGES_CTE},
    comm AS (SELECT * FROM ({lpa})),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    e_in AS (
      SELECT cu.community, CAST(COUNT(*) AS BIGINT) AS e_in
      FROM edges e
      JOIN comm cu ON e.u = cu.node
      JOIN comm cv ON e.v = cv.node
      WHERE cu.community = cv.community
      GROUP BY 1
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM edges
        UNION ALL SELECT v AS node FROM edges
      ) GROUP BY node
    ),
    dc AS (
      SELECT c.community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d.deg) AS BIGINT) AS d_c
      FROM comm c JOIN deg d ON c.node = d.node
      GROUP BY 1
    ),
    joined AS (
      SELECT dc.community, dc.n_nodes,
             CAST(COALESCE(e_in.e_in, 0) AS BIGINT) AS e_in,
             dc.d_c, m.m
      FROM dc LEFT JOIN e_in USING (community) CROSS JOIN m
    )
    SELECT community, n_nodes, e_in, d_c, m,
           {_MOD_EXPR} AS q_ppm
    FROM joined
    ORDER BY q_ppm DESC, community
    """


register(
    "events_community_modularity",
    q_events_community_modularity,
    _modularity_sql(),
)


# ---- Widest (maximum-bottleneck) trade route --------------------------------
# The logistics dual of trade_cheapest_path: the widest route from
# supplier 1 to every node within _BF_ROUNDS edges, where an edge's
# capacity is its trade count and a route's width is its NARROWEST
# edge — the (max, min) semiring swap of Bellman-Ford
# (operators/bfs.py::widest_path).  Same synchronous-relaxation
# scale shape (one join + one MAX per round, state O(nodes)); the
# unrolled oracle matches bit-for-bit short of convergence because
# every partial width is an exact BIGINT.


def q_trade_bottleneck_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    cap = widest_path(
        _trade_edges(spark, sf_dir), source=_BFS_SOURCE, rounds=_BF_ROUNDS
    )
    kind = F.when(F.col("node") % 2 == 0, "supplier").otherwise("customer")
    return cap.select("node", kind.alias("kind"), "width").orderBy(
        F.col("width").desc(), F.col("node").asc()
    )


register(
    "trade_bottleneck_path",
    q_trade_bottleneck_path,
    sql_widest_path(_EDGES_CTE, source=_BFS_SOURCE, rounds=_BF_ROUNDS).replace(
        f"SELECT node, width FROM c{_BF_ROUNDS} WHERE node <> {_BFS_SOURCE}",
        f"SELECT node, CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END"
        f" AS kind, width FROM c{_BF_ROUNDS} WHERE node <> {_BFS_SOURCE}"
        f" ORDER BY width DESC, node ASC",
    ),
)


# ---- trade-graph growth by quarter ---------------------------------------------
# The temporal-graph read the static centrality queries skip: how the
# trade network GROWS — new supplier-customer relations, distinct
# participants, and cumulative edges per order quarter.  First-seen
# quarters come from one (pair) min-agg; the cumulative count is a
# plain window over the handful of quarter rows (bucketed-prefix-sum
# exempt: the spine is O(quarters), not O(data)).


def q_trade_graph_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    pairs = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_suppkey", "o_custkey")
        .agg(F.min(F.date_trunc("quarter", "o_orderdate")).alias("first_q"))
    )
    per_q = pairs.groupBy(F.to_date("first_q").alias("quarter")).agg(
        F.count("*").cast("bigint").alias("new_edges"),
        F.count_distinct("l_suppkey").cast("bigint").alias("suppliers_active"),
        F.count_distinct("o_custkey").cast("bigint").alias("customers_active"),
    )
    w = Window.orderBy("quarter").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_q.withColumn(
            "cum_edges", F.sum("new_edges").over(w).cast("bigint")
        )
        .orderBy("quarter")
    )


register(
    "trade_graph_growth",
    q_trade_graph_growth,
    """
    WITH pairs AS (
      SELECT l_suppkey, o_custkey,
             MIN(date_trunc('quarter', o_orderdate)) AS first_q
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    per_q AS (
      SELECT CAST(first_q AS DATE) AS quarter,
             CAST(COUNT(*) AS BIGINT) AS new_edges,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS suppliers_active,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS customers_active
      FROM pairs GROUP BY 1
    )
    SELECT quarter, new_edges, suppliers_active, customers_active,
           CAST(SUM(new_edges) OVER (ORDER BY quarter
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_edges
    FROM per_q ORDER BY quarter
    """,
)


# ---- supplier degree CCDF ---------------------------------------------------------
# The tail-shape read on the trade graph: the complementary CDF of
# supplier degree (distinct customers per supplier) at fixed
# thresholds — how heavy is the hub tail the centrality queries rank?
# Exact integer counts; |thresholds| output rows.

_CCDF_THRESHOLDS = (1, 2, 5, 10, 20, 50, 100)


def q_trade_degree_ccdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    deg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_suppkey")
        .agg(F.count_distinct("o_custkey").cast("bigint").alias("degree"))
    )
    total = deg.agg(F.count("*").cast("bigint").alias("n_suppliers"))
    parts = []
    for t in _CCDF_THRESHOLDS:
        parts.append(
            deg.filter(F.col("degree") >= t)
            .agg(F.count("*").cast("bigint").alias("n_at_least"))
            .select(
                F.lit(t).cast("bigint").alias("threshold"), "n_at_least"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.crossJoin(F.broadcast(total))
        .select(
            "threshold",
            "n_suppliers",
            "n_at_least",
            F.expr("n_at_least * 1000000 div n_suppliers").alias("ccdf_ppm"),
        )
        .orderBy("threshold")
    )


def _degree_ccdf_sql() -> str:
    selects = []
    for t in _CCDF_THRESHOLDS:
        selects.append(
            f"""
      SELECT CAST({t} AS BIGINT) AS threshold,
             CAST(SUM(CASE WHEN degree >= {t} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_at_least
      FROM deg"""
        )
    union = "\n      UNION ALL\n".join(selects)
    return f"""
    WITH deg AS (
      SELECT l_suppkey, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS degree
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers FROM deg)
    SELECT threshold, n_suppliers, n_at_least,
           n_at_least * 1000000 // n_suppliers AS ccdf_ppm
    FROM ({union}
    ) CROSS JOIN total
    ORDER BY threshold
    """


register("trade_degree_ccdf", q_trade_degree_ccdf, _degree_ccdf_sql())


# ---- rich-club coefficient -----------------------------------------------------------
# Do the hubs trade with EACH OTHER?  The rich-club density phi(k):
# among suppliers/customers of degree >= k, the share of possible
# intra-club trade relations that exist.  Exact integers: club
# membership from the degree table, realized edges by joining the
# aggregated pair list against the club on both endpoints, possible
# edges = n_s * n_c (the graph is bipartite — supplier-customer
# pairs only).  |thresholds| output rows.

_RICH_CLUB_KS = (10, 20, 50)


def q_trade_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_suppkey", "o_custkey")
        .agg(F.count("*").alias("__w"))
        .select("l_suppkey", "o_custkey")
    )
    sdeg = pairs.groupBy("l_suppkey").agg(
        F.count("*").cast("bigint").alias("sdeg")
    )
    cdeg = pairs.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("cdeg")
    )
    parts = []
    for k in _RICH_CLUB_KS:
        s_club = sdeg.filter(F.col("sdeg") >= k).select("l_suppkey")
        c_club = cdeg.filter(F.col("cdeg") >= k).select("o_custkey")
        ns = s_club.agg(F.count("*").cast("bigint").alias("n_s"))
        nc = c_club.agg(F.count("*").cast("bigint").alias("n_c"))
        realized = (
            pairs.join(s_club, "l_suppkey")
            .join(c_club, "o_custkey")
            .agg(F.count("*").cast("bigint").alias("realized"))
        )
        parts.append(
            ns.crossJoin(F.broadcast(nc))
            .crossJoin(F.broadcast(realized))
            .select(
                F.lit(k).cast("bigint").alias("k"),
                "n_s",
                "n_c",
                "realized",
                F.expr(
                    "CASE WHEN n_s * n_c > 0"
                    " THEN realized * 1000000 div (n_s * n_c) END"
                ).alias("density_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("k")


def _rich_club_sql() -> str:
    selects = []
    for k in _RICH_CLUB_KS:
        selects.append(f"""
      SELECT CAST({k} AS BIGINT) AS k,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM sdeg WHERE sdeg >= {k})
               AS n_s,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cdeg WHERE cdeg >= {k})
               AS n_c,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs p
              JOIN sdeg s ON p.l_suppkey = s.l_suppkey AND s.sdeg >= {k}
              JOIN cdeg c ON p.o_custkey = c.o_custkey AND c.cdeg >= {k})
               AS realized""")
    union = "\n      UNION ALL\n".join(selects)
    return f"""
    WITH pairs AS (
      SELECT l_suppkey, o_custkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    sdeg AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS sdeg
      FROM pairs GROUP BY 1
    ),
    cdeg AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cdeg
      FROM pairs GROUP BY 1
    )
    SELECT k, n_s, n_c, realized,
           CASE WHEN n_s * n_c > 0
                THEN realized * 1000000 // (n_s * n_c) END AS density_ppm
    FROM ({union}
    ) ORDER BY k
    """


register("trade_rich_club", q_trade_rich_club, _rich_club_sql())


# ---- quarter-over-quarter edge retention ------------------------------------------
# The churn side of trade_graph_growth: of the trade relations active
# in quarter Q, how many are still active in Q+1?  Active = at least
# one lineitem that quarter; retention is an exact pair-set
# intersection via self-join on the (pair, quarter) table shifted one
# quarter.  Output is |quarter pairs| rows.


def q_trade_edge_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    pq = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_suppkey",
            "o_custkey",
            F.to_date(F.date_trunc("quarter", "o_orderdate")).alias("q"),
        )
        .distinct()
    )
    cur = pq.select("l_suppkey", "o_custkey", F.col("q").alias("quarter"))
    nxt = pq.select(
        "l_suppkey",
        "o_custkey",
        F.add_months(F.col("q"), -3).alias("quarter"),
    )
    per_q = cur.groupBy("quarter").agg(
        F.count("*").cast("bigint").alias("active_edges")
    )
    retained = (
        cur.join(nxt, ["l_suppkey", "o_custkey", "quarter"], "left_semi")
        .groupBy("quarter")
        .agg(F.count("*").cast("bigint").alias("retained_edges"))
    )
    last_q = pq.agg(F.max("q").alias("max_q"))
    return (
        per_q.join(retained, "quarter", "left")
        .crossJoin(F.broadcast(last_q))
        .filter(F.col("quarter") < F.col("max_q"))  # last quarter has no next
        .select(
            "quarter",
            "active_edges",
            F.coalesce("retained_edges", F.lit(0).cast("bigint")).alias(
                "retained_edges"
            ),
            F.expr(
                "COALESCE(retained_edges, CAST(0 AS BIGINT)) * 1000000"
                " div active_edges"
            ).alias("retention_ppm"),
        )
        .orderBy("quarter")
    )


register(
    "trade_edge_retention",
    q_trade_edge_retention,
    """
    WITH pq AS (
      SELECT DISTINCT l_suppkey, o_custkey,
             CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    per_q AS (
      SELECT q AS quarter, CAST(COUNT(*) AS BIGINT) AS active_edges
      FROM pq GROUP BY 1
    ),
    retained AS (
      SELECT a.q AS quarter, CAST(COUNT(*) AS BIGINT) AS retained_edges
      FROM pq a
      WHERE EXISTS (
        SELECT 1 FROM pq b
        WHERE b.l_suppkey = a.l_suppkey AND b.o_custkey = a.o_custkey
          AND b.q = a.q + INTERVAL 3 MONTH
      )
      GROUP BY 1
    ),
    last_q AS (SELECT MAX(q) AS max_q FROM pq)
    SELECT quarter, active_edges,
           COALESCE(retained_edges, CAST(0 AS BIGINT)) AS retained_edges,
           COALESCE(retained_edges, CAST(0 AS BIGINT)) * 1000000
             // active_edges AS retention_ppm
    FROM per_q LEFT JOIN retained USING (quarter)
    CROSS JOIN last_q
    WHERE quarter < max_q
    ORDER BY quarter
    """,
)


# ---- preferential-attachment test ---------------------------------------------------
# Network formation: do NEW trade relations attach to already-
# well-connected suppliers?  For every quarter after the first, the
# mean prior degree (exact milli) of the suppliers gaining new edges
# vs the mean prior degree over ALL suppliers active before that
# quarter — a ratio > 1 is the rich-get-richer signature behind the
# degree CCDF's heavy tail.


def q_trade_preferential_attachment(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    pq = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_suppkey", "o_custkey")
        .agg(
            F.min(
                F.to_date(F.date_trunc("quarter", "o_orderdate"))
            ).alias("first_q")
        )
    )
    quarters = pq.select(F.col("first_q").alias("q")).distinct()
    # prior degree of supplier s before quarter q = edges first seen
    # in any earlier quarter
    prior = (
        pq.join(quarters, pq.first_q < quarters.q)
        .groupBy("q", "l_suppkey")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    gainers = pq.select("l_suppkey", F.col("first_q").alias("q")).distinct()
    gainer_deg = gainers.join(prior, ["q", "l_suppkey"]).groupBy("q").agg(
        F.count("*").cast("bigint").alias("n_gainers"),
        F.sum("deg").cast("bigint").alias("gainer_deg_sum"),
    )
    all_deg = prior.groupBy("q").agg(
        F.count("*").cast("bigint").alias("n_prior"),
        F.sum("deg").cast("bigint").alias("prior_deg_sum"),
    )
    return (
        gainer_deg.join(all_deg, "q")
        .select(
            F.col("q").alias("quarter"),
            "n_gainers",
            F.expr("gainer_deg_sum * 1000 div n_gainers").alias(
                "gainer_mean_deg_milli"
            ),
            F.expr("prior_deg_sum * 1000 div n_prior").alias(
                "all_mean_deg_milli"
            ),
            F.expr(
                "(gainer_deg_sum * 1000 div n_gainers) * 1000000"
                " div (prior_deg_sum * 1000 div n_prior)"
            ).alias("attachment_ratio_ppm"),
        )
        .orderBy("quarter")
    )


register(
    "trade_preferential_attachment",
    q_trade_preferential_attachment,
    """
    WITH pq AS (
      SELECT l_suppkey, o_custkey,
             MIN(CAST(date_trunc('quarter', o_orderdate) AS DATE)) AS first_q
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    quarters AS (SELECT DISTINCT first_q AS q FROM pq),
    prior AS (
      SELECT quarters.q, pq.l_suppkey, CAST(COUNT(*) AS BIGINT) AS deg
      FROM pq JOIN quarters ON pq.first_q < quarters.q
      GROUP BY 1, 2
    ),
    gainers AS (SELECT DISTINCT l_suppkey, first_q AS q FROM pq),
    gainer_deg AS (
      SELECT q, CAST(COUNT(*) AS BIGINT) AS n_gainers,
             CAST(SUM(deg) AS BIGINT) AS gainer_deg_sum
      FROM gainers JOIN prior USING (q, l_suppkey)
      GROUP BY 1
    ),
    all_deg AS (
      SELECT q, CAST(COUNT(*) AS BIGINT) AS n_prior,
             CAST(SUM(deg) AS BIGINT) AS prior_deg_sum
      FROM prior GROUP BY 1
    )
    SELECT q AS quarter, n_gainers,
           gainer_deg_sum * 1000 // n_gainers AS gainer_mean_deg_milli,
           prior_deg_sum * 1000 // n_prior AS all_mean_deg_milli,
           (gainer_deg_sum * 1000 // n_gainers) * 1000000
             // (prior_deg_sum * 1000 // n_prior) AS attachment_ratio_ppm
    FROM gainer_deg JOIN all_deg USING (q)
    ORDER BY quarter
    """,
)


# ---- repeat-trade connected components --------------------------------------
# The WCC certification the dup-cluster family has (doc_dup_clusters)
# on a SECOND, relationally-derived graph: supplier<->customer pairs
# that traded at least _WCC_MIN_W times in the first order year form
# "repeat relationships"; their connected components are trading
# blocs.  Spark side reuses the adaptive pointer-jumping operator
# (operators/components.py — O(log n) rounds, three node-id shuffles
# per round); the oracle walks the transitive closure with a
# recursive CTE (fine at oracle scale; |walk| <= |V|*|comp width|).
# The w >= 2 cut is what keeps the graph sparse — the full bipartite
# trade graph is one giant component and certifies nothing.

_WCC_MIN_W = 2


def q_trade_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.components import (
        connected_components,
    )

    edges = _trade_edges(spark, sf_dir).filter(F.col("w") >= _WCC_MIN_W)
    cc = connected_components(edges, src="src", dst="dst")
    return (
        cc.groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum(F.expr("CAST(node % 2 = 0 AS BIGINT)"))
            .cast("bigint")
            .alias("n_suppliers"),
            F.sum(F.expr("CAST(node % 2 = 1 AS BIGINT)"))
            .cast("bigint")
            .alias("n_customers"),
        )
        .orderBy("component")
    )


register(
    "trade_components",
    q_trade_components,
    f"""
    WITH RECURSIVE {_EDGES_CTE},
    strong AS (
      SELECT src, dst FROM edges WHERE w >= {_WCC_MIN_W}
    ),
    walk(n, m) AS (
      SELECT src, dst FROM strong
      UNION
      SELECT w.n, e.dst FROM walk w JOIN strong e ON w.m = e.src
    ),
    comp AS (
      SELECT n, least(n, MIN(m)) AS component FROM walk GROUP BY n
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN n % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suppliers,
           CAST(SUM(CASE WHEN n % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_customers
    FROM comp GROUP BY component ORDER BY component
    """,
)


# ---- broadcast-guard observability row (batch 64) --------------------------------
# The iterative graph family's per-round O(nodes) broadcasts are now
# gated by operators/_broadcast_guard.py (r9 verdict ask #2): past
# MAX_BROADCAST_NODES the hint is dropped and Catalyst/AQE plans the
# join.  This row is the driver-certified observability side of that
# guard, reporting BOTH regimes a dataset can be in (r10 ADVICE):
#   hint_fits  — the EXACT-count regime: n_nodes vs the limit, the
#                decision PageRank makes (it materializes the exact
#                node count for its teleport constants anyway);
#   bound_fits — the FREE-upper-bound regime: 2*|edges| vs the limit,
#                the bound LPA (|nbr| = 2|edges| mirrored rows), HITS
#                and the modularity tag join actually pass, because
#                for them an exact node count would cost an extra
#                O(nodes) job per call.
# In the band n_nodes <= limit < 2*|edges| the two columns diverge
# (hint_fits=1, bound_fits=0) and every GUARDED round drops the hint
# — the divergent band is pinned in tests/test_batch64.py.  (The
# guard's behavioral contract — hint dropped above the threshold,
# bit-identical results either way — is pinned in
# tests/test_broadcast_guard.py; the decision log itself is
# per-session state a SQL oracle cannot see.)
#
# Scale shape: one distinct-count over the exploded cached edge list
# + one count — two aggregates, no joins.

def q_events_graph_broadcast_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.operators._broadcast_guard import (
        MAX_BROADCAST_NODES,
    )

    edges = _cooccur_edges(spark, sf_dir)
    nodes = edges.select(
        F.explode(F.array("u", "v")).alias("node")
    ).agg(F.count_distinct("node").cast("bigint").alias("n_nodes"))
    counts = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    return nodes.crossJoin(counts).select(
        "n_nodes",
        "n_edges",
        F.lit(MAX_BROADCAST_NODES).cast("bigint").alias("broadcast_limit"),
        (F.col("n_nodes") <= MAX_BROADCAST_NODES).cast("bigint").alias("hint_fits"),
        (F.col("n_edges") * 2 <= MAX_BROADCAST_NODES)
        .cast("bigint")
        .alias("bound_fits"),
    )


def _broadcast_audit_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.operators._broadcast_guard import (
        MAX_BROADCAST_NODES,
    )

    return f"""
    WITH {_TRI_EDGES_CTE},
    nodes AS (
      SELECT u AS node FROM edges UNION SELECT v FROM edges
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           CAST({MAX_BROADCAST_NODES} AS BIGINT) AS broadcast_limit,
           CAST((SELECT COUNT(*) FROM nodes) <= {MAX_BROADCAST_NODES} AS BIGINT)
             AS hint_fits,
           CAST((SELECT COUNT(*) FROM edges) * 2 <= {MAX_BROADCAST_NODES}
                AS BIGINT) AS bound_fits
    """


register(
    "events_graph_broadcast_audit",
    q_events_graph_broadcast_audit,
    _broadcast_audit_sql(),
)


# ---- k-truss core extraction (batch 65) -------------------------------------
# The edge-cohesion core of the co-occurrence graph: an edge survives
# while it closes >= k-2 triangles with OTHER surviving edges — the
# clique-ish backbone a degree-based k-core cannot isolate (a star
# hub has high degree, zero support).  k = 3 (support >= 1): the
# hour-cell co-occurrence graph is triangle-sparse by construction
# (cells are small cliques, cross-cell triangles are rare), so k = 4
# peels it EMPTY at every certified SF — the 3-truss is the level
# that isolates a non-trivial backbone here.  Fixed 2-round peel
# reporting each survivor's survival support (operators/ktruss.py),
# so the DuckDB oracle unrolls CTE-for-CTE; pure integer support
# counts, engine-exact.
#
# Scale shape: 2 triangle passes (one per peel), each the certified
# degree-oriented O(m^1.5) wedge plan over a SHRINKING cached edge
# set; all keys bigint, no floats.  The _MAX_NODE_DEGREE celebrity
# cap applies (the triangle_counts precedent — same graph, same
# densified-sf1 failure: uncapped, the near-complete replica wedges
# the support pass); at certified SFs max degree is 136, so results
# are unchanged.

_KTRUSS_K = 3
_KTRUSS_ROUNDS = 2


def q_events_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ktruss(
        _cooccur_edges(spark, sf_dir),
        k=_KTRUSS_K,
        rounds=_KTRUSS_ROUNDS,
        max_degree=_MAX_NODE_DEGREE,
    ).orderBy(F.col("support").desc(), "u", "v")


register(
    "events_ktruss",
    q_events_ktruss,
    sql_ktruss(
        _TRI_EDGES_CTE,
        k=_KTRUSS_K,
        rounds=_KTRUSS_ROUNDS,
        max_degree=_MAX_NODE_DEGREE,
    )
    + " ORDER BY support DESC, u, v",
)


# ---- coreness decomposition (batch 66) -------------------------------------
# Per-user coreness over the co-occurrence graph, capped at
# _CORE_MAX_K: where events_kcore answers "is the user in the 6-core"
# the decomposition grades EVERY user by graph density — the
# stratification key ring detection and density-aware sampling both
# consume.  One cached mirrored neighbor table serves every level's
# guarded peel (operators/kcore.py::core_decomposition — the r12
# guard discipline from day one).  The oracle unrolls
# (_CORE_MAX_K - 1) x _CORE_ROUNDS in-subgraph peel steps; the
# operator raises if any level needs more (sql_kcore convention).

_CORE_MAX_K = 8
_CORE_ROUNDS = 8


def q_events_core_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    return core_decomposition(
        _cooccur_edges(spark, sf_dir),
        max_k=_CORE_MAX_K,
        rounds_per_level=_CORE_ROUNDS,
    ).orderBy(F.col("core").desc(), "node")


register(
    "events_core_number",
    q_events_core_number,
    sql_core_decomposition(
        "WITH_PLACEHOLDER", max_k=_CORE_MAX_K, rounds_per_level=_CORE_ROUNDS
    ).replace("WITH WITH_PLACEHOLDER,", "WITH " + _TRI_EDGES_CTE + ",")
    + " ORDER BY core DESC, node",
)


# ---- dense-ring activity screen (batch 66) ---------------------------------
# The abuse-detection readout coreness exists for: users embedded in
# a >= _RING_MIN_CORE co-occurrence core, with their activity volume
# and intensity attached — rings co-occur densely AND fire events at
# high per-cell rates.  The composition is two certified pipelines
# (core_decomposition + a per-user events rollup) joined on user_id;
# intensity is exact integer ppm (events per active hour-cell).
# Empty at sf0.001 (the tiny graph tops out at core 1) — a correct
# screen result, certified by the row-for-row empty oracle match.

_RING_MIN_CORE = 4


def q_events_bot_ring_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ring = (
        core_decomposition(
            _cooccur_edges(spark, sf_dir),
            max_k=_CORE_MAX_K,
            rounds_per_level=_CORE_ROUNDS,
        )
        .filter(F.col("core") >= _RING_MIN_CORE)
        .select(F.col("node").alias("user_id"), "core")
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.date_trunc("hour", F.col("ts")).alias("cell"),
    )
    volume = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    cells = (
        ev.select("user_id", "k", "cell")
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_cells"))
    )
    return (
        ring.join(volume, "user_id")
        .join(cells, "user_id")
        .select(
            "user_id",
            "core",
            "n_events",
            "n_cells",
            F.expr("1000000 * n_events div n_cells").alias("epc_ppm"),
        )
        .orderBy(
            F.col("core").desc(), F.col("epc_ppm").desc(), "user_id"
        )
    )


def _bot_ring_screen_sql() -> str:
    cores = sql_core_decomposition(
        "WITH_PLACEHOLDER", max_k=_CORE_MAX_K, rounds_per_level=_CORE_ROUNDS
    ).replace("WITH WITH_PLACEHOLDER,", "WITH " + _TRI_EDGES_CTE + ",")
    return f"""
    WITH cores AS (
      {cores}
    ),
    ev AS (
      SELECT user_id,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             date_trunc('hour', ts) AS cell
      FROM events
    ),
    volume AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ev GROUP BY user_id
    ),
    cells AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_cells
      FROM (SELECT DISTINCT user_id, k, cell FROM ev) GROUP BY user_id
    )
    SELECT c.node AS user_id, c.core, v.n_events, s.n_cells,
           1000000 * v.n_events // s.n_cells AS epc_ppm
    FROM cores c
    JOIN volume v ON v.user_id = c.node
    JOIN cells s ON s.user_id = c.node
    WHERE c.core >= {_RING_MIN_CORE}
    ORDER BY c.core DESC, epc_ppm DESC, user_id
    """


register(
    "events_bot_ring_screen",
    q_events_bot_ring_screen,
    _bot_ring_screen_sql(),
)
