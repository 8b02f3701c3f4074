"""Synchronous label propagation (LPA, Raghavan et al. 2007) —
community detection, the third iterative graph operator beside
connected components (operators/components.py) and PageRank
(operators/pagerank.py).  Training-data uses: grouping near-duplicate
clusters into communities, user cohort discovery, spam-ring
detection.

Determinism discipline: the textbook algorithm breaks label-count
ties randomly and converges asynchronously; here every node starts
with its own id, updates SYNCHRONOUSLY for a FIXED number of rounds,
and ties break to the SMALLEST label — a pure integer recursion a
DuckDB oracle unrolls bit-for-bit (the pagerank/emb_kmeans pattern).
Synchronous LPA can oscillate on bipartite-ish structure; a fixed
round count makes even an oscillating run reproducible, which is
what certification needs (run-to-run stability notes in the paper
apply to ASYNC variants that trade determinism for convergence).

Scale shape per round (the pagerank envelope): the O(nodes) label
table BROADCASTS onto the cached mirrored edge list — the 100 TB
edge side shuffles ZERO times after its one build; each round costs
one map-side join + a (node, lbl) hash aggregate with map-side
partials + an argmax agg on node.  The argmax is max(struct(count,
-label)) — an aggregate, NOT a row_number window, so partial
aggregation applies and no global sort sneaks in.  Label lineage
stays a linear chain (r13, the pagerank rationale): no per-round
actions, one reference per round, so per-round checkpoints only
added construction-time stage-execution jobs.
Past MAX_BROADCAST_NODES the broadcast swaps automatically to the
co-located fallback (operators/_broadcast_guard.py, r10 verdict ask
#4): the cached mirror is hash-partitioned on the per-round join key
ONCE and each round's shuffle_hash join streams it — zero edge-side
Exchange, only the O(nodes) label table shuffles per round — and the
bind is recorded in the guard log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators._broadcast_guard import (
    colocate_for_guarded_joins,
    guarded_broadcast,
    hint_will_fit,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators._session_cache import (
    cached_count,
    scratch,
    session_cache,
)


def label_propagation(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iters: int = 3,
) -> DataFrame:
    """(node, community) after ``iters`` synchronous min-tie rounds.

    ``edges`` holds each undirected edge once as (u, v), u < v, no
    self-loops (the triangle_counts input contract); both directions
    are mirrored internally.  Labels are node ids; a node's next
    label is the most frequent label among its neighbors (tie ->
    smallest label).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # cache an uncached input once, materialized before the mirror
    # fan-out; a caller-cached edge build is reused as is
    e = scratch("lpa", edges.sparkSession).cache_input(
        edges,
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        materialize=True,
    )
    # the count is memoized on whichever object holds the cache, so
    # repeat calls over the same caller-cached edge table run no job
    n_edges = cached_count(e if e.is_cached else edges)
    nbr = e.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    # |nbr| = 2*|edges| exactly (each edge mirrors once) — the guard's
    # free node bound, no extra count job
    n_nodes = 2 * n_edges
    if not hint_will_fit(n_nodes):
        # the guard will drop the per-round broadcast: lay the cached
        # mirror out hash-partitioned on the per-round join key ONCE,
        # so every round's shuffle_hash join streams it with zero
        # edge-side Exchange (only the O(nodes) label table shuffles)
        nbr = colocate_for_guarded_joins(nbr, "a")
    # shared with kcore / the coreness decomposition (r12):
    # materialize-on-miss, so zero jobs when kcore/coreness already
    # cached the identical mirror this session
    nbr = session_cache(nbr, materialize=True)
    labels = nbr.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    # FREE upper bound for the broadcast guard: every node appears as
    # an 'a' in the mirrored neighbor table at least once, so
    # |nodes| <= |nbr| — no extra count job (the modularity 2*m
    # discipline; an exact labels.count() cost one O(nodes) agg per
    # call and a conservative bound only risks dropping a hint AQE's
    # runtime size check re-adds).
    for it in range(iters):
        l = labels.select(F.col("node").alias("__ln"), F.col("lbl").alias("__ll"))
        votes = (
            nbr.join(guarded_broadcast(l, n_nodes, op="lpa"), F.col("a") == F.col("__ln"))
            .groupBy(F.col("b").alias("node"), F.col("__ll").alias("lbl"))
            .agg(F.count("*").alias("__c"))
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("__c"), (-F.col("lbl")).alias("__nl"))
                ).alias("__m")
            )
            .select("node", (-F.col("__m.__nl")).alias("lbl"))
        )
        # NO per-round checkpoint (r13, the pagerank rationale): no
        # per-round actions, each round references the previous label
        # table exactly once — a linear chain over the cached mirror.
        # Under AQE a lazy localCheckpoint executes all upstream
        # stages at CONSTRUCTION (one toRdd compile + jobs per round);
        # the caller's single action now runs the identical stages.
    return labels.select("node", F.col("lbl").alias("community"))


def sql_label_propagation(edges_cte: str, iters: int = 3) -> str:
    """DuckDB twin, iterations unrolled (aggregates are not allowed
    in recursive CTE terms).  ``edges_cte`` must end in a CTE named
    ``edges`` with (u, v)."""
    its = []
    prev = "l0"
    for k in range(1, iters + 1):
        cur = f"l{k}"
        its.append(f"""
    {cur} AS (
      SELECT node, CAST(-(MAX(ROW(c, -lbl))[2]) AS BIGINT) AS lbl FROM (
        SELECT n.b AS node, r.lbl AS lbl, COUNT(*) AS c
        FROM nbr n JOIN {prev} r ON n.a = r.node
        GROUP BY n.b, r.lbl
      ) GROUP BY node
    )""")
        prev = cur
    return f"""
    WITH {edges_cte},
    nbr AS (
      SELECT u AS a, v AS b FROM edges
      UNION ALL
      SELECT v AS a, u AS b FROM edges
    ),
    l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM nbr),{','.join(its)}
    SELECT node, lbl AS community FROM {prev}
    """
