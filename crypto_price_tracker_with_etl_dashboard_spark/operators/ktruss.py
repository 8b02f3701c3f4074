"""k-truss peeling — the edge-cohesion complement to node k-core
(operators/kcore.py): the k-truss keeps an edge only while it closes
at least k-2 triangles with OTHER surviving edges, so it isolates the
densely clique-like core a degree-based core cannot see (a star hub
has high degree but zero triangle support).  Training-data uses:
extracting tightly-knit user/community cores from interaction graphs,
spam-ring confirmation (rings are triangle-dense, broadcast spam is
triangle-free), backbone extraction before expensive per-edge models.

Determinism discipline (the kcore/lpa pattern): the textbook
algorithm peels to a fixpoint; here the peel runs a FIXED number of
rounds so the DuckDB oracle unrolls it CTE-for-CTE and every output
row is engine-exact (pure integer support counts, no floats
anywhere).  A fixed-round peel is also what a production pipeline
ships: each round costs one full triangle pass, so bounded rounds =
bounded cost, and on real graphs support collapses geometrically (two
rounds remove the overwhelming majority of sub-truss edges).

Scale shape per round (the Suri-Vassilvitskii orientation from
operators/triangles.py): orient the edges ONCE by (degree, id) of
the capped input graph, enumerate wedges from out-neighborhoods —
O(m^1.5) total wedge work, no reducer sees a super-heavy key — close
them against the oriented edge list, then explode each triangle into
its three ORIENTED edges and hash-aggregate per-edge support.
Everything is joins + aggregates on bigint keys; the oriented edge
list is cached once, each later round peels a checkpointed subset of
it, so total cost is rounds x one triangle pass over a shrinking
edge set.

Why one FIXED orientation is enough (r12 optimization): the wedge
enumeration finds each triangle exactly once at its minimum vertex
under ANY total order on nodes — acyclicity and the unique
two-out-edge apex follow from totality alone, and the per-edge
support counts are orientation-independent (every triangle credits
the same three undirected edges).  Re-orienting each round by the
CURRENT subgraph's degrees (the pre-r12 shape) therefore computed
the identical support table while paying one degree aggregate plus
two degree-attach joins per round; orienting once by the round-0
(deg, id) order drops those three per-round shuffles.  The
O(m^1.5) bound degrades only in the adversarial case where peeled
rounds invert the degree order — support peeling only ever REMOVES
edges, so stale out-degrees never grow.

Which fixed order (r13): the FULL-graph (deg, id) order on the
capped-node-induced subgraph — exactly the orientation
operators/triangles.py builds for the same (edge list, cap), so the
two operators share ONE cached degree table and ONE cached oriented
edge list in the session cache.  The pre-r13 choice (degrees recounted
WITHIN the capped subgraph) is just a different total order: by the
argument above both enumerate every capped-subgraph triangle exactly
once, the per-edge support counts are identical, hence each peel
keeps the identical undirected edge set and the reported survival
supports match row for row; the output re-canonicalizes to u < v, so
no orientation detail leaks.  The capped edge sets are identical
too — both keep exactly the edges whose endpoints have full-graph
degree <= the cap (the pre-r13 keep-semi-join and the orientation's
inner degree joins induce the same subgraph).

Lineage discipline (r12): each peel's survivor set is
``localCheckpoint(eager=True)``-ed, not just cached — with plain
``cache()`` every round's logical plan embeds the previous round's
FOUR references (two wedge arms, the closer, the support join-back),
so the tree grows ~4^rounds; at two rounds the returned plan carried
~13.5k Exchange nodes and Catalyst planning time dominated the query
(the components.py lesson, quadratically worse).  The checkpoint
resets each round's plan to a LogicalRDD scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators._session_cache import (
    scratch,
    session_cache,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.triangles import (
    capped_degree_table,
    degree_oriented_edges,
)


def _oriented_support(o: DataFrame) -> DataFrame:
    """(src, dst, support) for every edge of the oriented list ``o``
    that closes at least one triangle in ``o``.  All three edges of
    an enumerated triangle (a->b, a->c, b->c) are themselves oriented
    edges, so support is counted — and joined back — directly on the
    (src, dst) key with no least/greatest re-canonicalization."""
    e1 = o.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("ddeg").alias("bdeg")
    )
    e2 = o.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("ddeg").alias("cdeg")
    )
    wedges = e1.join(e2, "a").filter(F.struct("bdeg", "b") < F.struct("cdeg", "c"))
    closer = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closer, ["b", "c"]).select("a", "b", "c")
    pair = lambda x, y: F.struct(  # noqa: E731
        x.alias("src"), y.alias("dst")
    )
    return (
        tri.select(
            F.explode(
                F.array(
                    pair(F.col("a"), F.col("b")),
                    pair(F.col("a"), F.col("c")),
                    pair(F.col("b"), F.col("c")),
                )
            ).alias("p")
        )
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("support"))
    )


def ktruss(
    edges: DataFrame,
    k: int = 4,
    rounds: int = 2,
    src: str = "u",
    dst: str = "v",
    max_degree: int | None = None,
) -> DataFrame:
    """Surviving edges after ``rounds`` synchronous k-truss peels:
    one row ``(u, v, support)`` per edge still present, reporting the
    support THAT JUSTIFIED its survival (measured on the edge set the
    final peel filtered — so always >= k-2).  Reporting the survival
    support instead of re-counting on the surviving subgraph saves a
    whole extra triangle pass per call (one pass per round is the
    entire cost; the recompute variant measured 20.5 s -> 13 s at
    sf0.1), and the fixed-round unrolled oracle mirrors the same
    choice CTE-for-CTE.

    ``edges`` holds each undirected edge once as (u, v), u < v, no
    self-loops (the triangle_counts input contract).

    ``max_degree`` is the celebrity-node guard (the triangle_counts
    precedent — SAME graph, same failure): the peel runs on the
    subgraph induced by nodes whose FULL-graph degree is <= the cap.
    On a densified near-complete graph the support pass's wedge
    stage is Theta(n^3) (the sf1 co-occurrence replica wedged this
    operator for >10 min uncapped); capped, wedge volume is
    <= n * C(max_degree, 2).  At every certified SF the max observed
    degree is far below the cap, so oracle results are unchanged."""
    if k < 3:
        raise ValueError(f"k must be >= 3 (k-2 >= 1 support), got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    # the orientation build consumes e twice (degree pass + the
    # two-sided degree attach); cache an uncached input once
    e = scratch("ktruss", edges.sparkSession).cache_input(
        edges, edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    # ONE orientation for every round, SHARED with triangle_counts
    # (see module docstring "Which fixed order"): the capped degree
    # table and the (src, dst, ddeg) orientation are the identical
    # expressions triangles.py builds, so whichever operator runs
    # second gets both as session-cache hits with zero build jobs.  The
    # orientation's inner degree joins double as the celebrity cap —
    # the pre-r13 keep-semi-join is gone.  materialize-on-miss: the
    # degree pass reads e once (populating an uncached-input cache in
    # a single branch — the r12 ADVICE e.count() concern), then the
    # orientation build reads cached e + cached deg.
    deg = session_cache(capped_degree_table(e, max_degree), materialize=True)
    o = session_cache(degree_oriented_edges(e, deg), materialize=True)
    kept = None
    for r in range(rounds):
        sup = _oriented_support(o)
        kept = (
            o.join(sup, ["src", "dst"])
            .filter(F.col("support") >= k - 2)
            .select("src", "dst", "ddeg", F.col("support").cast("bigint").alias("support"))
        )
        if r < rounds - 1:
            # truncate the 4-reference round lineage (module
            # docstring) — one job, partitions persisted like cache()
            kept = kept.localCheckpoint(eager=True)
        o = kept.select("src", "dst", "ddeg")
    # restore the canonical u < v key of the input contract; the
    # orientation key order is an internal detail
    return kept.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
        "support",
    )


def sql_ktruss(
    edges_cte: str,
    k: int = 4,
    rounds: int = 2,
    max_degree: int | None = None,
) -> str:
    """DuckDB twin, peels unrolled one CTE triple per round.
    ``edges_cte`` must end in a CTE named ``edges`` with (u, v),
    u < v, each undirected edge once.  Every unrolled CTE is
    MATERIALIZED: each peel references its edge set three times (two
    wedge arms + the closer) and DuckDB re-inlines plain CTEs per
    reference, compounding the whole upstream build 3^rounds times
    (measured 573 s -> ~2 s at sf0.001; the sql_hits precedent).  Triangles enumerate in id
    order (a < b < c) — a different enumeration order than the Spark
    side's degree orientation, but both find every triangle of the
    undirected graph exactly once, so the per-edge support counts are
    identical."""
    its = []
    prev = "e0"
    for r in range(rounds):
        t, s, nxt = f"t{r}", f"s{r}", f"e{r + 1}"
        its.append(f"""
    {t} AS MATERIALIZED (
      SELECT w1.u AS a, w1.v AS b, w2.v AS c
      FROM {prev} w1
      JOIN {prev} w2 ON w2.u = w1.u AND w2.v > w1.v
      JOIN {prev} w3 ON w3.u = w1.v AND w3.v = w2.v
    ),
    {s} AS MATERIALIZED (
      SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support FROM (
        SELECT a AS u, b AS v FROM {t}
        UNION ALL SELECT a, c FROM {t}
        UNION ALL SELECT b, c FROM {t}
      ) GROUP BY u, v
    ),
    {nxt} AS MATERIALIZED (
      SELECT e.u, e.v, s.support FROM {prev} e
      JOIN {s} s ON s.u = e.u AND s.v = e.v
      WHERE s.support >= {k - 2}
    )""")
        prev = nxt
    if max_degree is None:
        e0 = "e0 AS MATERIALIZED (SELECT u, v FROM edges)"
    else:
        e0 = f"""keepn AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, COUNT(*) AS deg FROM (
          SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
        ) GROUP BY node
      ) WHERE deg <= {max_degree}
    ),
    e0 AS MATERIALIZED (
      SELECT e.u, e.v FROM edges e
      JOIN keepn a ON a.node = e.u
      JOIN keepn b ON b.node = e.v
    )"""
    return f"""
    WITH {edges_cte},
    {e0},{','.join(its)}
    SELECT u, v, support FROM {prev}
    """
