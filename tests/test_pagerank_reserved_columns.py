"""PageRank keys its per-round sum table by a reserved column
(``__snode``), so caller columns literally named ``node`` cannot
collide with it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators.pagerank import pagerank


@pytest.fixture()
def weighted(spark):
    edges = [(1, 2, 3), (2, 3, 1), (3, 1, 2), (3, 4, 5), (4, 1, 1), (2, 4, 2)]
    return spark.createDataFrame(edges, ["src", "dst", "w"])


@pytest.mark.parametrize("renamed", ["src", "dst"])
def test_pagerank_endpoint_column_named_node(spark, weighted, renamed):
    want = sorted(map(tuple, pagerank(weighted, iters=3).collect()))
    edges = weighted.withColumnRenamed(renamed, "node")
    names = {"src": "src", "dst": "dst", renamed: "node"}
    got = pagerank(edges, src=names["src"], dst=names["dst"], iters=3)
    assert sorted(map(tuple, got.collect())) == want
    # personalized ranks take the same per-round join
    want_ppr = sorted(map(tuple, pagerank(weighted, iters=3, personalize=1).collect()))
    got_ppr = pagerank(
        edges, src=names["src"], dst=names["dst"], iters=3, personalize=1
    )
    assert sorted(map(tuple, got_ppr.collect())) == want_ppr
