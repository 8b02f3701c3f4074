"""Scale-technique joins as CERTIFIED queries (r5 verdict ask #5):
the skew-salted join and the bucketed zero-exchange join were the
only join operators in the engine without oracle-checked rows
(`operators/skew.py`, `operators/bucketing.py` — pytest-only until
r6).  Each query here runs the scale-shaped plan and is matched
against a PLAIN-join DuckDB oracle, proving the salt/bucket rewrite
changes the physical plan and nothing else.

Skew context: `events.event_type` has only 5 distinct values — at
100 TB every type is a ~20 TB hot key, the exact shape AQE's skew
handling cannot split for aggregation and a broadcast cannot fix
when the build side is also large.  The fixed-point helpers
(`operators/exact.py`) keep every float aggregate bit-portable.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators.bucketing import (
    bucketed_join,
    write_bucketed,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.exact import (
    davg,
    dsum,
    sql_davg,
    sql_dsum,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.skew import salted_join
from crypto_price_tracker_with_etl_dashboard_spark.queries import register
from crypto_price_tracker_with_etl_dashboard_spark.sources import load_table

_N_SALTS = 8


def q_events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type deviation profile via a SALTED join: events (the
    skewed fact — 5 hot event_type keys) joins its per-type average
    through `salted_join`, which spreads each hot key over _N_SALTS
    shuffle partitions (deterministic hash salt, build side
    replicated per salt).  The `shuffle_hash` hint forces the
    shuffled-join path the salt targets — at test scale Catalyst
    would otherwise broadcast the 5-row build side and the salt
    machinery would never execute (at 100 TB, with a build side too
    big to broadcast, the optimizer lands here on its own).  Results
    are salt-invariant; the oracle is the plain unsalted join."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(davg("value", "type_avg"))
    joined = salted_join(ev, dim.hint("shuffle_hash"), on="event_type", n_salts=_N_SALTS)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("value") > F.col("type_avg")).cast("bigint")).alias(
                "n_above_avg"
            ),
            # per-row double subtract is bit-identical on any engine;
            # the fixed-point sum makes the aggregate order-portable
            dsum(F.col("value") - F.col("type_avg"), "dev_sum"),
        )
        .orderBy("event_type")
    )


register(
    "events_salted_join",
    q_events_salted_join,
    f"""
    WITH dim AS (
      SELECT event_type, {sql_davg('value')} AS type_avg
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN e.value > d.type_avg THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above_avg,
           {sql_dsum('e.value - d.type_avg')} AS dev_sum
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)


# Session-scoped bucketed-table cache: the point of bucketing is that
# the shuffle is paid ONCE at write time and every later join on the
# bucket key is exchange-free — so the tables are written once per
# (session, sf_dir) and every query call after that only reads
# (build/query split, same rationale as vector.py's _ivf_index).
_BUCKETED: dict[tuple[str, str], tuple[str, str]] = {}
_N_BUCKETS = 8  # test-scale stand-in; at 100 TB pick ~|table|/128MB


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    # Keyed by applicationId, not id(session): id() values are reused
    # once the old session is garbage-collected, and a false hit here
    # would return table names a fresh catalog has never written.
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BUCKETED:
        tag = re.sub(r"[^A-Za-z0-9]+", "_", sf_dir.strip("/"))
        ot, lt = f"bjoin_orders_{tag}", f"bjoin_lineitem_{tag}"
        write_bucketed(
            load_table(spark, sf_dir, "orders"), ot, "o_orderkey", _N_BUCKETS
        )
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").withColumnRenamed(
                "l_orderkey", "o_orderkey"
            ),
            lt,
            "o_orderkey",
            _N_BUCKETS,
        )
        _BUCKETED[key] = (ot, lt)
    return _BUCKETED[key]


def q_orders_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join (orders x lineitem on orderkey) over tables
    BUCKETED on the join key at write time: the join itself plans
    with ZERO Exchange operators (pinned in tests/test_plans.py) —
    the only shuffle in the whole query is the final tiny per-status
    rollup.  At 100 TB this moves the dominant cost of the join (two
    full-table shuffles, re-paid per query) into one write-time
    shuffle amortized over every later join on the key.  The oracle
    is the plain parquet-to-parquet join."""
    ot, lt = _bucketed_tables(spark, sf_dir)
    j = bucketed_join(spark, ot, lt, "o_orderkey")
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("o_orderstatus")
    )


register(
    "orders_bucketed_join",
    q_orders_bucketed_join,
    f"""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
)
