"""Structured Streaming ETL pipeline (SURVEY.md section 2.8, section
3.1): the reference's poll -> validate -> append -> re-query ->
broadcast loop (etl/crypto_etl.py:138-157 + api/server.js:166-193)
becomes ONE streaming query:

    raw micro-batch --foreachBatch--> validate/normalize
                                   -> append to prices table
                                   -> fold into latest snapshot
                                   -> push_fn(snapshot rows)

Delivery semantics: the reference is at-most-once (a failed fetch or
insert skips the batch and keeps looping, etl/crypto_etl.py:47-52,
120-123).  foreachBatch + checkpointing gives at-least-once replay;
the table writes are made IDEMPOTENT (dynamic partition overwrite
keyed by batch/tick — a replayed batch replaces its own previous
output), so table contents are exactly-once, and the snapshot push
is idempotent by construction (full-state broadcast) — strictly
stronger than the reference end to end.  Cancellation exceptions
propagate out of the batch body (``_is_cancellation``); swallowing
them under the T7 catch-all would mark an interrupted batch
committed and silently DROP its tick on restart.

For tests the source is a file stream over a directory of parquet
batch files (each file = one poll result); in production the same
pipeline runs off any streaming source (kafka/rate/custom) — only
``raw_stream`` changes.
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Callable, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from crypto_price_tracker_with_etl_dashboard_spark.schema import COINGECKO_RAW_SCHEMA
from crypto_price_tracker_with_etl_dashboard_spark.sources.ingest import validate_and_normalize
from crypto_price_tracker_with_etl_dashboard_spark.operators.latest import (
    SNAPSHOT_COLUMNS,
    latest_snapshot,
)


_CANCEL_CLASSES = (
    "CancellationException", "InterruptedException", "InterruptedIOException",
    "JobCancellationException", "TaskKilledException", "SparkJobCancelled",
)
# Matched against the TOP-LEVEL JVM exception's own message only —
# NEVER the py4j-flattened stack trace, where a genuine data error
# could incidentally contain a cancellation class name in a "Caused
# by" frame and get mistaken for a shutdown (killing the stream,
# contrary to T7 batch isolation).
_CANCEL_MESSAGES = (
    "cancelled because SparkContext was shut down",
    "SparkContext has been shutdown",
    "as part of cancellation of all jobs",
    "Job cancelled",
)


def _is_cancellation(exc: Exception, spark: Optional[SparkSession] = None) -> bool:
    """True when the batch failed because the QUERY is stopping (job
    cancelled / context shut down), not because the data is bad.
    Cancellations must propagate: swallowing them reports the batch
    as successful, the offset log commits it, and the tick is LOST on
    restart (falsely-committed batch).  Only genuine data errors are
    isolated per the reference's T7 semantics.

    Signals, strongest first: (1) the SparkContext is already stopped
    (probe failures are treated as shutdown ONLY for gateway/
    connection errors — any other probe exception falls through to
    the structural checks); (2) a cancellation/interrupt exception
    CLASS in the Python cause chain; (3) a cancellation CLASS in the
    structured JVM cause chain, or a cancellation message on the
    top-level JVM exception — both via the live exception object,
    never substring-matching the flattened stack text."""
    if spark is not None:
        try:
            # A Python-side spark.stop() sets sparkContext._jsc to
            # None BEFORE the JVM context reports stopped, so the
            # probe below would raise AttributeError (None._jsc.sc())
            # — which is a STOP signal, not a probe failure.  Check
            # it explicitly; without this the strongest signal is
            # dead code for same-process stops.
            if spark.sparkContext._jsc is None:
                return True
            if spark.sparkContext._jsc.sc().isStopped():
                return True
        except Exception as probe_exc:
            from py4j.protocol import Py4JError

            if isinstance(
                probe_exc, (Py4JError, ConnectionError, OSError, AttributeError)
            ):
                return True  # the gateway/context itself is gone: shutting down
            # probe unavailable for a non-connection reason: fall through
    seen, cur = set(), exc
    while cur is not None and id(cur) not in seen:
        seen.add(id(cur))
        if type(cur).__name__ in _CANCEL_CLASSES:
            return True
        cur = cur.__cause__ or cur.__context__
    je = getattr(exc, "java_exception", None)
    if je is None:
        return False
    try:
        msg = je.getMessage()
        if msg and any(s in msg for s in _CANCEL_MESSAGES):
            return True
        hops = 0
        while je is not None and hops < 20:
            if je.getClass().getSimpleName() in _CANCEL_CLASSES:
                return True
            je = je.getCause()
            hops += 1
    except Exception:
        return True  # JVM handle unusable mid-inspection: bridge going down
    return False


def snapshot_for_push(prices: DataFrame) -> DataFrame:
    """The latest-per-symbol snapshot the WebSocket tier re-broadcasts
    (api/server.js:167-185)."""
    return latest_snapshot(prices, tiebreaker="event_id", order_by_cap=True)


class _IncrementalSnapshot:
    """Driver-side incremental latest-per-symbol state for the push
    path.  The snapshot is bounded (<= |symbols| rows — the reference
    serves <= 100, api/server.js:69) while the accumulated prices
    table grows without bound, so re-reading the WHOLE table every
    micro-batch (the naive T3 re-query) is an unbounded full-history
    scan per trigger at scale.  Instead: seed ONCE per (re)start from
    the table — restart-safe, a recovered stream rebuilds exact state
    — then fold each batch's own rows into the dict.  Per trigger
    this costs one narrow Spark job (a projection + collect of the
    batch: no window, sort or shuffle) plus O(|batch| + |symbols|)
    driver work, independent of table size.

    Correctness: the fold keeps, per symbol, the row with the
    greatest ``(timestamp, event_id)`` — the same total order
    ``latest_snapshot`` ranks by (greatest ``timestamp`` alone when
    the batch has no ``event_id``).  A state row ranks below any
    batch row at its own timestamp (event ids are >= 0), so a batch
    replaces what it ties with; across batches timestamps strictly
    increase, so the result reproduces the full-table
    ``snapshot_for_push`` exactly.  Collecting the batch on the
    driver is bounded by one poll: a warm batch is one raw poll file
    (``maxFilesPerTrigger=1``) or one feed tick, the same order of
    size as the snapshot the driver already holds."""

    def __init__(self) -> None:
        self.rows: Optional[list] = None
        # full-table reads performed (observability + test pin): must
        # stay at 1 for the lifetime of a stream run — the one-time
        # cold-start/restart seed.  Anything higher means the warm
        # path regressed to the unbounded per-trigger history scan.
        self.full_reads: int = 0

    @staticmethod
    def _cap_order(rows: list) -> list:
        # PG ORDER BY market_cap DESC NULLS FIRST parity (O1,
        # api/server.js:76) — same order latest_snapshot emits: NULL,
        # then NaN (Spark ranks NaN above every double), then caps
        # descending.  A NaN inside a plain float key would leave
        # Python's sort order undefined.
        def key(r):
            cap = r["market_cap"]
            if cap is None:
                return (0, 0.0)
            if math.isnan(cap):
                return (1, 0.0)
            return (2, -cap)

        return sorted(rows, key=key)

    def merge(self, spark: SparkSession, table_path: str, batch_clean: DataFrame) -> list:
        """Fold one written batch into the snapshot; returns the rows
        to push (cap-descending, NULLs first)."""
        if self.rows is None:
            # cold start / restart: one full read seeds state (the
            # just-written batch is already in the table)
            try:
                table = spark.read.parquet(table_path)
            except AnalysisException as exc:
                # Only "no data files yet" (an all-invalid first poll
                # wrote nothing) is an empty snapshot; a table with
                # data that fails to read still fails the batch (T7).
                if exc.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                    raise
                return []
            self.full_reads += 1
            self.rows = snapshot_for_push(table).collect()
            return self.rows
        has_event_id = "event_id" in batch_clean.columns
        columns = SNAPSHOT_COLUMNS + (("event_id",) if has_event_id else ())
        best = {r["symbol"]: ((r["timestamp"], -1), r) for r in self.rows}
        for r in batch_clean.select(*columns).collect():
            rank = (r["timestamp"], r["event_id"] if has_event_id else 0)
            prev = best.get(r["symbol"])
            if prev is None or rank > prev[0]:
                best[r["symbol"]] = (rank, Row(**{c: r[c] for c in SNAPSHOT_COLUMNS}))
        self.rows = self._cap_order([r for _, r in best.values()])
        return self.rows


def wall_clock_batch_ts(batch_id: int) -> dt.datetime:
    """Reference-parity batch timestamps: one wall-clock stamp per
    micro-batch, exactly the reference's ingest-time semantics
    (etl/crypto_etl.py:82 — ``datetime.now()`` once per poll).  Pass
    as ``batch_ts_fn`` to :func:`run_ingest_stream` for a live
    deployment where snapshot/history queries must reflect real
    arrival time.  Trade-off vs the default deterministic clock: a
    batch REPLAYED after checkpoint recovery re-stamps with a new
    now(), so if the replay crosses a date boundary the rewrite lands
    in a fresh dt partition and the original partial output survives
    as duplicates — at-least-once across day boundaries instead of
    exactly-once.  (See run_ingest_stream's docstring and README
    "Streaming" for the full decision table.)"""
    return dt.datetime.now()


def run_ingest_stream(
    spark: SparkSession,
    raw_dir: str,
    table_path: str,
    checkpoint_dir: str,
    push_fn: Optional[Callable[[list], None]] = None,
    trigger_seconds: Optional[int] = None,
    batch_ts_fn: Optional[Callable[[int], dt.datetime]] = None,
    snapshot_state: Optional[_IncrementalSnapshot] = None,
) -> StreamingQuery:
    """Start the ETL stream: watch ``raw_dir`` for new raw batch
    files, validate/normalize each micro-batch with a batch-constant
    timestamp, append to the partitioned prices table, then push the
    incrementally-maintained latest snapshot (``snapshot_state``
    injects the state holder — tests use it to pin the full-read
    count; the default builds a fresh one per run).

    A malformed batch must not kill the pipeline (reference behavior
    T7: rollback the batch, keep looping) — the foreachBatch body
    isolates per-batch failures.

    ``batch_ts_fn`` maps batch_id -> the batch-constant timestamp
    (P5).  The default derives it deterministically from batch_id
    (epoch + batch_id x trigger interval), which keeps the sink
    exactly-once across restarts: the (dt, batch) overwrite partition
    a replayed batch writes is ALWAYS the same one it wrote before.
    Pass ``batch_ts_fn=wall_clock_batch_ts`` to reproduce the
    reference's ingest-time stamps (etl/crypto_etl.py:82) for live
    deployments — but a batch replayed across a day boundary then
    lands in a fresh dt partition, leaving the original partial
    output as duplicates: exactly-once only within a day.  The
    deterministic default trades reference parity for the stronger
    replay guarantee; choose per deployment.
    """
    raw_stream = (
        spark.readStream.schema(COINGECKO_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(raw_dir)
    )

    epoch = dt.datetime(2024, 1, 1)
    step = trigger_seconds or 300
    if batch_ts_fn is None:
        batch_ts_fn = lambda batch_id: epoch + dt.timedelta(seconds=step * batch_id)  # noqa: E731
    snapshot = snapshot_state if snapshot_state is not None else _IncrementalSnapshot()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            clean = validate_and_normalize(batch_df, batch_ts_fn(batch_id))
            out = (
                clean.withColumn("dt", F.to_date("timestamp"))
                .withColumn("batch", F.lit(batch_id))
                .withColumn("event_id", F.monotonically_increasing_id())
            )
            # Idempotent sink: foreachBatch is at-least-once, so a
            # replayed batch must REPLACE its own previous (possibly
            # partial) output, not append next to it.  Dynamic
            # partition overwrite keyed by batch_id rewrites exactly
            # the partitions this batch owns — exactly-once to the
            # table without a transaction log.
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("dt", "batch")
                .parquet(table_path)
            )
            if push_fn is not None:
                push_fn(snapshot.merge(spark, table_path, out))
        except Exception as exc:
            if _is_cancellation(exc, spark):
                raise  # stopping query: let Spark leave the batch uncommitted
            print(f"[ingest] batch {batch_id} failed, skipping: {exc}")  # T7

    writer = raw_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_snapshot_query(
    spark: SparkSession,
    prices_stream: DataFrame,
    query_name: str = "latest_snapshot_stream",
) -> StreamingQuery:
    """Pure-streaming alternative for the snapshot: stateful
    max_by aggregation in COMPLETE output mode over the prices
    stream — the J1 greatest-per-group as incremental state, with
    the full ≤|symbols|-row snapshot re-emitted per trigger (the
    reference's T3 full-snapshot re-emit semantic; update mode would
    emit only changed symbols).  Memory sink for tests; swap format
    for delivery."""
    agg = prices_stream.groupBy("symbol").agg(
        F.max_by(
            F.struct("name", "current_price", "market_cap", "total_volume", "timestamp"),
            "timestamp",
        ).alias("s")
    ).select("symbol", "s.*")
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def _write_feed_ticks(
    spark: SparkSession,
    batch_df: DataFrame,
    table_path: str,
    snapshot: Optional[_IncrementalSnapshot],
) -> Optional[list]:
    """One ``market_feed`` micro-batch: append each of its ticks as
    its own (dt, batch) partition and fold it into ``snapshot``.
    Returns the snapshot after the last tick, or None without a
    ``snapshot`` (nothing to push)."""
    epoch = dt.datetime(2024, 1, 1)
    ticks = [r["tick"] for r in batch_df.select("tick").distinct().collect()]
    rows = None
    for tick in sorted(ticks):
        batch_ts = epoch + dt.timedelta(seconds=300 * tick)
        clean = validate_and_normalize(
            batch_df.filter(F.col("tick") == tick).select(
                "symbol", "name", "current_price", "market_cap", "total_volume"
            ),
            batch_ts,
        )
        # Idempotent per-tick sink (see run_ingest_stream):
        # replaying a tick overwrites its own partition, so
        # at-least-once replay yields exactly-once contents.
        # Unified table layout: ALL write paths (this feed
        # loop, run_ingest_stream, and the facade's batch
        # append) partition by (dt, batch) — the tick number
        # IS this path's batch id.  Divergent partition
        # schemes under one table root make Spark's partition
        # discovery fail outright.
        out = (
            clean.withColumn("dt", F.to_date("timestamp"))
            .withColumn("batch", F.lit(int(tick)))
            .withColumn("event_id", F.monotonically_increasing_id())
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("dt", "batch")
            .parquet(table_path)
        )
        if snapshot is not None:
            rows = snapshot.merge(spark, table_path, out)
    return rows


def run_feed_stream(
    spark: SparkSession,
    table_path: str,
    checkpoint_dir: str,
    push_fn: Optional[Callable[[list], None]] = None,
    feed_options: Optional[dict] = None,
    trigger_seconds: Optional[int] = None,
) -> StreamingQuery:
    """The same ETL loop driven by the ``market_feed`` custom
    DataSource (sources/market_feed.py) instead of a file drop:
    poll tick -> validate/normalize -> append -> snapshot push.

    The batch timestamp derives from the tick number (epoch +
    tick x 5 min), not wall clock — deterministic replay across
    checkpoint recovery, preserving the reference's batch-constant
    timestamp tie semantics (etl/crypto_etl.py:82) under re-delivery
    too: a replayed tick re-writes IDENTICAL rows.
    """
    from crypto_price_tracker_with_etl_dashboard_spark.sources.market_feed import (
        MarketFeedDataSource,
    )

    spark.dataSource.register(MarketFeedDataSource)
    reader = spark.readStream.format("market_feed")
    for k, v in (feed_options or {}).items():
        reader = reader.option(k, v)
    feed = reader.load()

    snapshot = _IncrementalSnapshot() if push_fn is not None else None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            rows = _write_feed_ticks(spark, batch_df, table_path, snapshot)
            if rows is not None:
                push_fn(rows)
        except Exception as exc:
            if _is_cancellation(exc, spark):
                raise  # stopping query: let Spark leave the batch uncommitted
            print(f"[feed] batch {batch_id} failed, skipping: {exc}")  # T7

    writer = feed.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
