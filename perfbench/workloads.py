"""The two workloads. Each returns a ``Result``: the end-to-end
figures, the per-layer figures (traced runs), a detail dict with every
named metric the workload supports, and its operation counts."""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import random
import statistics
import threading
import time
import traceback

import pyarrow.parquet as pq
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

import catalog as cat
import checks
import datagen
import memory
from stats import median, percentile, tail
from spans import Engine, PhaseListener, Tracer

from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker
from crypto_price_tracker_with_etl_dashboard_spark.session import get_spark
from crypto_price_tracker_with_etl_dashboard_spark.streaming.pipeline import (
    _IncrementalSnapshot,
    run_ingest_stream,
)

SETUP_REPS = 3


@dataclasses.dataclass
class Ctx:
    work: str  # scratch directory inside the checkout
    seed: int
    seconds: float
    trace: bool
    nproc: int


@dataclasses.dataclass
class Result:
    setup_s: list[float]
    op_ms: list[float]  # latency of each timed operation
    ops_per_s: float
    cold_s: float
    layers: dict  # per-layer metrics, filled in traced runs
    detail: dict
    attempted: int = 0
    failed: int = 0
    errors: list[str] = dataclasses.field(default_factory=list)
    peak_rss: dict = dataclasses.field(default_factory=dict)  # MB by process, timed work only

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)


# ---- shared pieces -------------------------------------------------------------


def set_up(ctx: Ctx, name: str, build) -> tuple[SparkSession, object, list[float]]:
    """Session start, JVM and Python-worker warm-up and input build,
    repeated ``SETUP_REPS`` times; the last session and inputs are kept.
    The first repetition also pays the JVM launch."""
    times, spark, inputs = [], None, None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{name}")
        spark.sparkContext.setLogLevel("ERROR")
        warm_up(spark, ctx.nproc)
        rep_dir = os.path.join(ctx.work, f"inputs-{rep}")
        inputs = build(rep_dir)
        times.append(time.perf_counter() - t0)
    return spark, inputs, times


def warm_up(spark: SparkSession, nproc: int) -> None:
    """Generic warm-up: one small join + window + aggregate through Arrow
    to pandas, and one pass through a Python worker. It pays the JVM's
    first-use compilation, so a workload's cold figures hold only its own
    first-use costs (cache fills, eager checkpoints, first plans)."""
    facts = spark.range(0, 2_000, numPartitions=nproc).selectExpr(
        "id % 97 AS k", "id AS v", "CAST(id AS DOUBLE) * 1.5 AS x", "CAST(id AS TIMESTAMP) AS ts")
    names = spark.range(97).selectExpr("id AS k", "concat('n', CAST(id AS STRING)) AS name")
    top = F.row_number().over(Window.partitionBy("k").orderBy(F.col("v").desc()))
    (facts.join(names, "k").withColumn("r", top).filter("r <= 3")
     .groupBy("name").agg(F.sum("x"), F.max("ts"), F.count("*")).orderBy("name").toPandas())
    facts.coalesce(1).mapInPandas(lambda it: it, facts.schema).count()


def engine_layers(engine: Engine, jobs: list[dict], ops: int) -> dict:
    """``spark.*`` per operation for ``jobs``, plus the cache footprint."""
    tot = engine.stage_totals(jobs)
    out = {f"spark.{k}": v / max(ops, 1) for k, v in tot.items()}
    out.update({f"spark.{k}": v for k, v in engine.cached().items()})
    return out


def jobs_by_group(jobs: list[dict]) -> dict:
    by: dict = {}
    for j in jobs:
        by.setdefault(j["group"], []).append(j)
    return by


def children(spans: list[dict]) -> dict:
    by: dict = {}
    for s in spans:
        by.setdefault(s["parent"], []).append(s)
    return by


def span_jobs(span: dict, kids: dict, by_group: dict) -> list[dict]:
    out = list(by_group.get(span["group"], []))
    for c in kids.get(span["id"], []):
        out += span_jobs(c, kids, by_group)
    return out


def overhead_pct(hook_s: float, busy_s: float) -> float:
    """Time in the tracer's hooks and the stream listener's callbacks as
    a share of the timed region."""
    return 100.0 * hook_s / busy_s if busy_s > 0 else 0.0


def timed_call(tracer: Tracer, name: str, build, action):
    """Run ``build()`` then ``action(df)`` under an ``name`` span with
    ``construct`` and ``action`` children; returns (result, construct_s,
    action_s, df)."""
    with tracer.span(name):
        t0 = time.perf_counter()
        with tracer.span("construct"):
            df = build()
        t1 = time.perf_counter()
        with tracer.span("action"):
            out = action(df)
        t2 = time.perf_counter()
    return out, t1 - t0, t2 - t1, df


# ---- ingest_push: the ETL loop with dashboard readers beside it ---------------

DEPTH_DAYS = 3  # earlier days of pre-built ticks, four a day, six hours apart
DEPTH_LAST = 36  # pre-built ticks of the last day, half-hourly: one dt partition
# with more batches than Spark's 32-path threshold for parallel listing
PAGES = 1  # the reference polls one page of 100 coins per tick
PERIOD_S = 3.0  # one raw poll file every third 1 s trigger: headroom for the reader beside it
PHASE_S = 0.5  # files fall due half-way between the 1 s trigger boundaries
READERS = 1  # the generator and one reader: two client threads
READ_KINDS = ("latest", "history", "top_symbols", "market_distribution", "symbols")
PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
          "commitOffsets", "triggerExecution")


class ReadRounds:
    """Seeded request stream in rounds: every round makes each of the
    five dashboard reads once, in a shuffled order, with a seeded
    symbol and window for ``history``."""

    def __init__(self, rng: random.Random, symbols: list[str], days: list[str]):
        self.rng, self.symbols, self.days = rng, symbols, days
        self.round: list = []

    def next(self) -> tuple[str, tuple]:
        if not self.round:
            self.round = list(READ_KINDS)
            self.rng.shuffle(self.round)
        kind = self.round.pop()
        if kind != "history":
            return kind, ()
        start = self.rng.randrange(len(self.days))
        end = min(len(self.days) - 1, start + self.rng.randrange(3))
        return kind, (self.rng.choice(self.symbols), self.days[start], self.days[end])


def fingerprint(rows) -> tuple:
    return tuple(sorted((tuple(r) for r in rows), key=repr))


def history_stamps() -> list[dt.datetime]:
    """Pre-built tick times: ``DEPTH_DAYS`` days four ticks a day, then
    ``DEPTH_LAST`` half-hourly ticks on the day before the stream's."""
    day = datagen.EPOCH - dt.timedelta(days=1)
    early = [day - dt.timedelta(hours=6 * k) for k in range(4 * DEPTH_DAYS, 0, -1)]
    return early + [day + dt.timedelta(minutes=30 * k) for k in range(48 - DEPTH_LAST, 48)]


def ingest_push(ctx: Ctx) -> Result:
    rng = random.Random(ctx.seed)
    pages = sorted(rng.sample(range(1, 51), PAGES))
    stamps = history_stamps()
    depth = len(stamps)
    feed_seed = rng.randrange(1 << 30)
    n_ticks = int(ctx.seconds / PERIOD_S) + 2  # stream ticks, 0 is the cold one

    def build(d):
        table = os.path.join(d, "prices")
        datagen.prices_table(table, stamps, pages, feed_seed)
        raw = [datagen.raw_poll(pages, depth + k, feed_seed) for k in range(n_ticks)]
        os.makedirs(os.path.join(d, "raw"))
        return d, table, raw

    spark, (d, table, raw), setup = set_up(ctx, "ingest_push", build)
    raw_dir = os.path.join(d, "raw")
    tracker = PriceTracker(spark, table)
    tracer, engine = Tracer(spark, ctx.trace), Engine(spark)
    res = Result(setup, [], 0.0, 0.0, {}, {})
    expected = {fingerprint(datagen.validated(datagen.poll_rows(pages, depth + k, feed_seed))): k
                for k in range(n_ticks)}
    symbols = sorted({r[0] for r in datagen.validated(datagen.poll_rows(pages, 0, feed_seed))})
    days = sorted({s.date().isoformat() for s in stamps} | {datagen.EPOCH.date().isoformat()})
    mix = ReadRounds(rng, symbols, days)

    listener = PhaseListener(tracer.add_hook) if ctx.trace else None
    if listener is not None:
        spark.streams.addListener(listener)
    state = _IncrementalSnapshot()
    pushes: list[tuple[float, list]] = []
    cond = threading.Condition()

    def push(rows):
        with cond:
            pushes.append((time.time(), rows))
            cond.notify_all()

    def drop(k: int) -> float:
        tmp = os.path.join(raw_dir, f".tick-{k:05d}.parquet")
        pq.write_table(raw[k], tmp)
        os.rename(tmp, os.path.join(raw_dir, f"tick-{k:05d}.parquet"))
        return time.time()

    def wait_pushes(n: int, timeout: float) -> bool:
        with cond:
            return cond.wait_for(lambda: len(pushes) >= n, timeout)

    # cold: one round of reads in the fresh session, then stream start to
    # the first push (first trigger, one full-table seed of the snapshot)
    memory.reset_peaks()
    t0 = time.perf_counter()
    cold_reads = [dashboard_read(tracker, tracer, *mix.next(), lambda: 0) for _ in READ_KINDS]
    t1 = time.perf_counter()
    started = time.time()
    drop(0)
    query = run_ingest_stream(spark, raw_dir, table, os.path.join(d, "checkpoint"),
                              push_fn=push, trigger_seconds=1, snapshot_state=state)
    try:
        if not wait_pushes(1, 120):
            raise RuntimeError("the stream pushed nothing for its first tick")
        res.cold_s = (t1 - t0) + (pushes[0][0] - started)
        since, hook0 = time.perf_counter(), tracer.hook_s
        ticks, reads = timed_loop(ctx, tracker, tracer, engine, mix, pushes, drop, res)
        if not wait_pushes(len(ticks) + 1, 60):
            res.fail(f"{len(ticks) + 1 - len(pushes)} ticks never pushed")
        busy_s, hook_s = time.perf_counter() - since, tracer.hook_s - hook0
        res.peak_rss = memory.peak_rss_mb()
    finally:
        query.stop()
        if listener is not None:
            spark.streams.removeListener(listener)

    lat = tick_latencies_ms(ticks, {k: p[0] for k, p in enumerate(pushes)})
    res.op_ms = lat
    read_s = [r["total_s"] for r in reads]
    res.ops_per_s = reads_per_s(reads)
    res.attempted += len(ticks) + 1 + len(cold_reads) + len(reads)

    n_rows = check_stream(tracker, table, state, pushes, expected, len(ticks) + 1, res)
    check_reads(table, cold_reads + reads, res)

    d_ = res.detail
    d_["tick_push_p50_ms"] = median(lat)
    d_["tick_push_p90_ms"] = percentile(lat, 90)
    d_["tick_push_tail"] = tail(lat)
    d_["tick_samples"] = len(lat)
    d_["read_p50_ms"] = median([s * 1e3 for s in read_s])
    d_["read_p90_ms"] = percentile([s * 1e3 for s in read_s], 90)
    d_["read_samples"] = len(read_s)
    d_["reads_per_s"] = res.ops_per_s
    d_["stream.backlog_max"] = max((t["backlog"] for t in ticks), default=0)
    d_["stream.generator_late_ms"] = max((t["late_ms"] for t in ticks), default=0.0)
    d_["stream.snapshot_full_reads"] = state.full_reads
    files = [f for _, _, fs in os.walk(table) for f in fs if f.endswith(".parquet")]
    d_["sources.table_files"] = len(files)
    d_["sources.table_rows"] = n_rows
    if ctx.trace:
        jobs = engine.jobs()
        res.layers = read_layers(tracer, engine, jobs, reads, since, d_)
        reader_groups = {s["group"] for s in tracer.spans if s["group"]}
        stream_jobs = [j for j in jobs if j["group"] not in reader_groups]
        d_["stream.jobs_per_tick"] = len(stream_jobs) / max(len(ticks), 1)
        stream_layers(tracer, listener, ticks, d_)
        # the stream's own jobs per tick; the reader's are api.*_per_read
        res.layers.update(engine_layers(engine, stream_jobs, len(ticks)))
        res.layers["trace.overhead_pct"] = overhead_pct(hook_s, busy_s)
        tracer_out(ctx, tracer, "ingest_push", jobs)
    return res


def dashboard_read(tracker: PriceTracker, tracer: Tracer, kind: str, args: tuple, pushed) -> dict:
    """One dashboard read, start to collected rows; ``pushed()`` counts
    the ticks pushed so far, to bound the table state the read saw."""
    before = pushed()
    t0 = time.perf_counter()
    rows, c_s, a_s, df = timed_call(
        tracer, f"api.{kind}", lambda: getattr(tracker, kind)(*args), lambda df: df.collect()
    )
    return {"kind": kind, "args": args, "total_s": time.perf_counter() - t0,
            "construct_s": c_s, "action_s": a_s, "rows": rows, "dtypes": df.dtypes,
            "pushed": (before, pushed())}


def reads_per_s(reads: list[dict]) -> float:
    """Reader throughput for an equal mix of the five reads: ``READERS``
    over the mean of the per-kind mean latencies, so a run that ends
    mid-round weighs every kind the same."""
    by_kind: dict[str, list[float]] = {}
    for r in reads:
        by_kind.setdefault(r["kind"], []).append(r["total_s"])
    if len(by_kind) < len(READ_KINDS):
        return 0.0
    return READERS / statistics.mean(statistics.mean(v) for v in by_kind.values())


def timed_loop(ctx, tracker, tracer, engine, mix, pushes, drop, res):
    """Open-loop generator plus closed-loop readers for ``ctx.seconds``;
    returns the ticks (see ``open_loop``) and the reads."""
    reads: list[dict] = []
    lock = threading.Lock()
    engine.mark()
    first_due = float(int(time.time() + 0.2)) + PHASE_S
    stop_at = first_due + ctx.seconds
    ticks: list[dict] = []

    def generator():
        ticks.extend(open_loop(first_due, PERIOD_S, stop_at, drop,
                               backlog=lambda k: k - len(pushes)))

    def reader():
        while time.time() < stop_at:
            kind, args = mix.next()
            try:
                rec = dashboard_read(tracker, tracer, kind, args, lambda: len(pushes))
            except Exception:
                with lock:
                    res.attempted += 1
                    res.fail(f"{kind}{args}: {traceback.format_exc(limit=3)}")
                continue
            with lock:
                reads.append(rec)

    threads = [threading.Thread(target=generator)] + [
        threading.Thread(target=reader) for _ in range(READERS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return ticks, reads


def open_loop(first_due: float, period: float, stop_at: float, drop, now=time.time,
              sleep=time.sleep, backlog=lambda k: 0) -> list[dict]:
    """Drop file ``k`` (from 1) when it falls due, ``period`` apart, until
    ``stop_at``. The schedule never slips: after a stall the files behind
    it are written late, and ``late_ms`` records by how much."""
    ticks, k = [], 1
    while True:
        due = first_due + (k - 1) * period
        if due >= stop_at:
            return ticks
        sleep(max(0.0, due - now()))
        pending = backlog(k)
        sent = drop(k)
        ticks.append({"k": k, "due": due, "sent": sent, "late_ms": (sent - due) * 1e3,
                      "backlog": pending})
        k += 1


def tick_latencies_ms(ticks: list[dict], pushed: dict) -> list[float]:
    """Due-to-push latency of every pushed tick: timed from when the file
    was due, not when it was written, so generator stalls count."""
    return [(pushed[t["k"]] - t["due"]) * 1e3 for t in ticks if t["k"] in pushed]


def check_stream(tracker, table, state, pushes, expected, n_ticks, res) -> int:
    """The final push equals batch ``latest_snapshot`` over the final
    table; the table holds every dropped tick exactly once; the snapshot
    state read the full table once. Returns the table's row count."""
    if fingerprint(pushes[-1][1]) != fingerprint(tracker.latest().collect()):
        res.fail("final pushed snapshot differs from latest() over the final table")
    if state.full_reads != 1:
        res.fail(f"snapshot state read the full table {state.full_reads} times")
    cols = ["symbol", "name", "current_price", "market_cap", "total_volume"]
    seen: dict[int, int] = {}
    n_rows = 0
    for part, _, files in os.walk(table):
        files = [f for f in files if f.endswith(".parquet") and not f.startswith((".", "_"))]
        rows = [r for f in files for r in pq.read_table(os.path.join(part, f), columns=cols)
                .to_pylist()]
        n_rows += len(rows)
        batch = int(os.path.basename(part).split("=")[1]) if "batch=" in part else None
        if not files or batch is None or batch >= 1_000_000:
            continue  # the pre-built history
        k = expected.get(fingerprint(tuple(r[c] for c in cols) for r in rows))
        if k is None:
            res.fail(f"table batch {batch} matches no dropped tick")
        else:
            seen[k] = seen.get(k, 0) + 1
    wrong = {k: c for k, c in seen.items() if c != 1}
    missing = [k for k in range(n_ticks) if k not in seen]
    if wrong or missing:
        res.fail(f"ticks not held exactly once: repeated {wrong}, missing {missing}")
    return n_rows


def check_reads(table: str, reads: list[dict], res: Result) -> None:
    """Each read equals its DuckDB twin over the table as it stood at
    some tick that was pushed or being written while the read ran."""
    oracles: dict = {}
    for r in reads:
        lo, hi = r["pushed"]
        got = checks.rows_frame(r["rows"], r["dtypes"])
        why = None
        for batch in range(max(lo - 1, -1), hi + 1):
            if batch not in oracles:
                oracles[batch] = checks.PricesOracle(table, datagen.EPOCH + dt.timedelta(seconds=batch))
            why = checks.mismatch(got, getattr(oracles[batch], r["kind"])(*r["args"]))
            if why is None:
                break
        if why is not None:
            res.fail(f"{r['kind']}{r['args']} matches DuckDB at no tick in [{lo - 1}, {hi}]: {why}")
    for oracle in oracles.values():
        oracle.con.close()


def read_layers(tracer: Tracer, engine: Engine, jobs: list[dict], reads: list[dict],
                since: float, d: dict) -> dict:
    """``api.*`` detail from the timed reads (spans from ``since`` on);
    returns the construct/action split per read."""
    by_group, kids = jobs_by_group(jobs), children(tracer.spans)
    for kind in READ_KINDS:
        lat = [r["total_s"] * 1e3 for r in reads if r["kind"] == kind]
        d[f"api.{kind}_ms"] = median(lat)
    d["api.construct_ms"] = median([r["construct_s"] * 1e3 for r in reads])
    d["api.action_ms"] = median([r["action_s"] * 1e3 for r in reads])
    timed = [s for s in tracer.spans if s["name"].startswith("api.") and s["start"] >= since]
    read_jobs = [j for s in timed for j in span_jobs(s, kids, by_group)]
    n = max(len(timed), 1)
    d["api.jobs_per_read"] = len(read_jobs) / n
    d["api.tasks_per_read"] = engine.stage_totals(read_jobs)["tasks"] / n
    return {"construct_ms": d["api.construct_ms"], "action_ms": d["api.action_ms"]}


def stream_layers(tracer: Tracer, listener: PhaseListener, ticks: list, d: dict) -> None:
    """``stream.*`` phases per tick from the listener, and one span per
    tick (due time to trigger start) with its phases as children."""
    waits, phases = [], {p: [] for p in PHASES}
    for t in ticks:
        k, due = t["k"], t["due"]
        prog = listener.progress.get(k)
        if prog is None:
            continue
        start = dt.datetime.fromisoformat(prog["timestamp"].replace("Z", "+00:00")).timestamp()
        waits.append((start - due) * 1e3)
        for p in PHASES:
            phases[p].append(prog["durationMs"].get(p, 0))
        trig = prog["durationMs"].get("triggerExecution", 0) / 1e3
        tick = tracer.record("stream.tick", due, start + trig, tick=k)
        tracer.record("stream.trigger", start, start + trig, parent=tick, **prog["durationMs"])
    d["stream.trigger_wait_ms"] = median(waits)
    names = {"addBatch": "add_batch", "getBatch": "get_batch", "latestOffset": "latest_offset",
             "queryPlanning": "query_planning", "walCommit": "wal_commit",
             "commitOffsets": "commit_offsets", "triggerExecution": "trigger"}
    for p, v in phases.items():
        d[f"stream.{names[p]}_ms"] = median(v)


# ---- catalog: registered queries over a generated dataset -----------------------

CATALOG_LINEITEMS = 30_000  # half the sf0.01 test dataset


def catalog(ctx: Ctx) -> Result:
    import __spark_entry__

    data_seed = random.Random(ctx.seed).randrange(1 << 30)

    def build(d):
        data = os.path.join(d, "data")
        datagen.catalog_tables(data, data_seed, CATALOG_LINEITEMS)
        return data

    spark, data, setup = set_up(ctx, "catalog", build)
    fns = __spark_entry__.queries()
    tracer, engine = Tracer(spark, ctx.trace), Engine(spark)
    res = Result(setup, [], 0.0, 0.0, {}, {})

    # DuckDB runs in a child process, so its memory stays out of peak_rss_mb
    want = checks.catalog_oracle(data, cat.WORKLOAD_QUERIES, os.path.join(ctx.work, "oracle.pkl"))

    def one_pass() -> tuple[float, list[tuple]]:
        """Run the list once; each result is checked as soon as its query
        is done, outside the query's timing, and only the verdict kept.
        Returns the summed query time and (name, construct_s, action_s)."""
        out = []
        for name in cat.WORKLOAD_QUERIES:
            res.attempted += 1
            try:
                got, c_s, a_s, _ = timed_call(tracer, f"query.{name}",
                                              lambda: fns[name](spark, data),
                                              lambda df: df.toPandas())
            except Exception:
                res.fail(f"{name}: {traceback.format_exc(limit=3)}")
                continue
            out.append((name, c_s, a_s))
            why = checks.mismatch(got, want[name])
            if why:
                res.fail(f"{name} vs DuckDB: {why}")
        return sum(c + a for _, c, a in out), out

    memory.reset_peaks()
    res.cold_s, _ = one_pass()
    engine.mark()
    hook0 = tracer.hook_s
    passes, start = [], time.perf_counter()
    while len(passes) < 2 or time.perf_counter() - start < ctx.seconds:
        passes.append(one_pass())
    res.peak_rss = memory.peak_rss_mb()
    busy_s = sum(p[0] for p in passes)
    res.op_ms = [p[0] * 1e3 for p in passes]
    res.ops_per_s = sum(len(p[1]) for p in passes) / busy_s

    d = res.detail
    d["catalog_pass_s"] = median([p[0] for p in passes])
    d["catalog_cold_pass_s"] = res.cold_s
    d["catalog_passes"] = len(passes)
    d["catalog_query_ms"] = {
        name: median([(c + a) * 1e3 for p in passes for n, c, a in p[1] if n == name])
        for name in cat.WORKLOAD_QUERIES
    }
    if ctx.trace:
        jobs = engine.jobs()
        family_layers(tracer, engine, jobs, len(passes), d)
        res.layers = {
            "construct_ms": median([sum(q[1] for q in p[1]) * 1e3 for p in passes]),
            "action_ms": median([sum(q[2] for q in p[1]) * 1e3 for p in passes]),
            **engine_layers(engine, jobs, len(passes)),
            "trace.overhead_pct": overhead_pct(tracer.hook_s - hook0, busy_s),
        }
        tracer_out(ctx, tracer, "catalog", jobs)
    return res


def family_layers(tracer: Tracer, engine: Engine, jobs: list[dict], n_passes: int, d: dict) -> None:
    """``catalog.<family>.*`` per warm pass, from the timed query spans
    (those whose jobs fall after the mark; the cold pass has none)."""
    by_group, kids = jobs_by_group(jobs), children(tracer.spans)
    warm = [s for s in tracer.spans if s["name"].startswith("query.")][len(cat.WORKLOAD_QUERIES):]
    fam: dict[str, dict] = {}
    for s in warm:
        f = fam.setdefault(cat.family_of(s["name"][len("query."):]),
                           {"wall_s": 0.0, "construct_s": 0.0, "action_s": 0.0, "jobs": []})
        f["wall_s"] += s["end"] - s["start"]
        for c in kids.get(s["id"], []):
            f[f"{c['name']}_s"] += c["end"] - c["start"]
        f["jobs"] += span_jobs(s, kids, by_group)
    for name, f in fam.items():
        tot = engine.stage_totals(f["jobs"])
        for k in ("wall_s", "construct_s", "action_s"):
            d[f"catalog.{name}.{k}"] = f[k] / n_passes
        d[f"catalog.{name}.jobs"] = tot["jobs"] / n_passes
        d[f"catalog.{name}.executor_run_s"] = tot["executor_run_s"] / n_passes
        d[f"catalog.{name}.shuffle_write_mb"] = tot["shuffle_write_mb"] / n_passes


def tracer_out(ctx: Ctx, tracer: Tracer, name: str, jobs: list[dict]) -> None:
    """Write the spans and the timed region's jobs (by job group) to
    ``.perfbench/traces/<workload>-seed<n>.json``."""
    out = os.path.join(os.path.dirname(ctx.work), "traces")
    os.makedirs(out, exist_ok=True)
    tracer.write(os.path.join(out, f"{name}-seed{ctx.seed}.json"),
                 {"workload": name, "seed": ctx.seed, "jobs": jobs})
