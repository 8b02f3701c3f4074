"""Self-tests for the benchmark. From the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import catalog as cat  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import with_self_time  # noqa: E402


def test_median_is_always_reported():
    assert stats.percentile([3.0], 50) == 3.0
    assert stats.percentile([1.0, 2.0, 9.0], 50) == 2.0


def test_percentile_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 90) == 90.0  # 10 samples lie above rank 90
    assert stats.percentile(xs[:-1], 90) is None  # only 9 would
    assert stats.percentile(xs[:19], 75) is None
    assert stats.tail([float(i) for i in range(40)]) == (75, 29.0)
    assert stats.tail([1.0] * 12) is None


class FakeClock:
    def __init__(self, t: float):
        self.t = t

    def now(self) -> float:
        return self.t

    def sleep(self, s: float) -> None:
        self.t += max(0.0, s)


def test_open_loop_latency_counts_from_due_time():
    import workloads

    clock = FakeClock(100.0)

    def drop(k: int) -> float:
        clock.t += 2.5 if k == 1 else 0.1  # the first write stalls the generator
        return clock.t

    ticks = workloads.open_loop(101.0, 1.0, 105.0, drop, now=clock.now, sleep=clock.sleep)
    assert [t["due"] for t in ticks] == [101.0, 102.0, 103.0, 104.0]  # no slip
    pushed = {t["k"]: t["sent"] + 0.05 for t in ticks}
    lat = workloads.tick_latencies_ms(ticks, pushed)
    # measured from when each file was due, the stall shows on the ticks behind it
    assert [round(x) for x in lat] == [2550, 1650, 750, 150]
    assert [round(t["late_ms"]) for t in ticks] == [2500, 1600, 700, 100]


def test_catalog_names_are_registered_in_exactly_one_family():
    from crypto_price_tracker_with_etl_dashboard_spark.queries import ORACLE_SQL, SPARK_QUERIES

    names = [n for members in cat.FAMILIES.values() for n in members]
    assert len(names) == len(set(names)) == 43
    for n in names:
        assert n in SPARK_QUERIES and n in ORACLE_SQL, n
        assert cat.family_of(n) in cat.FAMILIES
    families = [cat.family_of(n) for n in cat.WORKLOAD_QUERIES]
    assert len(families) == len(set(families))  # one query per family


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
    ]
    self_s = {s["id"]: s["self_s"] for s in with_self_time(spans)}
    assert self_s == {1: 5.0, 2: 3.0, 3: 3.0}


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_refuses_to_run_without_the_program(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "catalog",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode == 2 and p.stdout == ""
