"""The one session cache (operators/_session_cache.py): LRU budget,
unpersist on eviction, the stale-application drop, caller-cached
inputs, scratch slots and keyed builds — plus a source scan that
keeps hand-rolled module-level caches from growing back."""

from __future__ import annotations

import ast
import os

import pytest

from crypto_price_tracker_with_etl_dashboard_spark.operators import (
    _session_cache as sc,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "crypto_price_tracker_with_etl_dashboard_spark",
)


@pytest.fixture()
def store(spark):
    """An empty store for this application; entries left behind are
    unpersisted so later tests start from a clean block manager."""
    sc._store.clear()
    yield sc._store
    for entries in sc._store.values():
        for entry in entries:
            for df in entry.dfs:
                df.unpersist()
    sc._store.clear()


def _persisted(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _live(spark) -> list:
    return [df for e in sc._store[spark.sparkContext.applicationId] for df in e.dfs]


def test_lru_keeps_hot_entry_past_budget(spark, store):
    """cap + 1 distinct entries with the first one re-read between
    every insert: LRU keeps it and evicts the oldest filler; FIFO
    would have evicted the hot entry."""
    hot = sc.session_cache(spark.range(1000))
    fillers = []
    for i in range(sc.MAX_ENTRIES):
        fillers.append(sc.session_cache(spark.range(i + 1)))
        assert sc.session_cache(spark.range(1000)) is hot
    live = _live(spark)
    assert len(live) == sc.MAX_ENTRIES
    assert any(df is hot for df in live)
    assert not any(df is fillers[0] for df in live)
    assert all(any(df is f for df in live) for f in fillers[1:])


def test_evicted_entry_is_unpersisted(spark, store, monkeypatch):
    monkeypatch.setattr(sc, "MAX_ENTRIES", 2)
    first = sc.session_cache(spark.range(11))
    assert _persisted(first)
    sc.session_cache(spark.range(12))
    sc.session_cache(spark.range(13))
    assert not _persisted(first)


def test_other_application_dropped_without_unpersist(spark, store):
    class Handle:
        unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    handle = Handle()
    store["finished-app"] = [sc._Entry(("k",), None, [handle])]
    sc.session_cache(spark.range(7))
    assert "finished-app" not in store
    assert not handle.unpersisted


def test_caller_cached_input_returned_as_is(spark, store):
    src = spark.range(20).cache()
    src.count()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    slot = sc.scratch("test-owner", spark)
    assert slot.cache_input(src, src) is src
    proj = src.select("id")
    assert slot.cache_input(src, proj, materialize=True) is proj
    assert jsc.getPersistentRDDs().size() == before
    src.unpersist()


def test_scratch_second_call_unpersists_first(spark, store):
    first = sc.scratch("test-owner", spark).cache(spark.range(30), materialize=True)
    assert _persisted(first)
    second = sc.scratch("test-owner", spark).cache(spark.range(31))
    assert not _persisted(first)
    assert _persisted(second)
    # one slot per owner, not one per call
    key = ("scratch", "test-owner")
    entries = store[spark.sparkContext.applicationId]
    assert sum(e.key == key for e in entries) == 1


def test_keyed_hit_does_not_call_build(spark, store):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).cache()

    first = sc.keyed_cache(spark, ("test", "a"), build)
    assert sc.keyed_cache(spark, ("test", "a"), build) is first
    assert calls == [1]
    sc.keyed_cache(spark, ("test", "b"), build)
    assert calls == [1, 1]


def test_cached_count_on_lazy_entry(spark, store):
    """An entry stored without materialize has no memoized count yet:
    cached_count computes it instead of raising AttributeError."""
    df = sc.session_cache(spark.range(9))
    assert sc.cached_count(df) == 9
    assert sc.cached_count(sc.session_cache(spark.range(9))) == 9


# module-level dicts that are not DataFrame caches, with the reason
ALLOWED = {
    # catalog table names: their lifetime is the warehouse, not the
    # block manager
    ("queries/joins.py", "_BUCKETED"),
    # a decision log, not a cache
    ("operators/_broadcast_guard.py", "_GUARD_LOG"),
    # the query catalog, filled by register() at import time
    ("queries/__init__.py", "SPARK_QUERIES"),
    ("queries/__init__.py", "ORACLE_SQL"),
}


_DICT_CALLS = {"dict", "defaultdict", "OrderedDict"}


def _names_dataframe(node: ast.AST) -> bool:
    """The annotation names DataFrame as a stored value (a Callable's
    return type does not count)."""
    if isinstance(node, ast.Subscript) and ast.unparse(node.value).endswith(
        "Callable"
    ):
        return False
    if isinstance(node, ast.Name):
        return node.id == "DataFrame"
    return any(_names_dataframe(c) for c in ast.iter_child_nodes(node))


def _module_dicts(path: str):
    """(name, annotation, value) of every module-level dict."""
    for node in ast.parse(open(path).read()).body:
        if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            targets, annotation = [node.target], node.annotation
        elif isinstance(node, ast.Assign):
            targets, annotation = node.targets, None
        else:
            continue
        value = node.value
        is_dict = isinstance(value, ast.Dict) or (
            isinstance(value, ast.Call) and ast.unparse(value.func) in _DICT_CALLS
        )
        if annotation is not None:
            is_dict = is_dict or ast.unparse(annotation).lower().startswith("dict")
        if is_dict:
            for target in targets:
                if isinstance(target, ast.Name):
                    yield target.id, annotation, value


def test_no_module_level_caches_outside_store():
    """Runtime-filled module dicts (initialized empty), dicts named
    *CACHE*, and dicts holding DataFrames belong in the session
    cache; any other module that grows one fails here."""
    found = set()
    for d, _, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(d, fn), PKG).replace(os.sep, "/")
            if rel == "operators/_session_cache.py":
                continue
            for name, annotation, value in _module_dicts(os.path.join(d, fn)):
                starts_empty = (
                    isinstance(value, ast.Dict) and not value.keys
                ) or (isinstance(value, ast.Call) and not value.args)
                holds_frames = annotation is not None and _names_dataframe(annotation)
                if starts_empty or "CACHE" in name or holds_frames:
                    found.add((rel, name))
    assert found - ALLOWED == set(), "module-level caches outside the store"
    assert ALLOWED <= found, "stale allow-list entries"
