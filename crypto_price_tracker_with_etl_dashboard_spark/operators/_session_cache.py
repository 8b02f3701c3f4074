"""The session cache: the one owner of cached intermediate DataFrames.

Operators and query families derive the SAME intermediate from the
same input many times in one Spark application — the mirrored
neighbor table LPA, k-core and the coreness decomposition all build,
the degree-oriented edge list triangle counting and the k-truss peel
both build, the pagerank-family and HITS build tables, the LSH
banded-signature and n-gram posting tables ~10 doc_* queries build,
the trade and co-occurrence graphs, the trained vector indexes.  All
of them live here, under one policy:

- **Scope.**  Entries are kept per ``applicationId``.  The first
  access from another application drops every entry of the previous
  one WITHOUT unpersist: its SparkContext is stopped, the JVM cache
  died with it, and only the Python handles remain.  Nothing persists
  across bench or driver runs.
- **Matching.**  :func:`session_cache` finds an entry by its column
  names plus Catalyst's ``sameResult`` on the analyzed plan
  (canonicalized semantic plan equality, the check Spark's own
  CacheManager uses), so expression-id drift between calls never
  defeats a match, and a call with other parameters or another input
  simply misses.  The names are part of the match because
  canonicalization erases aliases: a renamed projection of a cached
  table is ``sameResult``-equal to it, but a caller must get back the
  columns it asked for.
  :func:`keyed_cache` finds an entry by an explicit key instead, for
  builds that run jobs before a plan exists (a trained index) or that
  must skip the source listing on a hit.
- **Budget.**  All entries share one LRU budget of
  :data:`MAX_ENTRIES`.  A hit moves the entry to most recent; an
  insert past the budget unpersists the least recent entry, so
  parameter sweeps cannot stack corpus-sized tables.
- **materialize.**  ``materialize=True`` populates a NEWLY cached
  entry with one count job before returning it, for callers whose
  first action fans the table out into several branches (each branch
  would recompute an unpopulated cache).  A hit runs zero jobs.  The
  count is memoized, see :func:`cached_count`.
- **Scratch slots.**  Per-call intermediates that must NOT be reused
  across calls (reusing them would serve near-final results from the
  cache — memoization, not sharing) live in one slot per owner,
  :func:`scratch`: the owner's next call unpersists the previous
  slot's DataFrames before caching its own.  An input the caller
  already cached is used as is (:meth:`Scratch.cache_input`), never
  cached a second time.  A slot counts as one entry of the budget.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# The sum of the per-family bounds this store replaced: 33 shared
# build tables (mirror 3, orientation 6, pagerank 8, HITS 8, LSH
# banding 4, n-gram postings 4), 7 scratch owners and 4 keyed builds.
MAX_ENTRIES = 44


@dataclass
class _Entry:
    key: Hashable  # explicit key, or the column names of a plan entry
    plan: object | None  # analyzed JVM plan of a plan entry (sameResult)
    dfs: list[DataFrame] = field(default_factory=list)


# applicationId -> entries, least recently used first (one live app)
_store: dict[str, list[_Entry]] = {}


def _entries(spark: SparkSession) -> list[_Entry]:
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _store if k != app_id]:
        del _store[stale]  # another application's entries: no unpersist
    return _store.setdefault(app_id, [])


def _find(entries: list[_Entry], match: Callable[[_Entry], bool]) -> _Entry | None:
    """The matching entry, moved to most recent; None on a miss."""
    for i, entry in enumerate(entries):
        if match(entry):
            entries.append(entries.pop(i))
            return entry
    return None


def _insert(entries: list[_Entry], entry: _Entry) -> None:
    entries.append(entry)
    while len(entries) > MAX_ENTRIES:
        for df in entries.pop(0).dfs:
            df.unpersist()


def cached_count(df: DataFrame) -> int:
    """``df.count()`` memoized on the DataFrame OBJECT, so a cached
    entry consulted again answers with zero jobs.  Only valid while
    the data behind ``df`` cannot change: callers pass entries of
    this store (or their own cached, immutable inputs).  The scalar
    dies with the Python handle."""
    n = getattr(df, "_graft_count", None)
    if n is None:
        n = df._graft_count = df.count()
    return n


def session_cache(df: DataFrame, materialize: bool = False) -> DataFrame:
    """The stored entry with ``df``'s column names whose analyzed plan
    ``sameResult``-matches ``df``'s, else ``df.cache()`` newly stored."""
    entries = _entries(df.sparkSession)
    names = tuple(df.columns)
    plan = df._jdf.queryExecution().analyzed()
    hit = _find(
        entries,
        lambda e: e.plan is not None and e.key == names and e.plan.sameResult(plan),
    )
    if hit is not None:
        df = hit.dfs[0]
    else:
        df = df.cache()
        _insert(entries, _Entry(names, plan, [df]))
    if materialize:
        cached_count(df)
    return df


def keyed_cache(
    spark: SparkSession, key: Hashable, build: Callable[[], DataFrame]
) -> DataFrame:
    """The entry stored under ``key``, else ``build()`` newly stored.
    ``build`` returns an already cached or checkpointed DataFrame;
    a hit never calls it."""
    entries = _entries(spark)
    hit = _find(entries, lambda e: e.plan is None and e.key == key)
    if hit is not None:
        return hit.dfs[0]
    df = build()
    _insert(entries, _Entry(key, None, [df]))
    return df


class Scratch:
    """One owner's scratch slot for the current call."""

    def __init__(self, dfs: list[DataFrame]):
        self._dfs = dfs

    def cache(self, df: DataFrame, materialize: bool = False) -> DataFrame:
        """``df.cache()``, held until the owner's next call."""
        df = df.cache()
        self._dfs.append(df)
        if materialize:
            cached_count(df)
        return df

    def cache_input(
        self, source: DataFrame, df: DataFrame, materialize: bool = False
    ) -> DataFrame:
        """``df`` (``source`` or a projection of it) cached in this
        slot — unless the caller already cached ``source``: then
        ``df`` is returned as is and nothing new is persisted
        (re-caching an identical plan would share the caller's cache,
        and this slot's unpersist would drop it)."""
        level = source.storageLevel
        if level.useMemory or level.useDisk:
            return df
        return self.cache(df, materialize)


def scratch(owner: str, spark: SparkSession) -> Scratch:
    """Start ``owner``'s slot for a new call: unpersist what its
    previous call held, and return the empty slot."""
    entries = _entries(spark)
    key = ("scratch", owner)
    slot = _find(entries, lambda e: e.plan is None and e.key == key)
    if slot is None:
        slot = _Entry(key, None)
        _insert(entries, slot)
    for df in slot.dfs:
        df.unpersist()
    slot.dfs.clear()
    return Scratch(slot.dfs)
