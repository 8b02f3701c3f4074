"""Pin the eager/lazy localCheckpoint choice PER SITE (r12 verdict
"what's wrong" #4 -> r13 ask #6).

``localCheckpoint(eager=False)`` truncates the logical plan
immediately but materializes with the consumer's FIRST action — one
job per round instead of two.  That is only safe while the
checkpointed table's consumers run SERIALLY (each action after the
previous): a table consumed by multiple CONCURRENTLY SCHEDULED
actions, or fanned out into several references inside one action
BEFORE any action materialized it, can double-compute its subtree.
Every lazy site in the iterative operators is serial-consumption by
construction (the next round's single action, or the caller's one
action); the deliberately EAGER sites are exactly the multi-consumer
fan-outs:

- ktruss's per-round survivor set feeds FOUR references in the next
  round's plan (two wedge arms, the closer, the support join-back);
- the k-means family (similarity.py) re-reads centroids from several
  parallel consumers per Lloyd round;
- the indicator session spines feed a multi-branch mapInPandas
  fan-out;
- bfs/bellman-ford/widest-path SEED frames wrap a driver-local
  createDataFrame that several rounds reference.

pagerank and LPA have NO checkpoint sites at all (r13): their loops
run no per-round actions and reference the previous state exactly
once per round, so the plan is a linear chain — and under AQE a lazy
localCheckpoint is not free (its construction-time toRdd executes
every upstream query stage as separate jobs).

This test reads the operator, function and query SOURCE and asserts
each file's eager/lazy census, so a future edit cannot silently flip
a site from the safe choice without updating the documented
reasoning here.
"""

from __future__ import annotations

import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "crypto_price_tracker_with_etl_dashboard_spark",
)

# file (relative to the package) -> expected (n_eager, n_lazy)
# localCheckpoint CALL sites (docstring mentions excluded).  Update
# this table ONLY together with a serial-vs-concurrent consumption
# argument for the site you add or flip.
EXPECTED = {
    # seed frames eager (driver-local, multi-round); loop states lazy
    "operators/bfs.py": (4, 6),
    # pointer-doubling loop: all lazy (serial rounds)
    "operators/components.py": (0, 3),
    # forest resolution: all lazy (serial rounds)
    "operators/hierarchy.py": (0, 3),
    # normalize subtree lazy (truncates the double-referenced raw
    # scores); plus ONE last-iteration authority checkpoint (feeds
    # the hub half-step AND the final extension)
    "operators/hits.py": (0, 2),
    # peel loop states: lazy (serial rounds)
    "operators/kcore.py": (0, 7),
    # survivor set eager: FOUR references in the next round's plan
    # would otherwise double-compute inside one action
    "operators/ktruss.py": (1, 0),
    # session spines feeding multi-branch fan-outs: eager
    "operators/indicators.py": (2, 0),
    # Lloyd loop + k-center/MMR states: eager (parallel consumers
    # per round — centroids feed assign + update branches)
    "functions/similarity.py": (7, 0),
    # Query-level sites.  The lazy ones truncate a table that several
    # branches of the caller's ONE action reference (no driver-side
    # action reads it first): the first task to compute a partition
    # persists it, and the block manager's per-block write lock makes
    # a concurrent task for the same partition on that executor wait
    # and read it, so the branches do not recompute the subtree —
    # while eager would add one job per site.
    # text: the quality-funnel stages (quality, kept_exact), both
    # pair pipelines of the LSH precision/recall audit, the
    # transitivity pair set and the IDF-weighted postings — all lazy
    "queries/text.py": (0, 6),
    # vector: the k-means seed-round centroids are eager (the batch
    # fold collects them to the driver at construction — an action
    # of its own — and the caller's action reads them again); the MMR
    # pick set is lazy (serial rounds with no per-round action, each
    # referencing it three times inside the next round's plan)
    "queries/vector.py": (2, 1),
    # behavior: the perceptron's user table and per-round weights are
    # eager (every round is its own action re-reading users); the
    # item-CF user-item table and the Markov stationary rounds are
    # lazy (one action; serial rounds with no per-round action)
    "queries/behavior.py": (2, 2),
    # graph: LPA's community table for the modularity tag joins — lazy
    # (three references inside one action)
    "queries/graph.py": (0, 1),
    # olap: the basket item table — lazy (three references inside one
    # action)
    "queries/olap.py": (0, 1),
}

def _flags(path: str) -> list[bool]:
    """eager= flag of every localCheckpoint CALL in the file (AST —
    docstring/comment mentions of the pattern don't count)."""
    import ast

    out = []
    for node in ast.walk(ast.parse(open(path).read())):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "localCheckpoint"
        ):
            eager = [
                kw.value.value
                for kw in node.keywords
                if kw.arg == "eager" and isinstance(kw.value, ast.Constant)
            ]
            # a site without an explicit literal eager= flag is
            # itself a discipline violation (the default is eager)
            assert len(eager) == 1, f"{path}: un-pinned localCheckpoint site"
            out.append(bool(eager[0]))
    return out


def _census(path: str) -> tuple[int, int]:
    flags = _flags(path)
    return flags.count(True), flags.count(False)


def test_every_checkpoint_site_is_pinned():
    for rel, (want_eager, want_lazy) in EXPECTED.items():
        got = _census(os.path.join(PKG, rel))
        assert got == (want_eager, want_lazy), (
            f"{rel}: localCheckpoint census changed "
            f"(eager, lazy) = {got}, pinned "
            f"{(want_eager, want_lazy)} — flipping a site between "
            "eager and lazy changes the double-compute safety "
            "argument; update tests/test_checkpoint_discipline.py "
            "WITH the new serial-vs-concurrent consumption reasoning"
        )


def test_no_unpinned_files_use_localcheckpoint():
    """Any NEW file that starts calling localCheckpoint must be added
    to the census above (with its eager/lazy reasoning)."""
    seen = set()
    for sub in ("operators", "functions", "queries"):
        d = os.path.join(PKG, sub)
        for fn in os.listdir(d):
            if not fn.endswith(".py"):
                continue
            rel = f"{sub}/{fn}"
            if _flags(os.path.join(d, fn)):
                seen.add(rel)
    assert seen == set(EXPECTED), (
        f"files using localCheckpoint changed: "
        f"unpinned={sorted(seen - set(EXPECTED))}, "
        f"stale={sorted(set(EXPECTED) - seen)}"
    )
