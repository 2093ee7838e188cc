"""Staged-relation lifecycle management.

A staged family is a shared relation that many queries read: it is
built once per (SparkContext, fixture) and then reused — the
"compute once, sweep many" pattern a production pipeline
materializes to a staging store (the hourly bar rollup, the shingled
and tokenized corpora, the graph adjacency lists, ...).

A family is declared once, with `@staged("<module>.<family>")` on a
builder `(spark, sf_dir) -> value`:

  * the memo key is `(spark.sparkContext.applicationId, sf_dir)`, so
    a new SparkContext never sees a stale handle;
  * the first call per key runs the builder and memoizes its value;
    later calls return that value without running the builder;
  * families register in decoration (import) order — a module imports
    the modules whose families it reads, and inside a module a
    builder is defined after the builders it calls, so registration
    order is dependency order;
  * builders own their persist: each calls
    `.persist(StorageLevel.MEMORY_AND_DISK)` itself (some must persist
    before their own eager `count()`). A value is a DataFrame, a tuple
    holding DataFrames, or a driver-side Python value (BPE merge
    table, PQ codebook rows) that needs no release.

persist() is local-mode's equivalent of the staging store, but a
long-lived session (a notebook, a query service) eventually wants the
memory back. `unpersist_staged` unpersists every DataFrame held in the
registry (tuple members included) and empties every family's memo, so
the next query transparently re-stages; `staged_relations` reports
what is currently held (the operational "what is pinned in my
cluster's storage memory" question).
"""

from __future__ import annotations

import functools
from typing import Any, Callable

#: family -> {(applicationId, sf_dir): staged value}, in registration order.
_REGISTRY: dict[str, dict[tuple[str, str], Any]] = {}
#: family -> its memoizing builder, in registration order.
_BUILDERS: dict[str, Callable[[Any, str], Any]] = {}


def staged(family: str) -> Callable[[Callable], Callable]:
    """Register `family` and memoize its builder per
    (applicationId, sf_dir) in the module registry."""
    def register(build: Callable[[Any, str], Any]) -> Callable[[Any, str], Any]:
        if family in _REGISTRY:
            raise ValueError(f"staged family {family!r} registered twice")
        memo = _REGISTRY[family] = {}

        @functools.wraps(build)
        def builder(spark, sf_dir: str):
            key = (spark.sparkContext.applicationId, sf_dir)
            if key not in memo:
                memo[key] = build(spark, sf_dir)
            return memo[key]

        _BUILDERS[family] = builder
        return builder
    return register


def staged_relations() -> dict[str, list[tuple[Any, ...]]]:
    """Registry name → list of (applicationId, sf_dir) keys currently
    staged. Purely informational; touches no Spark state."""
    return {name: sorted(memo) for name, memo in _REGISTRY.items() if memo}


def unpersist_staged(blocking: bool = False) -> int:
    """Unpersist every staged DataFrame and empty every family's memo.
    Returns the number of entries released. Safe to call with no
    active SparkContext (driver-side values still clear); subsequent
    queries re-stage on first use."""
    released = 0
    for memo in _REGISTRY.values():
        for val in memo.values():
            entry = val if isinstance(val, tuple) else (val,)
            for item in entry:
                if hasattr(item, "unpersist"):
                    try:
                        item.unpersist(blocking=blocking)
                    except Exception:
                        # A dead SparkContext makes release a no-op —
                        # the JVM-side memory is already gone.
                        pass
            released += 1
        memo.clear()
    return released
