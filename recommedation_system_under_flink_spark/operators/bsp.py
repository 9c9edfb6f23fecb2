"""Query-scoped cache lifecycle and shared plumbing for BSP-style
iterative operators.

**Cache scope.** Every registered builder runs inside a
:func:`query_scope` (``registry.register`` wraps it). Operator code
caches a frame with :func:`persist`, which records the frame in the
innermost open scope; the scope unpersists every frame it recorded on
every way out, exceptions included. A builder therefore never releases
a cache by hand, and ``persist`` outside a scope raises, so no cache can
outlive the query that made it. Scopes nest: a builder that calls
another registered builder gets the inner one's caches released when
the inner call returns.

The release happens when the builder RETURNS, before the caller runs
its action. A builder whose returned lazy plan still reads a persisted
frame must therefore materialize it first with
:func:`checkpoint_result`; otherwise the action silently recomputes the
un-cached lineage (and a nondeterministic or corrupt-record read may
see different rows).

**BSP loops.** Every iterative operator here (PageRank, BFS, PPR,
HITS, k-core, hash-min connected components, distributed TextRank) has
the same shape: persist the loop invariants (edges, degrees, vocab),
iterate K join+aggregate rounds, emit a SMALL result (per-node
labels/ranks — O(|keys|), not O(|input|)). Each round's DataFrame
references the previous round's plan; after K rounds the plan is K
levels deep, and anything that recomputes it (a retry, a second action)
replays the whole chain. ``checkpoint_result`` truncates the final
lineage with an eager ``localCheckpoint()``, which stores partitions on
executors (not a reliable FS): right for these small results on one
host.

The loop rule: a round that references its predecessor once stays
lazy — the plan grows linearly and ``checkpoint_result`` truncates it
once. A round that references its predecessor more than once (or whose
state is also kept for later, like BFS levels) truncates with an eager
``localCheckpoint`` every round. No round persists inside the previous
round's persisted frame: each persisted frame embeds the plans of the
ones it reads, so the executed-plan descriptions Spark formats for
every SQL execution grow with every round. Measured at sf0.001
(``scripts/plan_probe.py --tag``) when HITS, k-core and NN-descent
still did that: ``graph_hits_clicks``' grew 6 → 26 → 60 → … → 1,445 KB
over 9 SQL executions, ``graph_kcore``'s 8 → 38 → 161 → 464 →
1,367 KB, and ``sim_nndescent_round``'s four chained stages reached
2,687 KB (38 KB with a checkpoint per stage, over 6 executions); all
three now stay under 256 KB (``tests/test_plan_budgets.py``).

**Executed plans.** A checkpointed result's own plan is a ``Scan
ExistingRDD`` stub. The lineage it ran is not lost: Spark's SQL status
store records every execution, the ``localCheckpoint`` one included,
with its physical plan (``scripts/plan_probe.py --tag`` dumps them).
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

#: Open scopes, innermost last; each holds the frames it persisted.
_SCOPES: ContextVar[tuple[list[DataFrame], ...]] = ContextVar(
    "bsp_query_scopes", default=()
)


@contextmanager
def query_scope():
    """Open a cache scope: every frame :func:`persist`-ed inside it is
    unpersisted when it closes, however it closes."""
    frames: list[DataFrame] = []
    token = _SCOPES.set((*_SCOPES.get(), frames))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for df in frames:
            df.unpersist()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, released by the innermost open :func:`query_scope`."""
    scopes = _SCOPES.get()
    if not scopes:
        raise RuntimeError(
            "persist() outside a query_scope(): nothing would release it"
        )
    scopes[-1].append(df)
    return df.persist()


def leaked_cache(spark) -> bool:
    """True when the session's CacheManager still holds a cached plan
    after a query; the cache is then cleared, so one leak fails only
    the query that made it."""
    if spark._jsparkSession.sharedState().cacheManager().isEmpty():
        return False
    spark.catalog.clearCache()
    return True


def checkpoint_result(result: DataFrame) -> DataFrame:
    """Materialize a builder's (small) final result, truncating its
    lineage, so the returned frame no longer reads the scope's caches
    when they are released."""
    return result.localCheckpoint(eager=True)

