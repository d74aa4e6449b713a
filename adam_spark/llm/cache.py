"""Cache-lifetime control for operators that persist internal tables.

Several LLM-pipeline operators persist a slim intermediate (a
vocabulary, a fingerprint table, a candidate shortlist) because it
feeds two plan subtrees and Spark does not reuse the exchange across
them. Every such site uses one policy: a plain ``DataFrame.persist()``.

That registers the plan with the session's CacheManager, which gives
the repeated-call reuse for free: rebuilding the same operator on the
same input yields a plan-identical intermediate, CacheManager matches
it, and the executed plan reads ``InMemoryTableScan`` instead of
recomputing. Entries live until an explicit ``unpersist()`` /
``spark.catalog.clearCache()`` — fine for one-shot jobs, but a
long-lived session chaining many corpora accumulates one entry per
distinct input.

:func:`eager_release` is the one bound (the ``duplicate_clusters``
treatment, generalized): it eagerly materializes the RESULT as a
lineage-free ``localCheckpoint`` and only then unpersists the
intermediates. The checkpoint's storage belongs to its RDD, not the
CacheManager, so the ContextCleaner reclaims it as soon as the caller
drops the returned DataFrame — the session's cache footprint is
bounded by live results, not by history.

The bound is opt-in (``bounded_cache=False`` everywhere by default)
because eager materialization trades composability for the bound: a
caller who immediately filters the result would lose the chance for
Catalyst to prune the checkpointed plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def eager_release(result: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Materialize ``result`` eagerly (localCheckpoint), then unpersist
    every intermediate. Safe by construction: the checkpoint is a
    physical copy with no lineage into the released caches."""
    out = result.localCheckpoint(eager=True)
    for df in intermediates:
        df.unpersist(False)
    return out
