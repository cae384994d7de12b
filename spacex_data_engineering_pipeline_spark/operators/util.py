"""Shared operator utilities."""

from __future__ import annotations

import contextlib
import weakref

from pyspark.sql import DataFrame

_JOB_DESCRIPTION = "spark.job.description"


def release_caches_with(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie persisted intermediates' cache residency to the lifetime of
    the returned handle: when the caller drops its reference to
    ``result``, the intermediates are unpersisted (non-blocking).

    Operators persist() subtrees that feed multiple plan branches; a
    bare persist would leak those blocks for the whole session on
    repeated calls. Correctness never depends on the blocks (lineage is
    intact — an early release only costs recomputation), so releasing
    on GC of the handle is safe, and callers that keep the result
    around keep the cache warm.

    The handle also carries an EXPLICIT ``result.release_caches()`` for
    callers who keep the DataFrame alive past their last action (a
    notebook cell, a long-lived service): call it after collecting and
    the operator's blocks are freed immediately, idempotently — no
    ``spark.catalog.clearCache()`` sledgehammer needed.
    """

    def _release(dfs=cached):
        for d in dfs:
            try:
                d.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped — nothing to release

    weakref.finalize(result, _release)
    result.release_caches = _release
    return result


def deterministic_sample_vectors(
    df: DataFrame, id_col: str, vec_col: str, cap: int
) -> list[list[float]]:
    """Collect up to ``cap`` non-null vectors for driver-side quantizer
    training, deterministically: the first ``cap`` rows by ``id_col``.

    A bare ``limit(cap)`` is only stable on a single local run — on a
    cluster (or after a repartition) whichever tasks finish first feed
    the limit, so a fixed seed no longer reproduces centroids/codebooks.
    Ordering before the limit plans as TakeOrderedAndProject (per-
    partition top-cap, then one driver merge — no global sort), making
    seeded index builds bit-reproducible anywhere.
    """
    from pyspark.sql import functions as F

    return [
        list(r[0])
        for r in df.filter(F.col(vec_col).isNotNull())
        .orderBy(F.col(id_col).asc())
        .limit(cap)
        .select(vec_col)
        .collect()
    ]


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to all cores before a compute-heavy
    per-row stage. A small corpus arrives in 1-2 input splits, which
    would serialize an expensive map (signature computation, Arrow UDF)
    on one task; the round-robin shuffle moves only the raw rows (cheap
    relative to the map it parallelizes). No-op when the scan already
    has enough splits — at cluster scale it always does.

    Do NOT use upstream of a self-join: widening the input can replace
    AQE's broadcast choice with a shuffle join that costs more than the
    parallelism saves (measured in operators/dedup.py).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


@contextlib.contextmanager
def job_phase(spark, tag: str):
    """Tag every Spark job the calling thread submits inside the block
    with ``tag`` as its ``spark.job.description`` (``<kind>:<phase>``),
    so a phase's jobs are found by description in the status store
    without the UI. The property is thread-local (a streaming fold
    runs on its own callback thread, so it tags there) and the
    previous value is restored on exit, nested blocks included."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setLocalProperty(_JOB_DESCRIPTION, tag)
    try:
        yield
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, prev)
