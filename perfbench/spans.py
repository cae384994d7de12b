"""Outside-in per-layer Spark cost for the benchmark's traced run.

The tracer patches the public functions each layer exposes, in the
module that calls them (``ingest.upsert_parquet_partitioned``,
``S.knn_graph_apply_cdc``, ``EpochLedger.drain`` ...), and keeps a
stack of open spans. Spark numbers job ids in submission order, so a
span reads ``dagScheduler().numTotalJobs()`` when it opens, when a child
opens, when a child closes and when it closes itself: every job id lands
in exactly one span, the innermost one that was open when the job was
submitted. After the run the job ids are resolved through the status
store (it keeps job and stage data with the UI disabled) into stages,
tasks, executor run time, shuffle bytes and rows written.

Jobs fire where the action runs, not where the plan was built. A lazy
plan returned by one layer and executed by another is charged to the
executing one: the graph ranking window that ``S.knn_graph_apply_cdc``
builds is written by ``index_sync._write_graph_delta``, so its jobs
count for ``index_sync``, not ``similarity``. Reads that return a lazy
frame (``load_synced_graph``, ``bm25_topk_synced``, the four analytics
queries) are therefore traced around the call that builds the frame
*and* its collect.

The foreachBatch fold that ``EpochLedger.drain`` calls back is a closure
defined by the arm's module; the drain wrapper charges it to that arm's
layer, so ``ledger`` keeps only the drain's own commit work. Jobs that
no wrapped call was open for land in ``spark``.
"""

from __future__ import annotations

import functools
import threading
import time

LAYERS = (
    "ingest",
    "metalog",
    "upsert",
    "aggregations",
    "analytics",
    "similarity",
    "index_sync",
    "bm25_sync",
    "ledger",
    "spark",
)
COUNTS = ("jobs", "stages", "tasks", "task_s", "shuffle_mb", "out_rows", "wall_s")
UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_s": "s",
    "shuffle_mb": "MB",
    "out_rows": "count",
    "wall_s": "s",
}

_MODULE_LAYER = {
    "spacex_data_engineering_pipeline_spark.streaming.index_sync": "index_sync",
    "spacex_data_engineering_pipeline_spark.streaming.bm25_sync": "bm25_sync",
}


class _Span:
    __slots__ = ("layer", "seg_job", "seg_t")

    def __init__(self, layer: str, job: int, t: float):
        self.layer, self.seg_job, self.seg_t = layer, job, t


class Tracer:
    """Span stack plus the job ids and self time charged to each layer.

    One client drives the program, but the streaming fold runs on a py4j
    callback thread while the caller blocks in ``awaitTermination``, so
    the stack is shared across threads and guarded by a lock."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._lock = threading.Lock()
        self._stack: list[_Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.jobs = {layer: [] for layer in LAYERS}
        self.wall = {layer: 0.0 for layer in LAYERS}

    # -- spans ---------------------------------------------------------
    def _charge(self, span: _Span, job: int, t: float) -> None:
        self.jobs[span.layer].extend(range(span.seg_job, job))
        self.wall[span.layer] += t - span.seg_t

    def enter(self, layer: str) -> None:
        with self._lock:
            job, t = self._dag.numTotalJobs(), time.perf_counter()
            if self._stack:
                self._charge(self._stack[-1], job, t)
            self._stack.append(_Span(layer, job, t))

    def exit(self) -> None:
        with self._lock:
            job, t = self._dag.numTotalJobs(), time.perf_counter()
            self._charge(self._stack.pop(), job, t)
            if self._stack:
                self._stack[-1].seg_job, self._stack[-1].seg_t = job, t

    def call(self, layer: str, fn, *args, **kwargs):
        self.enter(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.exit()

    # -- patching --------------------------------------------------------
    def wrap(self, owner, name: str, layer: str) -> None:
        """Replace ``owner.name`` by a wrapper that opens a ``layer``
        span around each call; ``restore`` puts the original back."""
        orig = owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(layer, orig, *args, **kwargs)

        self._patched.append((owner, name, orig))
        setattr(owner, name, wrapper)

    def wrap_drain(self, ledger_cls) -> None:
        """``EpochLedger.drain`` as a ``ledger`` span whose fold callback
        is charged back to the layer of the module that defined it."""
        orig = ledger_cls.__dict__["drain"]

        @functools.wraps(orig)
        def drain(led, spark, source_path, schema, checkpoint_dir, fold, *args, **kwargs):
            layer = _MODULE_LAYER.get(fold.__module__, "ledger")

            def traced_fold(*fa, **fk):
                return self.call(layer, fold, *fa, **fk)

            return self.call(
                "ledger", orig, led, spark, source_path, schema, checkpoint_dir,
                traced_fold, *args, **kwargs,
            )

        self._patched.append((ledger_cls, "drain", orig))
        ledger_cls.drain = drain

    def restore(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    # -- harvest ---------------------------------------------------------
    def totals(self) -> dict[str, dict[str, float]]:
        """Per layer: jobs, non-skipped stages, completed tasks, summed
        executor run time, shuffle bytes written, rows written by output
        stages, and self wall time. Waits for the listener bus first so
        the status store holds every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        seen: set[int] = set()
        out = {}
        for layer in LAYERS:
            row = dict.fromkeys(COUNTS, 0.0)
            row["jobs"] = float(len(self.jobs[layer]))
            row["wall_s"] = self.wall[layer]
            for job in self.jobs[layer]:
                stages = store.job(job).stageIds().iterator()
                while stages.hasNext():
                    sid = stages.next()
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    row["stages"] += 1
                    row["tasks"] += st.numCompleteTasks()
                    row["task_s"] += st.executorRunTime() / 1e3
                    row["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
                    row["out_rows"] += st.outputRecords()
            out[layer] = row
        return out


def instrument(tracer: Tracer) -> None:
    """Wrap each layer's public entry points where their callers look
    them up. Nothing in the package is edited; ``Tracer.restore`` undoes
    every patch."""
    from spacex_data_engineering_pipeline_spark.operators import similarity
    from spacex_data_engineering_pipeline_spark.pipeline import ingest, metalog
    from spacex_data_engineering_pipeline_spark.plans import aggregations
    from spacex_data_engineering_pipeline_spark.streaming import (
        bm25_sync,
        index_sync,
        ledger,
    )

    import workloads

    tracer.wrap(ingest.IncrementalIngestionPipeline, "run", "ingest")
    for name in ("append_row", "read_rows", "latest_row", "state_summary", "compact"):
        tracer.wrap(metalog, name, "metalog")
    tracer.wrap(ingest, "upsert_parquet_partitioned", "upsert")
    tracer.wrap(ingest, "upsert_parquet", "upsert")
    tracer.wrap(aggregations.AggregationService, "append_snapshot", "aggregations")

    for name in (
        "knn_graph",
        "knn_graph_apply_cdc",
        "knn_graph_upsert",
        "knn_graph_delete",
        "load_knn_graph",
        "save_knn_graph",
    ):
        tracer.wrap(similarity, name, "similarity")
    for name in (
        "init_knn_graph_root",
        "sync_knn_graph_cdc_stream",
        "load_synced_graph",
        "_cdc_batch_ops",
        "_corpus_at",
        "_graph_at",
        "_write_graph_delta",
    ):
        tracer.wrap(index_sync, name, "index_sync")
    for name in (
        "init_bm25_root",
        "sync_bm25_cdc_stream",
        "bm25_topk_synced",
        "_bm25_epoch_tables",
        "_bm25_old_versions",
    ):
        tracer.wrap(bm25_sync, name, "bm25_sync")

    # the benchmark's reads: a layer's lazy frame plus its collect
    tracer.wrap(workloads, "analytics_set", "analytics")
    tracer.wrap(workloads, "graph_lookup", "index_sync")
    tracer.wrap(workloads, "bm25_query", "bm25_sync")

    tracer.wrap_drain(ledger.EpochLedger)
    tracer.wrap(ledger.EpochLedger, "write_epoch", "ledger")
    tracer.wrap(bm25_sync, "_ledger_frames", "ledger")
    tracer.wrap(index_sync, "_ledger_frames", "ledger")
