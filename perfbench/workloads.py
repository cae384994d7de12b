"""The three workloads. Each one builds its state in ``setup`` (repeated
in fresh directories, so set-up time is a median), then the runner
calls ``write``, ``noop`` (where ``NOOPS`` > 0) and ``read`` in a closed
loop and ``check`` at the end. Every operation returns True when its own
output checks out; ``check`` compares the final state against a
recomputation from the sf0.1 inputs.

The timed calls are the engine's own entry points; everything a
workload does to produce the next input (staging a source file,
picking ids) happens in ``prepare``, outside the timer. ``warm`` runs
once after the last set-up, before the first timed operation.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from datetime import timezone
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import data

# Spark returns ROUND(avg, 2); the recomputation rounds the same
# average but may sum in another order, so a result on a .xx5 boundary
# can land one cent apart. Counts, ids and maxima compare exactly.
CENT = 0.01 + 1e-9


def _round2(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def _close(a, b, tol: float = CENT) -> bool:
    if a is None or b is None:
        return a is b
    return abs(float(a) - float(b)) <= tol


# The reads: each builds a layer's lazy frame AND collects it, so the
# tracer (spans.instrument) can charge the collect's jobs to the layer.


def analytics_set(la, launches, snapshots) -> dict:
    """The four reference analytics queries, collected."""
    return {
        "top": la.top_payload_masses(launches).collect(),
        "sites": la.launch_site_utilization(launches).collect(),
        "perf": la.launch_performance_over_time(snapshots).collect(),
        "fire": la.time_between_static_fire_and_launch(launches).collect(),
    }


def graph_lookup(ix, spark, root: str, ids: list[int]) -> list:
    """Neighbour rows of ``ids`` from the synced graph."""
    from pyspark.sql import functions as F

    return ix.load_synced_graph(spark, root).filter(F.col("vec_id").isin(ids)).collect()


def bm25_query(bm, spark, root: str, terms: tuple[str, ...], k: int) -> list:
    """Top-``k`` (doc_id, score) rows from the synced BM25 index."""
    return bm.bm25_topk_synced(spark, root, terms, k).collect()


def du(root: str) -> dict[str, int]:
    """{path: size} of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def created_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that are new, or changed size, between listings."""
    return sum(s for p, s in after.items() if before.get(p) != s)


class Workload:
    """Interface the runner drives; ``root`` is what ``written_mb`` and
    ``disk_mb`` measure."""

    root: str
    WRITES = 1  # timed writes per run
    CYCLES = 4  # timed cycles after each write
    NOOPS = 0  # no-new-data calls per cycle, before the cycle's read
    # The first operations of a series run 1.3-2x slower: untimed cycles
    # after the first write. Timed operations keep speeding up for a
    # minute or more as the JVM compiles, so every run times the same
    # number of writes and cycles: a time window would give a faster
    # process more, and faster, samples.
    WARM_CYCLES = 2

    def __init__(self, work: str, seed: int):
        """Load the inputs; needs no Spark, so it overlaps JVM start."""
        self.work, self.seed = work, seed
        self.rng = np.random.default_rng([seed, 100])
        os.makedirs(work)

    def bind(self, spark) -> None:
        """Attach the session and the engine modules."""
        self.spark = spark

    def prepare(self) -> None: ...

    def setup(self, rnd: int) -> None: ...

    def warm(self) -> None:
        """Untimed work between the last set-up and the first timed
        operation."""

    def write(self) -> bool: ...

    def noop(self) -> bool: ...

    def read(self) -> bool: ...

    def check(self) -> list[str]: ...

    def rewrite_ratio(self, out_rows: float) -> float:
        """Rows the upsert rewrote per incoming row; 0 where no upsert runs."""
        return 0.0


# ---------------------------------------------------------------- ingest


class IngestPipeline(Workload):
    """The paper's incremental launch pipeline: initial load up to a
    cutoff, then one tick per month: an incremental ``run`` (new month
    plus reschedules of old launches), a no-new-data ``run``, and the
    four reference analytics queries."""

    RESCHEDULED = 40  # per tick, all from one old year partition
    HISTORY = 12  # months of launches in the initial load
    # The time of a single incremental run spread 21-25 % across
    # processes; the median of four is steadier. The warm-up cycles run
    # before the first write (``warm``), so every timed read is the
    # first after a write: a repeated read of one table state is faster.
    WRITES = 4
    CYCLES = 1
    NOOPS = 1
    WARM_CYCLES = 0

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.L = data.Launches()
        self.months = self.L.month_starts()
        self.m = self.HISTORY  # next month to add
        self.src = os.path.join(work, "source")
        os.makedirs(self.src)
        pq.write_table(
            self.L.raw_table(np.flatnonzero(self.L.epoch_s < self.months[self.m])),
            os.path.join(self.src, "part-00000.parquet"),
        )
        self.payloads_path = os.path.join(work, "payloads.parquet")
        self.L.write_payloads(self.payloads_path)
        self.orig_epoch = self.L.epoch_s.copy()
        self.rescheduled: dict[int, int] = {}  # id -> new unix seconds
        self.success_rates: list[float] = []  # one per snapshot row
        self.pending_new = self.batch_rows = 0  # batch_rows: all writes

    def bind(self, spark):
        super().bind(spark)
        from spacex_data_engineering_pipeline_spark.pipeline import ingest
        from spacex_data_engineering_pipeline_spark.plans import (
            aggregations,
            launch_analytics,
        )
        from spacex_data_engineering_pipeline_spark.sources import launches

        self.ingest, self.agg, self.la, self.src_mod = (
            ingest, aggregations, launch_analytics, launches,
        )
        self.payloads = spark.read.parquet(self.payloads_path)

    def _pipeline(self):
        source = self.src_mod.LocalLaunchSource.from_parquet(self.spark, self.src)
        return self.ingest.IncrementalIngestionPipeline(
            self.spark, source, self.payloads,
            launches_path=os.path.join(self.root, "launches"),
            state_path=os.path.join(self.root, "state"),
            snapshots_path=os.path.join(self.root, "snapshots"),
        )

    def _loaded(self) -> np.ndarray:
        return self.orig_epoch < self.months[self.m]

    def _record_snapshot(self) -> None:
        loaded = self._loaded()
        ok = int(np.count_nonzero(self.L.success[loaded] == 0))
        self.success_rates.append(round(100.0 * ok / int(loaded.sum()), 2))

    def setup(self, rnd: int) -> None:
        self.root = os.path.join(self.work, f"ingest_{rnd}")
        r = self._pipeline().run()
        self.success_rates = []
        self._record_snapshot()
        if r["snapshot_type"] != "initial":
            raise RuntimeError(f"initial load took another path: {r}")

    def prepare(self) -> None:
        """Land next month's launches plus RESCHEDULED older launches,
        all from one seed-chosen year before the cutoff, re-dated into
        that month."""
        lo, hi = self.months[self.m], self.months[self.m + 1]
        new = np.flatnonzero((self.orig_epoch >= lo) & (self.orig_epoch < hi))
        years = self.months[: self.HISTORY + 1 : 12]
        y = int(self.rng.integers(len(years) - 1))
        y0, y1 = years[y], years[y + 1]
        cand = np.flatnonzero(
            (self.L.epoch_s >= y0) & (self.L.epoch_s < y1) & (self.orig_epoch == self.L.epoch_s)
        )
        moved = self.rng.choice(cand, self.RESCHEDULED, replace=False)
        self.L.epoch_s[moved] = lo + self.rng.integers(0, hi - lo, self.RESCHEDULED)
        for i in moved:
            self.rescheduled[int(i)] = int(self.L.epoch_s[i])
        pq.write_table(
            self.L.raw_table(np.concatenate([new, moved])),
            os.path.join(self.src, f"part-{self.m:05d}.parquet"),
        )
        self.m += 1
        self.pending_new = len(new)
        self.batch_rows += len(new) + len(moved)
        self.pipe = self._pipeline()

    def warm(self) -> None:
        """Two untimed cycles of a no-op and a read on the set-up state."""
        self.pipe = self._pipeline()
        for _ in range(2):
            if not (self.noop() and self.read()):
                raise RuntimeError("warm-up no-op or read failed its checks")

    def write(self) -> bool:
        r = self.pipe.run()
        self._record_snapshot()
        return (
            r["snapshot_type"] == "incremental"
            and r["inserted"] == self.pending_new
            and r["rejected_rows"] == 0
        )

    def noop(self) -> bool:
        return bool(self.pipe.run()["early_exit"])

    def read(self) -> bool:
        launches = self.spark.read.parquet(os.path.join(self.root, "launches"))
        snaps = self.agg.AggregationService(
            self.spark, os.path.join(self.root, "snapshots")
        ).snapshots()
        return self._analytics_ok(analytics_set(self.la, launches, snaps))

    def _analytics_ok(self, got) -> bool:
        """The four results against a numpy recomputation over the
        source's current view of every loaded launch."""
        L, loaded = self.L, self._loaded()
        ids = L.ids[loaded]
        mass = L.mass[loaded]  # one payload per launch, every mass > 0
        pad = L.pad[loaded]

        order = sorted(zip(-mass, ids.astype(str)))[:5]
        top = [(i, -m) for m, i in order]
        if [(r.launch_id, r.total_payload_mass_kg) for r in got["top"]] != top:
            return False

        sites = []
        for p, name in enumerate(L.pads):
            sel = pad == p
            sites.append((f"pad-{name}", int(sel.sum()), _round2(float(mass[sel].mean()))))
        sites.sort(key=lambda s: (-s[1], s[0]))
        if len(got["sites"]) != len(sites) or not all(
            r.launch_site == s[0] and r.total_launches == s[1]
            and _close(r.average_payload_mass_kg, s[2])
            for r, s in zip(got["sites"], sites)
        ):
            return False

        want = _round2(sum(self.success_rates) / len(self.success_rates))
        if len(got["perf"]) != 1 or not _close(got["perf"][0].avg_success_rate, want):
            return False

        # the orders-derived launches have no static fire date
        return got["fire"] == []

    def rewrite_ratio(self, out_rows: float) -> float:
        return out_rows / self.batch_rows

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        t = self.spark.read.parquet(os.path.join(self.root, "launches"))
        row = t.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("launch_id").alias("d")
        ).first()
        want = int(self._loaded().sum())
        errors = []
        if (row["n"], row["d"]) != (want, want):
            errors.append(f"launches: {row['n']} rows / {row['d']} ids, want {want}")
        moved = {
            int(r.launch_id): int(r.date_utc.replace(tzinfo=timezone.utc).timestamp())
            for r in t.filter(
                F.col("launch_id").isin([str(i) for i in self.rescheduled])
            ).select("launch_id", "date_utc").collect()
        }
        if moved != self.rescheduled:
            errors.append("rescheduled launches do not carry their new dates")
        return errors


# ----------------------------------------------------------- CDC drains


class _CdcDrain(Workload):
    """Shared CDC plumbing: one staged source file per micro-batch, one
    drain call per timed batch, ``on_batch_start`` counting the batches.

    ``values[i]`` is row ``i``'s vector or text. Ids are live (in the
    index) or in the pool. A batch inserts pool ids, updates and deletes
    live ids, at most one row per id; deleted ids return to the pool. An
    update gives the id the value of a pool id, which then leaves the
    pool for good, so every live value stays a distinct sf0.1 row."""

    SCHEMA: pa.Schema
    SPARK_SCHEMA: str
    ID = VALUE = ""
    INSERTS = UPDATES = DELETES = 0
    LIVE0 = 0  # ids live after set-up; the rest start in the pool
    WARM_BATCHES = 0  # micro-batches ``warm`` drains before the timed one

    def __init__(self, work, seed, values):
        super().__init__(work, seed)
        self.values = values
        self.src = os.path.join(work, "cdc_source")
        self.ckpt = os.path.join(work, "cdc_checkpoint")
        os.makedirs(self.src)
        self.live = list(range(self.LIVE0))
        self.pool = list(range(self.LIVE0, len(values)))
        self.n_files = self.batches = self.expect_batches = 0
        self.base = os.path.join(work, "corpus.parquet")
        pq.write_table(self._rows(self.live, ["I"] * len(self.live)).drop(["op"]), self.base)

    def bind(self, spark):
        super().bind(spark)
        self.corpus = spark.read.parquet(self.base)

    def _value(self, i: int):
        return self.values[i]

    def _rows(self, ids, ops) -> pa.Table:
        return pa.Table.from_pydict(
            {
                self.ID: ids,
                self.VALUE: [self._value(i) if o != "D" else None for i, o in zip(ids, ops)],
                "op": ops,
            },
            schema=self.SCHEMA,
        )

    def _mark(self, epoch_id: int) -> None:
        self.batches += 1

    def _stage_batch(self) -> None:
        """Pick the next batch's ids, apply it to ``values``/``live``
        and land it as the next source file."""
        r = self.rng

        def take() -> int:
            return self.pool.pop(int(r.integers(len(self.pool))))

        ins = [take() for _ in range(self.INSERTS)]
        donors = [take() for _ in range(self.UPDATES)]
        picks = r.choice(len(self.live), self.UPDATES + self.DELETES, replace=False)
        chosen = [self.live[int(i)] for i in picks]
        upd, dele = chosen[: self.UPDATES], chosen[self.UPDATES :]
        for i, d in zip(upd, donors):
            self.values[i] = self.values[d]
        gone = set(dele)
        self.live = [i for i in self.live if i not in gone] + ins
        self.pool.extend(dele)

        ops = ["I"] * len(ins) + ["U"] * len(upd) + ["D"] * len(dele)
        path = os.path.join(self.src, f"batch{self.n_files:05d}.parquet")
        pq.write_table(self._rows(ins + upd + dele, ops), path)
        t = 1_700_000_000 + self.n_files
        os.utime(path, (t, t))
        self.n_files += 1
        self.expect_batches += 1

    def _drain(self) -> None: ...

    def warm(self) -> None:
        """Drain ``WARM_BATCHES`` staged batches in one call, one epoch
        each, so the timed reads fold several epochs."""
        if not self.WARM_BATCHES:
            return
        for _ in range(self.WARM_BATCHES):
            self._stage_batch()
        self._drain()
        if self.batches != self.expect_batches:
            raise RuntimeError(f"warm-up drained {self.batches} of {self.expect_batches} batches")

    def prepare(self) -> None:
        self._stage_batch()

    def _live_frame(self):
        """The post-CDC corpus as a Spark frame (written by pyarrow)."""
        path = os.path.join(self.work, f"live_{self.n_files}.parquet")
        ids = sorted(self.live)
        pq.write_table(self._rows(ids, ["I"] * len(ids)).drop(["op"]), path)
        return self.spark.read.parquet(path)

    def write(self) -> bool:
        self._drain()
        return self.batches == self.expect_batches



class GraphCdcDrain(_CdcDrain):
    """k=5 kNN graph root over 1,600 of the 2,000 sf0.1 embeddings,
    maintained by CDC micro-batches of inserts, re-vectors and deletes;
    reads are neighbour lookups through ``load_synced_graph``."""

    K = 5
    LIVE0 = 1_600
    INSERTS = UPDATES = DELETES = 20
    LOOKUP = 10
    ID, VALUE = "vec_id", "embedding"
    SCHEMA = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64())), ("op", pa.string())]
    )
    SPARK_SCHEMA = "vec_id long, embedding array<double>, op string"

    def __init__(self, work, seed):
        super().__init__(work, seed, data.embeddings())
        self.lookup_rng = np.random.default_rng([seed, 200])

    def bind(self, spark):
        super().bind(spark)
        from spacex_data_engineering_pipeline_spark.operators import similarity
        from spacex_data_engineering_pipeline_spark.streaming import index_sync

        self.S, self.ix = similarity, index_sync

    def _value(self, i: int):
        return self.values[i].tolist()

    def setup(self, rnd: int) -> None:
        self.root = os.path.join(self.work, f"graph_{rnd}")
        self.ix.init_knn_graph_root(self.corpus, self.root, "vec_id", "embedding", k=self.K)

    def _drain(self) -> None:
        self.ix.sync_knn_graph_cdc_stream(
            self.spark, self.src, self.SPARK_SCHEMA, self.root, self.ckpt,
            on_batch_start=self._mark,
        )

    def read(self) -> bool:
        # its own generator: untraced runs make a variable number of
        # reads, and the CDC batches must not depend on it
        pick = self.lookup_rng.choice(len(self.live), self.LOOKUP, replace=False)
        ids = [self.live[int(i)] for i in pick]
        return len(graph_lookup(self.ix, self.spark, self.root, ids)) == self.K * self.LOOKUP

    def check(self) -> list[str]:
        final = self._live_frame()

        def edges(df):
            return {
                (r.vec_id, r.rnk): (r.neighbor, round(r.cos_sim, 6)) for r in df.collect()
            }

        got = edges(self.ix.load_synced_graph(self.spark, self.root))
        want = edges(self.S.knn_graph(final, "vec_id", "embedding", self.K))
        if got != want:
            diff = len(set(got.items()) ^ set(want.items()))
            return [f"synced graph differs from a rebuild on {diff} edges"]
        return []


class Bm25CdcQuery(_CdcDrain):
    """BM25 root over 4,000 of the 5,000 sf0.1 documents, maintained by
    CDC micro-batches; ``warm`` drains one of them, then two timed ones
    follow, so queries fold three epochs after the first and four after
    the second. Reads are top-10 queries for one seed-chosen three-term
    set whose terms sit in three different term buckets."""

    LIVE0 = 4_000
    INSERTS = UPDATES = DELETES = 30
    WARM_BATCHES = 1
    WRITES = CYCLES = 2
    TOP = 10
    ID, VALUE = "doc_id", "text"
    SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("op", pa.string())])
    SPARK_SCHEMA = "doc_id long, text string, op string"

    def __init__(self, work, seed):
        super().__init__(work, seed, data.documents())

    def bind(self, spark):
        super().bind(spark)
        from spacex_data_engineering_pipeline_spark.streaming import bm25_sync

        self.bm = bm25_sync
        self.terms = self._pick_terms()

    def _pick_terms(self) -> tuple[str, ...]:
        """Three terms in distinct buckets of the index's 16 term
        buckets, drawn from the terms in at least half the documents,
        so every seed queries posting lists of the same length."""
        from pyspark.sql import functions as F

        df = Counter(t for text in self.values for t in set(text.split()))
        common = sorted(t for t, n in df.items() if 2 * n >= len(self.values))
        cand = [common[i] for i in self.rng.permutation(len(common))]
        bucket = {
            r.t: r.b
            for r in self.spark.createDataFrame([(t,) for t in cand], "t string")
            .select("t", self.bm._term_bucket(F.col("t"), 16).alias("b"))
            .collect()
        }
        terms, used = [], set()
        for t in cand:
            if bucket[t] not in used:
                terms.append(t)
                used.add(bucket[t])
            if len(terms) == 3:
                return tuple(terms)
        raise RuntimeError("no three terms in distinct buckets")

    def setup(self, rnd: int) -> None:
        self.root = os.path.join(self.work, f"bm25_{rnd}")
        self.bm.init_bm25_root(self.corpus, self.root, "doc_id", "text")

    def _drain(self) -> None:
        self.bm.sync_bm25_cdc_stream(
            self.spark, self.src, self.SPARK_SCHEMA, self.root, self.ckpt,
            on_batch_start=self._mark,
        )

    def read(self) -> bool:
        rows = bm25_query(self.bm, self.spark, self.root, self.terms, self.TOP)
        self.last_top = [(r.doc_id, r.score) for r in rows]
        return len(rows) == self.TOP

    def check(self) -> list[str]:
        """The last read's top-k against a fresh root over the post-CDC
        corpus (no write follows the reads)."""
        fresh = os.path.join(self.work, "bm25_rebuild")
        self.bm.init_bm25_root(self._live_frame(), fresh, "doc_id", "text")
        rows = bm25_query(self.bm, self.spark, fresh, self.terms, self.TOP)
        want = [(r.doc_id, r.score) for r in rows]
        shutil.rmtree(fresh, ignore_errors=True)
        if self.last_top == want:
            return []
        return [f"synced top-{self.TOP} {self.last_top} != rebuild {want}"]


WORKLOADS = {
    "ingest_pipeline": IngestPipeline,
    "graph_cdc_drain": GraphCdcDrain,
    "bm25_cdc_query": Bm25CdcQuery,
}
