"""Streaming maintenance of PERSISTED derived artifacts — one
epoch-ledger protocol (the generic ``EpochLedger``:
streaming/ledger.py — staged epoch writes, one fsync'd pointer flip,
replay-safe drains, compact/vacuum) and ONE write path for seven root
kinds. ``sync_root`` reads the kind from the pointer's format stamp
(``ledger_root_kind``) and drains a parquet file stream through that
kind's one fold; ``op_col=None`` declares an insert-only stream,
``op_col="op"`` a CDC stream (op ∈ I/U/D, at most one row per id per
batch). ``delete_ids`` commits a list of ids as one all-D batch
through the same fold. Per kind, the fold:

- graph (``init_knn_graph_root``): folds deletes + upserts into the
  SAVED graph via ``knn_graph_apply_cdc`` — |batch|·N + |affected|·N
  per epoch, stale edges evicted corpus-wide;
- graph_ivf (``init_knn_graph_ivf_root``): the regime
  ``knn_graph_auto`` refuses — deletes repair the graph exactly, new
  rows fold by probing only their ``n_probes`` nearest clusters of a
  cluster-partitioned posting ledger, |batch| × |probed postings| per
  epoch, exact at full probe width;
- ivf (``init_ivf_root``): routes rows against the FIXED saved
  centroids into epoch partitions — FAISS ``add`` semantics, the
  exactly-once wrapper ``append_to_ivf_index`` defers to;
- pca (``init_pca_moments_root``): reduces each batch to its own exact
  int64 moment table (dim²-sized; signed on CDC streams), refit =
  model-sized fold + O(dim³) driver eigensolve, bit-identical to a
  from-scratch fit;
- minhash (``init_minhash_root``): probes the batch against the index
  AS OF the pointer (exact-verify side PARTITION-PRUNED to the
  candidate docs' grams buckets), then folds its shingles + band keys
  in — the GROWING index (first-seen-wins) a static probe can't
  express;
- semantic (``init_semantic_dedup_root``): the embedding analog —
  cosine-threshold near-dup pairs probed against the IVF posting
  ledger, pairs + growth in one flip;
- bm25 (streaming/bm25_sync.py, readers re-exported here): one
  tokenize pass per batch, updates and deletes as SIGNED rows derived
  from the doc log, corpus totals carried in the pointer; queries
  plan without a Spark job, read only their terms' buckets and rank
  bit-identically to a batch rescore (``bm25_topk_synced``).

ROOT FORMAT, one per kind: each ``init_*_root`` stamps the pointer
with ``kind``, ``format`` (1) and, on every kind but pca, ``id_type``
(the id column's Spark type). ``sync_root``, ``delete_ids``,
``compact_root``, ``vacuum_root``, ``maintain_root`` and every synced
reader refuse an unstamped or other-format pointer with one message
(rebuild with the kind's ``init_*_root``), so each kind has exactly
one layout: MinHash grams are always doc-bucketed, graph roots always
store delta generations. Every ``sync_root`` and ``delete_ids`` batch
enters its fold with the ids cast to ``id_type``, so every epoch's
files carry one id type.

Id lifecycle on the tombstone kinds (ivf, graph_ivf, semantic,
minhash): a delete or update writes a tombstone that readers anti-join
(delete epoch > posting epoch — the same epoch's replacement and later
re-inserts stay visible, history before the delete stays readable),
and ``compact_root(..., purge_deleted=True)`` is the physical
right-to-be-forgotten removal (as-of refusal floor).

Every commit shares one sequence (``EpochLedger.commit``):
epoch-keyed staged writes (overwrite-idempotent, invisible to readers)
published by ONE fsync'd pointer flip; replayed epochs no-op;
crash-window orphans are never scanned and the replay overwrites them.
Crash-restart is pytest-pinned per root kind (tests/test_streaming.py).

RETENTION, one path for every root kind: ``compact_root`` reads the
kind from the pointer's stamp and folds every
committed epoch at or below the head under ONE ``compact_upto`` —
rows rewritten with epoch kept as an int data column (as-of reads
stay row-exact, bucket/cluster partitioning survives so pruned reads
keep pruning), except PCA (moments SUMMED, ending pre-compaction
as-of readability) and the plain graph (applied/removed logs rebased
into one corpus snapshot). ``vacuum_root`` sweeps only what a
compaction superseded plus staged orphans; ``maintain_root`` is the
tail-length policy over the two. Graph generations keep their own
``vacuum_generations``.

kNN graph root layout: ``graph/gen=<floor>`` is one full
bucket-partitioned snapshot (``save_knn_graph``; generation 0 at init,
or the floor a ``vacuum_generations`` rebase materialized), and each
committed generation above it is one ``graph_delta/epoch=<g>/`` dir in
the maintenance core's delta format (operators/similarity.py:
``knn_graph_apply_cdc`` — the changed ids' new lists plus rnk-NULL
markers for every invalidated id). Readers fold base + deltas
(``_graph_at``, latest mention wins, then ``apply_graph_delta``). The
corpus lives as ``corpus_base`` plus the epoch-keyed
``applied``/``removed`` logs.

Commit protocol per micro-batch (foreachBatch is at-least-once):
1. epoch ≤ pointer.last_batch_id ⇒ replayed epoch, no-op (the ledger
   makes a checkpoint-wiped re-drain a fixed point);
2. stage the generation's delta dir (``graph_delta/epoch=<g>``) and
   the batch's applied/removed log dirs, all epoch-keyed and
   overwrite-idempotent — invisible to readers;
3. flip the ONE pointer file last (fsync'd ``os.replace``, the
   txn.py commit point): readers at any instant see a graph
   generation and an applied-log high-water mark that AGREE.
A crash between 2 and 3 leaves staged dirs above the pointer —
invisible, overwritten by the replay, swept by the next commit's
orphan sweep, so a crashed verb's rows can never activate under a
later commit's pointer advance.

Scale: per epoch the graph write is churn-sized (the changed lists +
markers, never the N·k graph); ``vacuum_generations`` pays one
corpus-sized snapshot write per rebase. The corpus snapshot a batch
folds against is DERIVED (base ⊖ applied ids ⊕ latest applied rows)
— O(batch) bytes move per epoch, the corpus parquet is never
rewritten.
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spacex_data_engineering_pipeline_spark.operators import similarity as S
from spacex_data_engineering_pipeline_spark.operators.util import job_phase
from spacex_data_engineering_pipeline_spark.streaming.ledger import (
    EpochLedger,
    compact_path as _compact_path,
    epoch_path as _epoch_path,
    flip_pointer as _flip_pointer,
    id_bucket as _id_bucket,
    ledger_frames as _ledger_frames,
    ledger_root_kind,
    live_epochs as _live_epochs,
    read_epoch_pairs,
    read_index_pointer,
    read_root_pointer,
    record_epoch_pair,
    resolve_as_of as _resolve_as_of,
    stamp_root as _stamp_root,
)

# The BM25 fold and readers live in their own module since round 13;
# re-exported here so the catalog/tests keep one address for the family.
from spacex_data_engineering_pipeline_spark.streaming.bm25_sync import (  # noqa: F401
    _bm25_fold,
    _bm25_ledger,
    _term_bucket,
    _bm25_net,
    _bm25_stats_compact,
    bm25_topk_synced,
    init_bm25_root,
)

# The before-image column a PCA CDC stream carries for U/D rows.
_OLD_VEC = "old_vec"
# The op column of a ``delete_ids`` batch: it holds the DISTINCT ids to
# delete, every row op D, so ``_fold_sides`` knows the guard's answer.
_DELETE_OP = "__delete_op"


# Per-arm ledger layouts — the ONLY thing that differs between the
# sync families besides the fold body. Partition columns are the
# query-time pruning keys: doc-id bucket for the dedup verify fetch,
# cluster for IVF probes, term bucket for BM25 queries.
def _minhash_ledger(root: str) -> EpochLedger:
    return EpochLedger(
        root,
        {"grams": "__bucket", "bands": None, "pairs": None, "deletes": None},
    )


def _ivf_ledger(root: str) -> EpochLedger:
    return EpochLedger(root, {"postings": "cluster", "deletes": None})


def _semantic_ledger(root: str) -> EpochLedger:
    return EpochLedger(
        root, {"postings": "cluster", "pairs": None, "deletes": None}
    )


def _pca_ledger(root: str) -> EpochLedger:
    return EpochLedger(root, {"moments": None})


def _graph_gen_path(root: str, generation: int) -> str:
    return os.path.join(root, "graph", f"gen={generation}")


def init_knn_graph_root(
    corpus: DataFrame,
    root: str,
    id_col: str,
    vec_col: str,
    k: int,
    n_blocks: int = 8,
    n_buckets: int = 16,
) -> None:
    """One-time base build: exact kNN graph over ``corpus`` saved as
    generation 0 (bucket-partitioned + sidecar, ``save_knn_graph``),
    the base corpus parquet, and the initial pointer. Everything after
    this is incremental."""
    os.makedirs(root, exist_ok=True)
    graph = S.knn_graph(corpus, id_col, vec_col, k, n_blocks=n_blocks)
    S.save_knn_graph(graph, _graph_gen_path(root, 0), id_col, n_buckets=n_buckets)
    corpus.select(id_col, vec_col).write.mode("overwrite").parquet(
        os.path.join(root, "corpus_base")
    )
    _stamp_root(
        root, "graph", corpus, id_col, generation=0, vec_col=vec_col, k=k,
        n_blocks=n_blocks, n_buckets=n_buckets,
    )


def _corpus_at(spark: SparkSession, root: str, ptr: dict) -> DataFrame:
    """The corpus snapshot AS OF the pointer: base rows whose id never
    appeared in a committed batch, plus the latest committed vector per
    upserted id, MINUS ids a committed removal killed. Both logs are
    EPOCH-KEYED DIRECTORIES (``applied/epoch=<g>/``,
    ``removed/epoch=<g>/`` — the ledger discipline): visibility is
    the pointer's generation (staged crash orphans above it are
    invisible AND swept by the next commit's ``clear_staged_epoch``,
    closing the orphan-activation hazard a flat append-log would
    carry — a crashed verb's rows activating when a LATER commit
    advances the pointer past their stamp), writes are
    overwrite-idempotent per generation, and an id removed at
    generation r then re-upserted at s > r is alive again (its latest
    applied stamp outranks the removal).

    REBASE-AWARE (``compact_root`` on a graph root): when the pointer records a
    ``corpus_rebase_gen`` floor, the base snapshot comes from
    ``corpus_rebase/upto=<floor>`` (logs ≤ floor already folded in —
    its rows carry the floor as their stamp, so a later removal still
    kills them and a later re-upsert still outranks them) and only log
    epochs ABOVE the floor are replayed — the replay cost tracks churn
    since the last rebase, not all history."""
    id_col, vec_col = ptr["id_col"], ptr["vec_col"]
    gen_now = int(ptr["generation"])
    floor = int(ptr.get("corpus_rebase_gen", 0) or 0)
    base = spark.read.parquet(
        os.path.join(root, "corpus_rebase", f"upto={floor}")
        if floor
        else os.path.join(root, "corpus_base")
    )
    # ONE join over the corpus-sized base (optimization r15): base rows
    # predate every LIVE log event (their stamp is the floor), so a
    # base row survives iff its id appears in NO live applied/removed
    # epoch — one dup-tolerant anti-join against the union of raw log
    # ids, instead of anti-join-on-upserts THEN left-join-removals over
    # the whole corpus stream. The removal-vs-reupsert tiebreak
    # (latest applied stamp outranks an older removal) only involves
    # CHURN-sized rows, so the rmax join now runs over `latest` alone.
    # The orphan sweep can leave an EMPTY log dir (its only staged
    # epoch removed) — an empty parquet dataset fails schema inference,
    # hence the _live_epochs guards.
    latest = touched = None
    if any(floor < e <= gen_now for e in _live_epochs(root, "applied")):
        applied = spark.read.parquet(os.path.join(root, "applied")).filter(
            (F.col("epoch") > floor) & (F.col("epoch") <= gen_now)
        )
        w = Window.partitionBy(id_col).orderBy(F.col("epoch").desc())
        latest = (
            applied.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(id_col, vec_col, "epoch")
        )
        touched = applied.select(id_col)
    if any(floor < e <= gen_now for e in _live_epochs(root, "removed")):
        removed = (
            spark.read.parquet(os.path.join(root, "removed"))
            .filter((F.col("epoch") > floor) & (F.col("epoch") <= gen_now))
            .select(id_col, F.col("epoch").alias("__del_gen"))
        )
        touched = (
            removed.select(id_col)
            if touched is None
            else touched.unionByName(removed.select(id_col))
        )
        if latest is not None:
            rmax = removed.groupBy(id_col).agg(
                F.max("__del_gen").alias("__del_gen")
            )
            latest = (
                latest.join(rmax, id_col, "left")
                .filter(
                    F.col("__del_gen").isNull()
                    | (F.col("epoch") >= F.col("__del_gen"))
                )
                .drop("__del_gen")
            )
    corpus = base.select(id_col, vec_col)
    if touched is not None:
        corpus = corpus.join(touched, id_col, "left_anti")
    if latest is not None:
        corpus = corpus.unionByName(latest.select(id_col, vec_col))
    return corpus


def _graph_committed_gens(root: str, floor: int, head: int) -> set[int]:
    """The still-readable committed generations: the full base snapshot
    at ``floor`` plus every live delta epoch in (floor, head] (every
    commit above the floor stages its own delta epoch)."""
    return {floor} | {
        e for e in _live_epochs(root, "graph_delta") if floor < e <= head
    }


def _graph_at(
    spark: SparkSession, root: str, ptr: dict, gen: int | None = None
) -> DataFrame:
    """Reconstruct the graph AS OF ``gen`` (default: the committed
    head): the full snapshot at the pointer's ``graph_base_gen`` floor
    plus the delta epochs in (floor, gen]. Latest mention wins per id:
    rows of an id's older mention epochs turn into markers, and
    ``apply_graph_delta`` then keeps base rows of unmentioned ids plus
    the surviving lists — a marker beaten by a same-epoch or later list
    loses (replace/re-insert), a marker as the last word kills the id
    (delete). Staged crash orphans (epoch > head) are invisible by the
    epoch filter, exactly as every ledger table.

    Both reads carry the static edge schema (``S.graph_edge_schema``
    over the pointer's ``id_col``, plus the ``__bucket`` / ``epoch``
    partition column; ``S.read_graph_edges`` for the base), so
    building the frame submits no Spark job: no schema inference on a
    drain's graph or on a lookup."""
    id_col = ptr["id_col"]
    head = int(ptr["generation"])
    if gen is None:
        gen = head
    floor = int(ptr.get("graph_base_gen", 0) or 0)
    eps = [g for g in _graph_committed_gens(root, floor, head) if floor < g <= gen]
    base = S.read_graph_edges(
        spark, _graph_gen_path(root, floor), id_col
    ).drop("__bucket")
    if not eps:
        return base
    d = (
        spark.read.schema(S.graph_edge_schema(id_col) + ", epoch int")
        .parquet(os.path.join(root, "graph_delta"))
        .filter((F.col("epoch") > floor) & (F.col("epoch") <= gen))
    )
    if len(eps) > 1:
        # one churn-sized window shuffle; the delta apply's anti-join
        # side prunes the window away (it reads only the id)
        w = Window.partitionBy(id_col)
        d = d.withColumn(
            "rnk",
            F.when(F.col("epoch") == F.max("epoch").over(w), F.col("rnk")),
        )
    return S.apply_graph_delta(base, d, id_col)


def _write_graph_delta(root: str, epoch: int, delta: DataFrame) -> None:
    """Stage one graph delta epoch (overwrite-idempotent, invisible
    until the pointer flip). One write executes the fold's merged plan
    once; the bytes written per micro-batch are churn-sized, never
    corpus-sized."""
    delta.write.mode("overwrite").parquet(_epoch_path(root, "graph_delta", epoch))


def load_synced_graph(
    spark: SparkSession, root: str, as_of_generation: int | None = None
) -> DataFrame:
    """The committed graph: pointer → base snapshot + delta epochs →
    ``_graph_at``. ``as_of_generation`` time-travels to any
    still-retained generation (readable while its floor snapshot and
    the delta epochs up to it are retained; ``vacuum_generations`` is
    what ends a generation's readability). One lazy plan: the pointer
    and the epoch listing are driver-side file reads and both graph
    reads carry their schema, so no Spark job runs before the caller's
    action, and a lookup's id filter pushes into the base scan."""
    ptr = read_root_pointer(root)
    gen = _resolve_as_of(ptr, "generation", as_of_generation)
    floor = int(ptr.get("graph_base_gen", 0) or 0)
    if gen not in _graph_committed_gens(root, floor, int(ptr["generation"])):
        raise ValueError(
            f"generation {gen} was vacuumed (vacuum_generations keeps "
            "only recent ones) — time travel reaches retained "
            "generations only"
        )
    return _graph_at(spark, root, ptr, gen)


def _graph_fold(spark: SparkSession, led: EpochLedger, op_col: str | None):
    """The PLAIN graph root's fold: each batch's op-D ids retire and its
    upserts (every row of an insert-only stream; op I/U rows of a CDC
    stream) fold in ONE ``knn_graph_apply_cdc`` pass against the saved
    graph — citing edges repaired against the new corpus, stale edges of
    a re-vectored id evicted corpus-wide, |batch|·N + |affected|·N
    work, never the N² rebuild — staged as the generation's delta. The
    applied log gains the upserts and the removal log the deletes, both
    stamped with the committing generation, so the derived corpus
    (``_corpus_at``) replays the exact same order (a removal kills
    every strictly-older version; a later re-upsert outranks it). An
    empty CDC batch advances only the bookkeeping."""
    root = led.root

    def fold(ptr: dict, gen: int, batch_df: DataFrame) -> dict:
        id_col, vec_col, k = ptr["id_col"], ptr["vec_col"], ptr["k"]
        with job_phase(spark, "graph:changed"):
            ops, upserts, _, dels, has_up = _fold_sides(
                batch_df, id_col, (vec_col,), op_col
            )
        try:
            if dels is None and not has_up:
                return {}  # empty batch: bookkeeping only, generation holds
            with job_phase(spark, "graph:vectors"):
                corpus = _corpus_at(spark, root, ptr)
            # fold-lifetime persist: the core references the graph from
            # the affected probe AND the keep stream (two actions), and
            # re-executing the delta fold's window + anti-join per
            # action is pure AQE job inflation
            graph = _graph_at(spark, root, ptr).persist()
            try:
                # ONE fused affected-set pass for both sides of the
                # batch; only the changed lists + markers land on disk
                delta = S.knn_graph_apply_cdc(
                    corpus, dels, upserts if has_up else None,
                    id_col, vec_col, k, graph,
                )
                with job_phase(spark, "graph:delta_write"):
                    _write_graph_delta(root, gen, delta)
                # the logs are epoch-keyed ledger tables: staged
                # overwrite-idempotently at the COMMITTING generation, so
                # a replay overwrites its own orphan and the pre-commit
                # sweep can clear a crashed verb's dir at this number
                with job_phase(spark, "graph:logs"):
                    if has_up:
                        upserts.write.mode("overwrite").parquet(
                            _epoch_path(root, "applied", gen)
                        )
                    if dels is not None:
                        dels.write.mode("overwrite").parquet(
                            _epoch_path(root, "removed", gen)
                        )
            finally:
                graph.unpersist()
            return {"generation": gen}
        finally:
            if ops is not None:
                ops.unpersist()

    return fold


def _ivf_epoch_path(root: str, epoch: int) -> str:
    return os.path.join(root, "postings", f"epoch={epoch}")


def _centroids(root: str) -> list:
    """The FIXED coarse-quantizer centroids an IVF-family root was
    initialized with (the ``centroids.json`` sidecar)."""
    with open(os.path.join(root, "centroids.json")) as f:
        return json.load(f)


def _routed(frame: DataFrame, centers, id_col: str, vec_col: str) -> DataFrame:
    """(id, vector, cluster) posting rows: ``frame`` routed against the
    saved centroids — FAISS ``add`` semantics, the quantizer never
    retrains."""
    return frame.select(
        F.col(id_col),
        F.col(vec_col),
        S.centroid_assign_udf(centers)(F.col(vec_col)).alias("cluster"),
    )


def _init_ivf_postings(
    corpus: DataFrame, root: str, id_col: str, vec_col: str,
    n_clusters: int, seed: int, sample_cap: int,
) -> None:
    """The IVF base every IVF-family root starts from: train the coarse
    quantizer on the base corpus (``build_ivf_index``), save the
    centroid sidecar, and save the postings as epoch 0 of the
    epoch-keyed layout (``postings/epoch=0/cluster=*/``)."""
    os.makedirs(root, exist_ok=True)
    idx = S.build_ivf_index(
        corpus, id_col, vec_col,
        n_clusters=n_clusters, seed=seed, sample_cap=sample_cap,
        persist=False,
    )
    with open(os.path.join(root, "centroids.json"), "w") as f:
        json.dump(idx.centroids.tolist(), f)
    idx.assigned.write.mode("overwrite").partitionBy("cluster").parquet(
        _ivf_epoch_path(root, 0)
    )


def init_ivf_root(
    corpus: DataFrame,
    root: str,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    seed: int = 42,
    sample_cap: int = 65536,
) -> None:
    """One-time IVF base build (``_init_ivf_postings``) plus the
    initial pointer. The quantizer is FIXED for the index's lifetime
    (FAISS ``add`` semantics) — every later epoch routes against these
    centroids; retrain = a new root."""
    _init_ivf_postings(
        corpus, root, id_col, vec_col, n_clusters, seed, sample_cap
    )
    _stamp_root(root, "ivf", corpus, id_col, max_epoch=0, vec_col=vec_col)


def load_synced_ivf(
    spark: SparkSession, root: str, as_of_epoch: int | None = None
):
    """Open the committed index: postings at epochs ≤ the pointer's
    high-water mark (partition-pruned — a staged epoch a crash left
    above the pointer is never scanned), centroids from the sidecar.
    Returns an ``IvfIndex``; probes prune on the ``cluster`` partition
    column exactly as for an offline-saved index. ``as_of_epoch``
    time-travels: epoch partitions are immutable once committed, so
    the index as of any past epoch is the exact filter ≤ k.

    Compaction-aware: after ``compact_root`` the committed
    history comes from the cluster-partitioned compact dataset (epoch
    a data column — as-of reads stay row-exact, cluster pruning keeps
    working) plus any live epoch dirs above it."""
    ptr = read_root_pointer(root)
    epoch = _resolve_as_of(ptr, "max_epoch", as_of_epoch)
    centroids = _centroids(root)
    assigned = _synced_postings(
        spark, _ivf_ledger(root), ptr, epoch, ptr["id_col"]
    )
    if assigned is None:
        raise ValueError(
            f"no committed postings at epoch {epoch} — the root is not "
            "initialized (init_ivf_root writes epoch 0)"
        )
    return S.IvfIndex(
        assigned.drop("epoch"), centroids, ptr["id_col"], ptr["vec_col"]
    )


def _apply_tombstones(
    spark: SparkSession,
    led: EpochLedger,
    ptr: dict,
    epoch: int,
    posts: DataFrame | None,
    id_col: str,
) -> DataFrame | None:
    """Filter a posting frame (epoch column still attached) through the
    ``deletes`` tombstone ledger AS OF ``epoch``: a posting is visible
    unless a STRICTLY LATER tombstone at or below the as-of point names
    its id — so a re-insert after a delete is visible again, reads as
    of a point before the delete still see the row (row-exact history
    until an explicit ``purge_deleted`` compaction), and a posting
    written IN THE SAME EPOCH as its id's tombstone survives it: that
    is a CDC update's atomic shape (the tombstone kinds' folds stage
    tombstone + replacement posting in one epoch, one flip — the
    tombstone covers every OLDER version only).

    Shape: tombstones reduce to one (id, max delete epoch) row per
    deleted id, then ONE equi-join against the (already
    cluster/epoch-pruned) postings — delete-request-sized, so AQE
    broadcasts it in the common case; no driver collect."""
    if posts is None:
        return None
    dels = led.frames(spark, "deletes", ptr, epoch)
    if dels is None:
        return posts
    dmax = dels.groupBy(id_col).agg(F.max("epoch").alias("__del_epoch"))
    return (
        posts.join(dmax, id_col, "left")
        .filter(
            F.col("__del_epoch").isNull()
            | (F.col("epoch") >= F.col("__del_epoch"))
        )
        .drop("__del_epoch")
    )


def _synced_postings(
    spark: SparkSession, led: EpochLedger, ptr: dict, epoch: int, id_col: str
) -> DataFrame | None:
    """Committed postings as of ``epoch`` with id-level tombstones
    applied — THE posting read path for every IVF-family root (plain
    IVF, semantic dedup). Keeps the ``epoch`` column for callers."""
    return _apply_tombstones(
        spark, led, ptr, epoch, led.frames(spark, "postings", ptr, epoch),
        id_col,
    )


def _cdc_batch_ops(
    batch_df: DataFrame, id_col: str, payload_cols, op_col: str
) -> tuple[DataFrame, bool, int, int]:
    """Normalize + GUARD one CDC micro-batch: returns (ops frame —
    (id, payload, op first letter uppercased), persisted across the
    fold's writes — whether the batch carries any U/D row, the op-D
    row count, and the non-D row count), and ENFORCE the
    at-most-one-row-per-id-per-batch contract every CDC stream shares
    (two versions of an id in one batch have no defined order — one
    tombstone would cover both new rows and the surviving state would
    depend on shuffle order; collapse upstream with
    ``latest_update_per_key``). One batch-sized agg job — the BM25
    fold's refusal discipline, factored for the id-keyed vector and
    text folds; the D / non-D counts ride in the SAME agg so folds
    that branch on them don't pay two extra count() actions per
    micro-batch (optimization r14)."""
    ops = batch_df.select(
        F.col(id_col),
        *[F.col(c) for c in payload_cols],
        F.upper(F.col(op_col).cast("string")).substr(1, 1).alias("__op"),
    ).persist()
    card = ops.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(id_col).alias("d"),
        F.sum(
            F.when(F.col("__op").isin("U", "D"), F.lit(1)).otherwise(F.lit(0))
        ).alias("ud"),
        F.sum(
            F.when(F.col("__op") == "D", F.lit(1)).otherwise(F.lit(0))
        ).alias("nd"),
    ).first()
    if int(card["n"]) != int(card["d"]):
        ops.unpersist()
        raise ValueError(
            f"CDC batch carries {int(card['n'])} rows over "
            f"{int(card['d'])} distinct ids — at most ONE row per id "
            "per micro-batch; collapse upstream with "
            "latest_update_per_key"
        )
    n_del = int(card["nd"] or 0)
    return ops, bool(int(card["ud"] or 0)), n_del, int(card["n"]) - n_del


def _fold_sides(
    batch_df: DataFrame,
    id_col: str,
    payload_cols,
    op_col: str | None,
    tomb_col: str | None = None,
):
    """Split one micro-batch into the sides every id-keyed fold writes:
    ``(ops, upserts, tomb, dels, has_up)``. ``op_col=None`` declares an
    insert-only stream — every row is an upsert, nothing is counted,
    no tombstone is derived, so the fold runs exactly the jobs an
    insert costs. Otherwise ``_cdc_batch_ops`` guards and counts the
    batch in one agg job; ``ops`` is its persisted frame (the caller
    unpersists it), ``tomb`` the U/D ids (named ``tomb_col``
    when given), ``dels`` the D ids — each ``None`` when the
    batch has none — and ``has_up`` whether any non-D row exists. A
    ``delete_ids`` batch (``_DELETE_OP``) is known distinct and all D:
    it costs no guard job."""
    if op_col is None:
        return None, batch_df.select(id_col, *payload_cols), None, None, True
    if op_col == _DELETE_OP:
        ids = batch_df.select(id_col)
        tomb = ids.select(F.col(id_col).alias(tomb_col or id_col))
        return None, None, tomb, ids, False
    ops, has_ud, n_del, n_up = _cdc_batch_ops(
        batch_df, id_col, payload_cols, op_col
    )
    # the guard proved the batch's ids distinct and non-null (count ==
    # countDistinct): no .distinct() re-shuffle of the id sides
    tomb = dels = None
    if has_ud:
        tomb = ops.filter(F.col("__op").isin("U", "D")).select(
            F.col(id_col).alias(tomb_col or id_col)
        )
    if n_del:
        dels = ops.filter(F.col("__op") == "D").select(id_col)
    upserts = ops.filter(F.col("__op") != "D").select(id_col, *payload_cols)
    return ops, upserts, tomb, dels, n_up > 0


def _ivf_fold(spark: SparkSession, led: EpochLedger, op_col: str | None):
    """The IVF posting ledger's fold: per batch ONE epoch carrying both
    sides of the mutation — a tombstone row for every U/D id (the
    ``deletes`` table, delete-request-sized) and the upserts routed
    against the FIXED saved centroids into the epoch's posting
    partition (one Arrow map over the batch; the committed postings
    are never read). Visibility falls out of the tombstone rule every
    reader applies (delete epoch > posting epoch): the SAME epoch's new
    posting survives its own tombstone, everything older is hidden —
    so an update is atomic, a delete is a plain tombstone, an op-U on
    an absent id is an insert, and a later re-insert stays visible.
    Op-I must be a genuinely NEW id (an insert of an existing id would
    surface both versions — use U; tombstoning inserts too would grow
    the deletes ledger with the whole insert history)."""
    root = led.root

    def fold(ptr: dict, epoch: int, batch_df: DataFrame) -> dict:
        id_col, vec_col = ptr["id_col"], ptr["vec_col"]
        ops, upserts, tomb, _, has_up = _fold_sides(
            batch_df, id_col, (vec_col,), op_col
        )
        if tomb is not None:
            led.write_epoch(tomb, "deletes", epoch)
        if has_up:
            led.write_epoch(
                _routed(upserts, _centroids(root), id_col, vec_col),
                "postings",
                epoch,
            )
        if ops is not None:
            ops.unpersist()
        return {"max_epoch": epoch}

    return fold


def _semantic_fold(
    spark: SparkSession, led: EpochLedger, op_col: str | None
):
    """The GROWING semantic-dedup index's fold: per batch ONE epoch
    carries the U/D tombstones, the upserts' postings (the IVF fold's
    commit shape), and their near-dup VERDICTS — the upserts probed
    against the committed postings as of the pointer
    (``embedding_near_dup_probe``: only the probed clusters are
    fetched, partition-pruned, tombstones applied), with pairs whose
    corpus side is tombstoned IN THIS BATCH dropped, so an updated doc
    is never flagged against its own superseded version (the anti-join
    is batch-sized, broadcast). First-seen-wins: a batch is checked
    against corpus + earlier batches, never against itself; every
    vector enters the index regardless of its own verdict
    (flag-and-audit)."""
    root = led.root

    def fold(ptr: dict, epoch: int, batch_df: DataFrame) -> dict:
        id_col, vec_col = ptr["id_col"], ptr["vec_col"]
        ops, upserts, tomb, _, has_up = _fold_sides(
            batch_df, id_col, (vec_col,), op_col
        )
        if tomb is not None:
            led.write_epoch(tomb, "deletes", epoch)
        if has_up:
            centers = _centroids(root)
            postings = _synced_postings(
                spark, led, ptr, ptr["max_epoch"], id_col
            ).drop("epoch")
            pairs = S.embedding_near_dup_probe(
                postings, centers, upserts, id_col, vec_col,
                n_probes=ptr["n_probes"], min_cosine=ptr["min_cosine"],
            )
            if tomb is not None:
                pairs = pairs.join(
                    F.broadcast(tomb.withColumnRenamed(id_col, "corpus_vec")),
                    "corpus_vec",
                    "anti",
                )
            led.write_epoch(pairs, "pairs", epoch)
            led.write_epoch(
                _routed(upserts, centers, id_col, vec_col), "postings", epoch
            )
        if ops is not None:
            ops.unpersist()
        return {"max_epoch": epoch}

    return fold


def _minhash_fold(
    spark: SparkSession, led: EpochLedger, op_col: str | None
):
    """The GROWING MinHash dedup index's fold — the text analog of the
    semantic fold: per batch ONE epoch carries the U/D tombstones (on
    the ledger's canonical ``doc`` column), the upserts' shingles +
    band keys, and their near-dup verdicts probed against the
    committed index as of the pointer (``_probe_pruned``: band
    candidates, then an exact verify against only the grams buckets
    the candidate docs hash into), with pairs citing a
    THIS-BATCH-tombstoned corpus doc dropped. One shingle+band pass per
    batch: the fold's index build doubles as the probe's query side."""
    from spacex_data_engineering_pipeline_spark.operators.dedup import (
        build_minhash_index,
    )

    root = led.root

    def fold(ptr: dict, epoch: int, batch_df: DataFrame) -> dict:
        id_col, text_col = ptr["id_col"], ptr["text_col"]
        ops, upserts, tomb, _, has_up = _fold_sides(
            batch_df, id_col, (text_col,), op_col, ptr["tomb_col"]
        )
        if tomb is not None:
            led.write_epoch(tomb, "deletes", epoch)
        if has_up:
            bg, bb = build_minhash_index(
                upserts, id_col, text_col,
                ptr["num_hashes"], ptr["bands"], ptr["shingle_n"],
            )
            pairs = _probe_pruned(spark, root, ptr, bg, bb)
            if tomb is not None:
                pairs = pairs.join(
                    F.broadcast(
                        tomb.withColumnRenamed(ptr["tomb_col"], "corpus_doc")
                    ),
                    "corpus_doc",
                    "anti",
                )
            led.write_epoch(pairs, "pairs", epoch)
            led.write_epoch(
                _bucketed_grams(bg, ptr["grams_buckets"]), "grams", epoch
            )
            led.write_epoch(bb, "bands", epoch)
            bb.unpersist()
            bg.unpersist()
        if ops is not None:
            ops.unpersist()
        return {"max_epoch": epoch}

    return fold


def init_knn_graph_ivf_root(
    corpus: DataFrame,
    root: str,
    id_col: str,
    vec_col: str,
    k: int,
    n_clusters: int = 16,
    n_probes: int = 4,
    seed: int = 42,
    sample_cap: int = 65536,
    n_blocks: int = 8,
    n_buckets: int = 16,
) -> None:
    """One-time base for IVF-ROUTED graph maintenance — the streaming
    arm for the regime ``knn_graph_auto_plan`` refuses: the base kNN
    graph (exact, built once) saved as generation 0, the corpus saved
    as IVF POSTINGS (epoch 0, partitioned by cluster — the layout the
    per-batch probed-cluster fetch partition-prunes on) with the FIXED
    centroid sidecar, and one pointer carrying both high-water marks
    (graph ``generation``, postings ``max_epoch``) plus the pinned
    probe width. ``load_synced_graph``, ``vacuum_generations``,
    ``compact_root`` and ``vacuum_root`` all work on this root
    unchanged — it is the graph ledger and the IVF ledger sharing one
    commit point."""
    _init_ivf_postings(
        corpus, root, id_col, vec_col, n_clusters, seed, sample_cap
    )
    graph = S.knn_graph(corpus, id_col, vec_col, k, n_blocks=n_blocks)
    S.save_knn_graph(graph, _graph_gen_path(root, 0), id_col, n_buckets=n_buckets)
    _stamp_root(
        root, "graph_ivf", corpus, id_col, generation=0, max_epoch=0,
        vec_col=vec_col, k=k, n_probes=n_probes, n_buckets=n_buckets,
    )


def _graph_ivf_fold(
    spark: SparkSession, led: EpochLedger, op_col: str | None
):
    """The GRAPH+IVF root's fold — ONE epoch carrying the U/D
    tombstones, the edge-repaired-then-grown graph generation's delta
    and the upserts' posting partition (generation and ``max_epoch``
    advance together):

    1. REPAIR (U/D ids): a ``deletes`` tombstone epoch hides their older
       postings from every later read, and ``knn_graph_apply_cdc``
       retires them from the graph against the committed corpus
       (|affected|·N, affected ≈ in-degree of the tombstoned set);
    2. INSERT (upserts): ``knn_graph_ivf_fold`` folds them into the
       repaired graph through IVF ROUTING — only the postings in the
       batch's probed clusters are read, partition-pruned,
       |batch| × |probed postings| per epoch, exact at full probe width
       (after the exact repair the graph is exact over corpus −
       tombstoned) — and they land as the epoch's postings.

    An update costs one exact eviction + one routed insert, never a
    rebuild. Op-I rows must be NEW ids (the routed fold's append
    contract). The graph is persisted for the fold's lifetime only when
    the repair stage runs, and the two stages' deltas are
    localCheckpointed only when both run: an insert-only batch reads
    its graph once, a delete writes its repair delta directly."""
    root = led.root

    def fold(ptr: dict, epoch: int, batch_df: DataFrame) -> dict:
        id_col, vec_col, k = ptr["id_col"], ptr["vec_col"], ptr["k"]
        ops, upserts, tomb, _, has_up = _fold_sides(
            batch_df, id_col, (vec_col,), op_col
        )
        if tomb is None and not has_up:
            ops.unpersist()
            return {}  # empty batch: bookkeeping only
        centers = _centroids(root)
        graph = _graph_at(spark, root, ptr)
        if tomb is not None:
            # fold-lifetime persist: the graph feeds the delete probe,
            # the keep stream, the repaired-graph build and the routed
            # insert — re-executing the delta fold per action is pure
            # AQE job inflation
            graph = graph.persist()
        base_handle = graph
        delta = None
        try:
            if tomb is not None:
                # committed corpus BEFORE this epoch's tombstones — the
                # repair needs the doomed rows present (survivors = old
                # − deletes); reads filter epoch ≤ the old head, so the
                # staged epoch below stays invisible to them
                corpus = _synced_postings(
                    spark, led, ptr, ptr["max_epoch"], id_col
                ).select(id_col, vec_col)
                led.write_epoch(tomb, "deletes", epoch)
                delta = S.knn_graph_apply_cdc(
                    corpus, tomb, None, id_col, vec_col, k, graph
                )
                if has_up:
                    # the eager localCheckpoints materialize CHURN-sized
                    # deltas, never the full repaired graph
                    delta = delta.localCheckpoint(eager=True)
                    # the repaired graph the insert stage folds into
                    graph = S.apply_graph_delta(graph, delta, id_col)
            if has_up:
                # candidate fetch: committed postings MINUS this epoch's
                # tombstones (frames at the staged epoch see them), so a
                # replaced version never re-enters as a neighbor
                postings_now = _apply_tombstones(
                    spark, led, ptr, epoch,
                    led.frames(spark, "postings", ptr, ptr["max_epoch"]),
                    id_col,
                ).drop("epoch")
                grown = S.knn_graph_ivf_fold(
                    postings_now, centers, upserts, id_col, vec_col, k,
                    n_probes=ptr["n_probes"], base_graph=graph,
                )
                if delta is None:
                    delta = grown
                else:
                    # one delta epoch for the whole batch: insert-stage
                    # lists win over repair-stage rows for the same id
                    # (computed ON TOP of the repair); no distinct on the
                    # anti side — left_anti tolerates dup keys
                    grown = grown.localCheckpoint(eager=True)
                    delta = grown.unionByName(
                        delta.join(grown.select(id_col), id_col, "left_anti")
                    )
            _write_graph_delta(root, epoch, delta)
            if has_up:
                led.write_epoch(
                    _routed(upserts, centers, id_col, vec_col),
                    "postings",
                    epoch,
                )
        finally:
            if tomb is not None:
                base_handle.unpersist()
            if ops is not None:
                ops.unpersist()
        return {"generation": epoch, "max_epoch": epoch}

    return fold


def init_semantic_dedup_root(
    corpus: DataFrame,
    root: str,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    n_probes: int = 16,
    min_cosine: float = 0.95,
    seed: int = 42,
    sample_cap: int = 65536,
) -> None:
    """One-time base for STREAMING SEMANTIC DEDUP — the embedding
    analog of the growing MinHash index: the corpus saved as an IVF
    posting ledger (epoch 0, cluster-partitioned) with fixed centroids,
    and the probe parameters (threshold + probe width) pinned in the
    pointer, exactly as the MinHash root pins its hash geometry. Full
    probe width (n_probes ≥ n_clusters) makes every batch's verdicts
    EXHAUSTIVE — the oracle-graded configuration; partial width is the
    recall dial for corpora whose near-dups cluster."""
    _init_ivf_postings(
        corpus, root, id_col, vec_col, n_clusters, seed, sample_cap
    )
    _stamp_root(
        root, "semantic", corpus, id_col, max_epoch=0, vec_col=vec_col,
        n_probes=n_probes, min_cosine=min_cosine,
    )


def load_synced_semantic_pairs(
    spark: SparkSession, root: str, as_of_epoch: int | None = None
) -> DataFrame:
    """All committed semantic near-dup verdicts: epochs ≤ the pointer,
    staged orphans invisible, columns (new_vec, corpus_vec, cos_sim).
    ``as_of_epoch`` time-travels (immutable epoch partitions — exact
    across compaction too, epoch survives as a data column there); a
    fresh root (or ``as_of_epoch=0``) returns the empty verdict set."""
    ptr = read_root_pointer(root)
    epoch = _resolve_as_of(ptr, "max_epoch", as_of_epoch)
    pairs = (
        None if epoch == 0 else _ledger_frames(spark, root, "pairs", ptr, epoch)
    )
    if pairs is None:
        id_type = ptr["id_type"]
        return spark.createDataFrame(
            [], f"new_vec {id_type}, corpus_vec {id_type}, cos_sim double"
        )
    return pairs.drop("epoch")


def _moments_epoch_path(root: str, epoch: int) -> str:
    return os.path.join(root, "moments", f"epoch={epoch}")


def init_pca_moments_root(corpus: DataFrame, root: str, vec_col: str) -> None:
    """One-time moment base: ONE corpus pass collects the exact int64
    moment table (N, Σq, Σqqᵀ — model-sized, ~2,145 rows at dim 64;
    ``operators/linalg.py:quantized_moments``) and saves it as epoch 0.
    The corpus itself is never persisted here — moments are the ONLY
    state a PCA refit needs, which is what makes the streaming story
    cheap: O(dim²) rows per epoch, never O(corpus)."""
    from spacex_data_engineering_pipeline_spark.operators.linalg import (
        quantized_moments,
    )

    os.makedirs(root, exist_ok=True)
    quantized_moments(
        corpus.filter(F.col(vec_col).isNotNull()), vec_col
    ).write.mode("overwrite").parquet(_moments_epoch_path(root, 0))
    _stamp_root(root, "pca", max_epoch=0, vec_col=vec_col)


def _pca_fold(spark: SparkSession, led: EpochLedger, op_col: str | None):
    """The PCA moment ledger's fold: ONE Arrow pass reduces the batch's
    live vectors (every row of an insert-only stream; the non-D rows of
    a CDC stream) to positive exact int64 moments and, on a CDC
    stream, the U/D rows' BEFORE-IMAGE vectors (the ``old_vec`` column)
    to NEGATED moments, written together as one signed epoch. Every
    moment cell is an order-free exact integer sum of the same
    quantization, so subtracting the identical old vector is bit-exact
    — the refit over the folded ledger EQUALS a from-scratch fit over
    (corpus − old versions + new versions), the corpus is never
    rescanned, and per-epoch state is dim²-sized. Before-images instead
    of a vector log: moments are the ONLY state this root keeps, so
    ``old_vec`` must hold EXACTLY the vector previously folded in (the
    subtraction cannot validate it); op I rows ignore it, op D rows
    ignore the new-vector column."""
    from spacex_data_engineering_pipeline_spark.operators.linalg import (
        quantized_moments,
    )

    def fold(ptr: dict, epoch: int, batch_df: DataFrame) -> dict:
        vec_col = ptr["vec_col"]
        live = batch_df
        if op_col is not None:
            ops = batch_df.withColumn(
                "__op", F.upper(F.col(op_col).cast("string")).substr(1, 1)
            )
            live = ops.filter(F.col("__op") != "D")
        m = quantized_moments(live.filter(F.col(vec_col).isNotNull()), vec_col)
        if op_col is not None:
            m = m.unionByName(
                quantized_moments(
                    ops.filter(F.col("__op").isin("U", "D"))
                    .filter(F.col(_OLD_VEC).isNotNull())
                    .select(F.col(_OLD_VEC).alias(vec_col)),
                    vec_col,
                ).select("i", "j", (-F.col("m")).alias("m"))
            )
        led.write_epoch(m, "moments", epoch)
        return {"max_epoch": epoch}

    return fold


def load_synced_pca_model(
    spark: SparkSession,
    root: str,
    n_components: int,
    n_iter: int = 12,
    as_of_epoch: int | None = None,
):
    """Refit from the committed moment ledger: read epochs ≤ the
    pointer (partition-pruned), fold them with one model-sized
    groupBy-sum (exact int64 — the ``merge_moments`` additivity), and
    run the O(dim³) driver-side eigensolve. Total input is
    epochs × ~2,145 rows; the corpus is untouched. ``as_of_epoch``
    time-travels: the model as trained after any past batch is exactly
    the fold over epochs ≤ k — full model provenance at dim² bytes per
    epoch.

    Retention interplay: ``compact_root`` SUMS epochs away
    (unlike the MinHash compaction, which rewrites rows — a summed
    moment table cannot be re-sliced), so as-of points strictly below
    the pointer's ``compact_upto`` are refused the way vacuumed graph
    generations are: compaction is the explicit choice to end their
    readability."""
    from spacex_data_engineering_pipeline_spark.operators.pca import (
        fit_pca_from_moments,
    )

    ptr = read_root_pointer(root)
    epoch = _resolve_as_of(ptr, "max_epoch", as_of_epoch)
    cu = int(ptr.get("compact_upto", 0) or 0)
    if epoch < cu:
        raise ValueError(
            f"as_of={epoch} was compacted away (compact_upto={cu}) — "
            "moment compaction sums epochs, so time travel reaches "
            "epochs ≥ the compaction point only"
        )
    merged = (
        _ledger_frames(spark, root, "moments", ptr, epoch)
        .groupBy("i", "j")
        .agg(F.sum("m").alias("m"))
        .collect()
    )
    return fit_pca_from_moments(merged, n_components, n_iter=n_iter)


def _bucketed_grams(grams: DataFrame, n_buckets: int) -> DataFrame:
    """Grams rows with their doc-id bucket, the grams table's
    partition column."""
    return grams.withColumn("__bucket", _id_bucket(F.col("doc"), n_buckets))


def init_minhash_root(
    corpus: DataFrame,
    root: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_jaccard_micro: int = 300_000,
    grams_buckets: int = 16,
) -> None:
    """One-time dedup-index base: shingle + band the corpus ONCE
    (``operators/dedup.py:build_minhash_index``) and save both index
    tables — ``grams`` (exact-verify side) and ``bands`` (candidate
    side) — as epoch 0 of an epoch-keyed layout, with the probe
    parameters pinned in the pointer (an index probed with different
    banding than it was built with silently loses recall, so the
    params travel with the artifact).

    The grams ledger is written partitioned by a doc-id hash bucket
    inside each epoch (``epoch=<e>/__bucket=<b>/``, the
    ``save_knn_graph`` layout): candidates are batch-sized, so the
    exact-Jaccard verify only ever needs the buckets the candidate
    corpus docs hash into — a partition-pruned fetch of ≤ |candidate
    buckets|/``grams_buckets`` of the files, never a scan of all
    committed grams. At 100 TB raise ``grams_buckets`` so one bucket
    ≈ one task's worth of files."""
    from spacex_data_engineering_pipeline_spark.operators.dedup import (
        build_minhash_index,
    )

    os.makedirs(root, exist_ok=True)
    led = _minhash_ledger(root)
    grams, banded = build_minhash_index(
        corpus, id_col, text_col, num_hashes, bands, shingle_n
    )
    led.write_epoch(_bucketed_grams(grams, grams_buckets), "grams", 0)
    led.write_epoch(banded, "bands", 0)
    banded.unpersist()
    grams.unpersist()
    # id-level tombstones join the ledger tables on their canonical
    # "doc" column (tomb_col), not the caller-facing id_col
    _stamp_root(
        root, "minhash", corpus, id_col, max_epoch=0, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        min_jaccard_micro=min_jaccard_micro, grams_buckets=grams_buckets,
        tomb_col="doc",
    )


def read_synced_grams(
    spark: SparkSession,
    root: str,
    buckets: list[int] | None = None,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """The committed grams (doc, shingles) as of the pointer (or
    ``as_of_epoch``), optionally restricted to a doc-id bucket list —
    both epoch and bucket are PARTITION columns, so the restriction
    prunes at file-listing time (assert: the scan's PartitionFilters
    carry ``__bucket``; ``.inputFiles()`` lists only the probed bucket
    dirs). ``buckets=[]`` means "no corpus docs can match" and returns
    the empty frame without touching files.

    Compaction-aware: after ``compact_root`` the committed
    history comes from the bucket-partitioned compact dataset (epoch a
    data column — as-of filters stay row-exact) plus any live epoch
    dirs above it; the bucket restriction partition-prunes both."""
    ptr = read_root_pointer(root)
    epoch = _resolve_as_of(ptr, "max_epoch", as_of_epoch)
    g = _ledger_frames(spark, root, "grams", ptr, epoch)
    if g is None:
        raise ValueError(
            f"no committed grams at epoch {epoch} — the root is not "
            "initialized (init_minhash_root writes epoch 0)"
        )
    if buckets is not None:
        g = g.filter(
            F.col("__bucket").isin(buckets) if buckets else F.lit(False)
        )
    # id-level tombstones (U/D rows, delete_ids) hide deleted docs' grams
    # — applied AFTER the bucket prune, so the anti-join sees only the
    # fetched rows
    g = _apply_tombstones(
        spark, _minhash_ledger(root), ptr, epoch, g, ptr["tomb_col"]
    )
    return g.drop("epoch", "__bucket")


def _probe_pruned(
    spark: SparkSession,
    root: str,
    ptr: dict,
    new_grams: DataFrame,
    new_banded: DataFrame,
) -> DataFrame:
    """Probe a pre-hashed batch against the committed index with the
    verify side PARTITION-PRUNED: candidates first (band-key join —
    the bands ledger is narrow keys, epoch-pruned to the pointer),
    then ONE bounded driver collect of the candidates' distinct doc-id
    buckets (≤ ``grams_buckets`` ints — model-sized, the repo's
    bounded-probe convention), then the exact-Jaccard verify against
    only those grams bucket dirs. The candidate frame is persisted so
    the band join runs once across the bucket collect and the verify."""
    from spacex_data_engineering_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_verify_pairs,
    )
    from spacex_data_engineering_pipeline_spark.operators.util import (
        release_caches_with,
    )

    led = _minhash_ledger(root)
    idx_bands = _apply_tombstones(
        spark,
        led,
        ptr,
        ptr["max_epoch"],
        led.frames(spark, "bands", ptr, ptr["max_epoch"]),
        ptr["tomb_col"],
    ).drop("epoch")
    candidates = minhash_candidate_pairs(idx_bands, new_banded).persist()
    buckets = sorted(
        r["b"]
        for r in candidates.select(
            _id_bucket(F.col("corpus_doc"), ptr["grams_buckets"]).alias("b")
        )
        .distinct()
        .collect()
    )
    idx_grams = read_synced_grams(spark, root, buckets=buckets)
    out = minhash_verify_pairs(
        candidates, new_grams, idx_grams, ptr["min_jaccard_micro"]
    )
    return release_caches_with(out, candidates)


def probe_minhash_root(
    spark: SparkSession, root: str, new_df: DataFrame
) -> DataFrame:
    """Batch-probe NEW documents against a persisted synced index
    WITHOUT folding them in (read-only): hash the batch with the
    ledger's pinned parameters (the pointer is the source of truth —
    a caller-supplied geometry could silently mismatch the index, see
    ``probe_minhash_index``'s contract note), then run the same
    partition-pruned candidates→verify path the streaming fold uses.
    Returns (new_doc, corpus_doc, jaccard_micro)."""
    from spacex_data_engineering_pipeline_spark.operators.dedup import (
        build_minhash_index,
    )
    from spacex_data_engineering_pipeline_spark.operators.util import (
        release_caches_with,
    )

    ptr = read_root_pointer(root)
    bg, bb = build_minhash_index(
        new_df,
        ptr["id_col"],
        ptr["text_col"],
        ptr["num_hashes"],
        ptr["bands"],
        ptr["shingle_n"],
    )
    return release_caches_with(_probe_pruned(spark, root, ptr, bg, bb), bg, bb)


def load_synced_dedup_pairs(
    spark: SparkSession, root: str, as_of_epoch: int | None = None
) -> DataFrame:
    """All committed near-dup pairs: epochs ≤ the pointer, staged
    orphans invisible. Columns (new_doc, corpus_doc, jaccard_micro);
    batches are disjoint so epochs never repeat a pair.
    ``as_of_epoch`` time-travels to the verdicts as of any past batch
    (epoch partitions are immutable once committed) — the audit shape
    "what did dedup flag before batch k landed".

    Epoch 0 (a freshly-initialized root, or ``as_of_epoch=0``) is a
    legal committed state with NO pairs directory yet — the base
    corpus is indexed but nothing has been probed — so it returns the
    EMPTY verdict set (doc-id type from the pointer's ``id_type``), not
    an AnalysisException, matching the other synced readers' epoch-0
    validity."""
    ptr = read_root_pointer(root)
    epoch = _resolve_as_of(ptr, "max_epoch", as_of_epoch)
    pairs = (
        None
        if epoch == 0
        else _ledger_frames(spark, root, "pairs", ptr, epoch)
    )
    if pairs is None:
        id_type = ptr["id_type"]
        return spark.createDataFrame(
            [], f"new_doc {id_type}, corpus_doc {id_type}, jaccard_micro bigint"
        )
    return pairs.drop("epoch")


def vacuum_generations(
    spark: SparkSession, root: str, keep_last: int = 1
) -> int:
    """End the readability of graph generations older than the newest
    ``keep_last`` — the retention knob for the DELTA-GENERATION layout
    (optimization r15): readable generations are the pointer's
    ``graph_base_gen`` full snapshot plus one churn-sized delta epoch
    per commit, so dropping history means REBASING — materialize the
    oldest KEPT generation as a new full snapshot (one corpus-sized
    write, paid per vacuum instead of per micro-batch as the pre-r15
    layout did), flip ``graph_base_gen``, then drop the old snapshot
    and the folded delta epochs. Crash-safe like every verb: the
    staged snapshot is invisible until the flip (readers resolve the
    floor from the pointer), a retry overwrites it. Never touches
    anything staged above the committed head. Returns the number of
    generations whose readability ended."""
    import shutil

    ptr = read_root_pointer(root)
    head = int(ptr["generation"])
    floor = int(ptr.get("graph_base_gen", 0) or 0)
    committed = sorted(_graph_committed_gens(root, floor, head))
    kept = committed[-keep_last:] if keep_last else committed[-1:]
    new_floor = kept[0]
    doomed = [g for g in committed if g < new_floor]
    if not doomed:
        return 0
    if new_floor != floor:
        snap = _graph_at(spark, root, ptr, new_floor)
        S.save_knn_graph(
            snap, _graph_gen_path(root, new_floor), ptr["id_col"],
            n_buckets=ptr["n_buckets"],
        )
        _flip_pointer(root, {**ptr, "graph_base_gen": new_floor})
    graph_dir = os.path.join(root, "graph")
    for d in os.listdir(graph_dir):
        if not d.startswith("gen="):
            continue
        g = int(d.split("=", 1)[1])
        # every other snapshot at or below the head is dead weight —
        # the superseded floor, or a crash orphan no reader resolves
        if g <= head and g != new_floor:
            shutil.rmtree(os.path.join(graph_dir, d))
    for e in _live_epochs(root, "graph_delta"):
        if e <= new_floor:
            shutil.rmtree(_epoch_path(root, "graph_delta", e))
    return len(doomed)


def sync_hybrid_cdc_stream(
    spark: SparkSession,
    source_path: str,
    schema,
    bm25_root: str,
    ivf_root: str,
    pairs_path: str,
    checkpoint_base: str,
) -> dict:
    """ONE CDC stream of (id, text, vector, op ∈ I/U/D) rows applied to
    BOTH serving indexes — the write-path companion of
    ``record_epoch_pair``: the SAME source files drain through
    ``sync_root(..., op_col="op")`` into the BM25 root (which reads the
    id/text/op columns) and the IVF root (id/vector/op — each fold
    projects only its own columns, so one wide source serves both),
    each under its own checkpoint lineage inside ``checkpoint_base``,
    then one cross-ledger pairing record pins the two committed heads.

    Consistency story, honestly: the two drains are SEQUENTIAL — a
    crash between them leaves the BM25 ledger ahead of the IVF ledger,
    exactly the state the pairing discipline exists for. The pairs
    file is only appended AFTER both drains complete, so every
    recorded pair names heads that both ledgers actually committed; a
    reader serving at the latest pair (``hybrid_rrf_synced_asof``'s
    shape) never observes the torn middle, and re-running this verb
    after the crash finishes the lagging drain (each root's own
    exactly-once replay skip makes the finished one a no-op) and then
    records the pair. Returns the appended pair record.

    Column names come from each root's pointer (``id_col`` /
    ``text_col`` / ``vec_col``), so the two indexes may disagree on
    the id column's NAME as long as the stream carries both."""
    for name, root in (("bm25", bm25_root), ("ivf", ivf_root)):
        sync_root(
            spark, source_path, schema, root,
            os.path.join(checkpoint_base, name), op_col="op",
        )
    return record_epoch_pair(
        pairs_path, {"bm25": bm25_root, "ivf": ivf_root}
    )


# Ledger layout per root kind, for every kind whose retention is an
# EpochLedger compaction (all but the plain graph, which rebases its
# applied/removed logs instead).
_KIND_LEDGERS = {
    "ivf": _ivf_ledger,
    "graph_ivf": _ivf_ledger,  # the graph+IVF root's posting side
    "semantic": _semantic_ledger,
    "minhash": _minhash_ledger,
    "pca": _pca_ledger,
    "bm25": _bm25_ledger,
}

# Audit pair tables a ``purge_pairs`` sweep reaches: kind → the two id
# columns a pair row cites.
_PAIR_SIDES = {
    "semantic": ("new_vec", "corpus_vec"),
    "minhash": ("new_doc", "corpus_doc"),
}

# The pointer key holding a root's committed head: graph generations on
# the graph kinds, ``max_epoch`` everywhere else.
_KIND_HEADS = {"graph": "generation", "graph_ivf": "generation"}

# The one fold per root kind: kind → builder(spark, ledger, op_col)
# returning the ``fold(ptr, epoch, batch_df) -> pointer advance`` that
# ``EpochLedger.drain`` and ``delete_ids`` commit. The BM25 builder lives
# in bm25_sync.py with the rest of the BM25 code (a fold's module is
# the layer perfbench/spans.py charges its jobs to).
_KIND_FOLDS = {
    "graph": _graph_fold,
    "graph_ivf": _graph_ivf_fold,
    "ivf": _ivf_fold,
    "semantic": _semantic_fold,
    "minhash": _minhash_fold,
    "pca": _pca_fold,
    "bm25": _bm25_fold,
}


def _root_ledger(kind: str, root: str) -> EpochLedger:
    """The root's ledger; a plain graph root writes its own logs (no
    table layout to declare)."""
    return (
        _KIND_LEDGERS[kind](root) if kind in _KIND_LEDGERS
        else EpochLedger(root, {})
    )


def _root_fold(spark: SparkSession, kind: str, led: EpochLedger, op_col):
    """The kind's one fold, entered with the batch's ids cast to the
    root's recorded ``id_type`` — the one cast every ``sync_root`` and
    ``delete_ids`` batch passes, so every epoch's files carry the type
    the root was built with (a same-type cast is optimized away). The
    wrapper keeps the fold's module and name."""
    fold = _KIND_FOLDS[kind](spark, led, op_col)
    if kind == "pca":
        return fold  # a moment ledger keys on no id

    @functools.wraps(fold)
    def typed(ptr: dict, epoch: int, batch_df: DataFrame) -> dict:
        id_col = ptr["id_col"]
        return fold(
            ptr, epoch,
            batch_df.withColumn(id_col, F.col(id_col).cast(ptr["id_type"])),
        )

    return typed


def sync_root(
    spark: SparkSession,
    source_path: str,
    schema,
    root: str,
    checkpoint_dir: str,
    op_col: str | None = None,
    on_batch_start=None,
    fence_sources: bool = False,
) -> None:
    """THE write path for every ledger root: drain ``source_path`` (a
    parquet file stream) with AvailableNow into ``root``, one file per
    micro-batch, each folded by the root kind's ONE fold (kind read
    from the pointer, ``ledger_root_kind``) and published by one
    pointer flip (``EpochLedger.drain``: replayed epochs no-op, staged
    crash orphans are invisible and overwritten). Blocks until the
    drain completes. ``on_batch_start`` is the crash-injection test
    hook (called with the epoch id before any work).

    The stream carries the root's pointer-named columns (``id_col`` and
    ``vec_col`` or ``text_col``). ``op_col=None`` declares an
    INSERT-ONLY stream of new ids — upserts on the plain graph root,
    which evicts a re-vectored id's stale edges corpus-wide. Per kind:

    - ivf / graph_ivf: FAISS ``add`` semantics — rows route against
      the FIXED saved centroids; a posting table has no per-id
      latest-wins read, so re-feeding an existing id surfaces both
      versions;
    - semantic / minhash: first-seen-wins, flag-and-audit — each batch
      is probed against corpus + earlier batches (never itself) and
      every row enters the index regardless of its verdict, so a
      re-ingested document is flagged against its earlier twin;
    - pca: moments are sums over disjoint row sets;
    - bm25: a re-ingested doc id would double-count df and tf.

    ``op_col="op"`` (any column name) declares a CDC stream, op ∈
    I/U/D: at most ONE row per id per batch, ENFORCED (two versions
    have no defined order — collapse upstream with
    ``latest_update_per_key``). Updates and deletes hide every older
    version in the same epoch the new one lands: id tombstones
    (ivf / graph_ivf / semantic / minhash), the removal log (graph),
    moments of the ``old_vec`` before-image (pca), or rows negated
    from the doc log (bm25).

    CHECKPOINT-WIPE HAZARD: exactly-once keys on the epoch id within
    the checkpoint's lineage, so wiping the checkpoint after new files
    landed can skip them, and a fresh checkpoint over already-drained
    files double-applies them. ``fence_sources=True`` records each
    epoch's source files and fences re-pointed ones to bookkeeping-only
    commits; ``EpochLedger.drain`` has the full contract.

    The root must carry the format stamp its ``init_*_root`` wrote
    (``ledger_root_kind``): any other pointer is refused before the
    stream starts. Ids are cast to the recorded ``id_type`` on entry
    to the fold."""
    kind = ledger_root_kind(read_index_pointer(root))
    led = _root_ledger(kind, root)
    led.drain(
        spark, source_path, schema, checkpoint_dir,
        _root_fold(spark, kind, led, op_col),
        on_batch_start, fence_sources=fence_sources,
    )


def delete_ids(
    spark: SparkSession, root: str, ids, max_affected: int = 65_536
) -> int:
    """ID-LEVEL DELETE for any id-keyed root — a right-to-be-forgotten
    request names specific ids, which whole-epoch compaction can't.
    The ids are committed as ONE all-D batch through the root kind's
    fold, with the same orphan sweep → fold → one flip sequence as a
    drained micro-batch (``EpochLedger.commit``) at ``next_epoch``'s
    number (the replay cursor is left alone, so a stream interleaves
    safely). So a delete is exactly what a CDC op-D row does: a
    tombstone epoch that readers anti-join with delete-epoch >
    posting-epoch (ivf / semantic / minhash — a later re-insert stays
    visible, as-of reads before the delete still see the row until
    ``compact_root(..., purge_deleted=True)``), the same plus the
    edge-repaired graph delta (graph_ivf), a removal-log entry plus
    the repaired delta (graph), or the doc's rows negated from the doc
    log (bm25). A PCA moment root holds no id-keyed rows and no
    before-image to subtract — refused.

    ``ids`` is a list of id values or a DataFrame holding either the
    root's tombstone column (``'doc'`` on MinHash roots, recorded as
    ``tomb_col`` in the pointer) or its caller-facing ``id_col``; a
    list is built as the root's recorded ``id_type`` and a frame's ids
    are cast to it on entry to the fold, so the tombstones carry the
    type every other epoch's files do. ``max_affected`` bounds the
    distinct id count (a larger set is almost certainly a bug
    upstream — a hub-scale graph delete wants a rebuild); a DataFrame
    costs one count() job for it. On the graph kinds the ids are also
    the batch's changed rows in ``knn_graph_apply_cdc``, which refuses
    more than its own default ``max_affected`` (65,536) of them, cited
    by an edge or not, and more affected rows than that budget.
    Returns the committed head — unchanged for an EMPTY id set, which
    burns no epoch. A root without the format stamp is refused
    (``ledger_root_kind``)."""
    ptr = read_index_pointer(root)
    kind = ledger_root_kind(ptr)
    if kind == "pca":
        raise ValueError(
            "this root's ledger has no id-keyed rows to delete (a moment "
            "ledger stores sums, not per-id state, and keeps no "
            "before-image to subtract); stream the removed vectors as "
            "op-D rows with old_vec through sync_root(..., op_col=...)"
        )
    id_col = ptr["id_col"]
    tomb_col = ptr["tomb_col"] if kind == "minhash" else id_col
    if isinstance(ids, DataFrame):
        if tomb_col in ids.columns:
            idf = ids.select(F.col(tomb_col).alias(id_col))
        elif id_col in ids.columns:
            idf = ids.select(id_col)
        else:
            raise ValueError(
                f"ids frame has columns {ids.columns} — expected the "
                f"root's tombstone column {tomb_col!r}"
                + (f" or its id column {id_col!r}" if id_col != tomb_col else "")
            )
        idf = idf.distinct()
        n = idf.count()
    else:
        # a driver-side id list needs no Spark job to count or dedup
        uniq = sorted(set(ids))
        n = len(uniq)
        idf = spark.createDataFrame(
            [(i,) for i in uniq], f"{id_col} {ptr['id_type']}"
        )
    if n > max_affected:
        raise ValueError(
            f"delete_ids would remove {n} ids > max_affected="
            f"{max_affected} — pass a higher bound explicitly if this is "
            "intended (a hub-scale graph delete wants a rebuild)"
        )
    if n == 0:
        return int(ptr[_KIND_HEADS.get(kind, "max_epoch")])
    payload, payload_type = (
        (ptr["text_col"], "string") if kind in ("minhash", "bm25")
        else (ptr["vec_col"], "array<double>")
    )
    batch = idf.select(
        id_col,
        F.lit(None).cast(payload_type).alias(payload),
        F.lit("D").alias(_DELETE_OP),
    )
    led = _root_ledger(kind, root)
    fold = _root_fold(spark, kind, led, _DELETE_OP)
    epoch = led.next_epoch(ptr)
    led.commit(ptr, epoch, lambda: fold(ptr, epoch, batch))
    return epoch


def sync_knn_graph_cdc_stream(
    spark: SparkSession,
    source_path: str,
    schema,
    root: str,
    checkpoint_dir: str,
    on_batch_start=None,
) -> None:
    """``sync_root(..., op_col="op")`` on a graph root, kept under this
    name for the benchmark harness that calls and traces it."""
    sync_root(
        spark, source_path, schema, root, checkpoint_dir,
        op_col="op", on_batch_start=on_batch_start,
    )



def compact_root(
    spark: SparkSession,
    root: str,
    purge_deleted: bool = False,
    purge_pairs: bool = False,
) -> int:
    """Retention for ANY ledger root (kind read from the pointer):
    fold every committed epoch at or below the head into one compact
    dataset per table, staged, then published by one pointer flip.
    All of a root's tables move under the one shared ``compact_upto``
    — compacting a subset would let ``vacuum_root`` drop the rest's
    uncompacted rows. Returns epochs newly folded (0 = no-op).

    Rows are REWRITTEN with epoch as an int data column (as-of reads
    stay row-exact; cluster / grams-bucket / term-bucket partitioning
    survives, so pruned reads keep pruning), except on pca — moments
    are SUMMED, so as-of reads below the compaction point are refused
    — and on a plain graph root, whose applied/removed logs are
    REBASED into one corpus snapshot (``_rebase_graph_corpus``). A
    BM25 root's pointer keeps only the head's ``corpus_stats`` entry;
    the folded ones move to a history file beside the compact postings
    (``_bm25_stats_compact``), so the pointer stays live-tail-sized.

    ``purge_deleted=True`` is the hard removal, recording ``purge_floor
    = head`` (as-of reads below it are refused): tombstoned rows and
    the spent tombstones leave ivf / graph_ivf / semantic / minhash
    roots (``_tombstone_purge``), a BM25 root is NETTED down to its
    live corpus (``_bm25_net``) with no stats history (states below
    the floor are refused); pca and plain-graph roots ignore it.
    It is refused when nothing is uncompacted — a silent no-op would
    leave "purged" rows readable. ``purge_pairs=True`` (minhash and
    semantic only; requires ``purge_deleted``) extends the purge to
    the audit PAIRS table, which otherwise keeps its rows: a pair is
    dropped when EITHER cited id was tombstoned after the pair was
    recorded, so verdicts a re-ingested id earned later survive."""
    ptr = read_index_pointer(root)
    kind = ledger_root_kind(ptr)
    if purge_pairs and kind not in _PAIR_SIDES:
        raise ValueError(f"purge_pairs: a {kind} root has no pairs table")
    if purge_pairs and not purge_deleted:
        raise ValueError(
            "purge_pairs extends purge_deleted (the pairs sweep keys "
            "on the same spent tombstones) — pass purge_deleted=True"
        )
    if kind == "graph":
        return _rebase_graph_corpus(spark, root, ptr)
    stage = None
    if kind == "bm25":
        stage = _bm25_stats_compact(root, ptr, purge_deleted)
    led = _KIND_LEDGERS[kind](root)
    if kind == "pca":
        return led.compact(
            spark,
            transform=lambda table, df, head: (
                df.groupBy("i", "j")
                .agg(F.sum("m").alias("m"))
                .withColumn("epoch", F.lit(head).cast("int"))
            ),
        )
    if not purge_deleted:
        return led.compact(spark, stage=stage)
    head = ptr["max_epoch"]
    cu = int(ptr.get("compact_upto", 0) or 0)
    if head <= cu:
        # the deletes an earlier PLAIN compaction folded can't be
        # purged in place (delete_ids always bumps the head, so
        # purging right after a delete never hits this). Recovery:
        # write a fresh epoch (e.g. re-tombstone the same ids), purge.
        raise ValueError(
            f"purge needs uncompacted epochs (head={head}, "
            f"compact_upto={cu}): the staged-compact commit can't "
            "rewrite a live compact in place"
        )
    if kind == "bm25":
        transform = _bm25_net
    else:
        transform = _tombstone_purge(spark, led, ptr, kind, purge_pairs)
    return led.compact(
        spark, transform=transform, extra={"purge_floor": head}, stage=stage
    )


def _tombstone_purge(
    spark: SparkSession,
    led: EpochLedger,
    ptr: dict,
    kind: str,
    purge_pairs: bool,
):
    """The purge transform for roots carrying id-keyed content tables
    plus a ``deletes`` tombstone ledger: tombstoned rows leave the
    content tables (grams + bands on minhash, postings elsewhere), the
    spent tombstones are dropped, and with ``purge_pairs`` each side of
    a pair row goes through the same epoch rule."""
    if kind == "minhash":
        content, col = ("grams", "bands"), ptr["tomb_col"]
    else:
        content, col = ("postings",), ptr["id_col"]
    sides = _PAIR_SIDES[kind] if purge_pairs else ()

    def transform(table: str, df: DataFrame, head: int):
        if table in content:
            return _apply_tombstones(spark, led, ptr, head, df, col)
        if table == "pairs":
            for side in sides:
                df = _apply_tombstones(
                    spark, led, ptr, head,
                    df.withColumnRenamed(side, col), col,
                ).withColumnRenamed(col, side)
            return df
        if table == "deletes":
            return None  # spent: their targets are physically gone
        return df

    return transform


def vacuum_root(root: str) -> int:
    """Retention sweep for ANY ledger root, kind read from the pointer:
    drops epoch dirs a ``compact_root`` folded away, superseded
    compacts (or rebase snapshots, and a rebased graph root's original
    ``corpus_base``), and staged crash orphans above the head — never
    the committed tail or the pointer-named compact. Returns dirs
    removed."""
    ptr = read_index_pointer(root)
    kind = ledger_root_kind(ptr)
    if kind == "graph":
        return _vacuum_graph_logs(root, ptr)
    return _KIND_LEDGERS[kind](root).vacuum()


def maintain_root(
    spark: SparkSession,
    root: str,
    max_tail_epochs: int = 8,
    purge_deleted: bool = False,
    keep_generations: int = 2,
) -> dict:
    """ONE operational retention policy for any ledger root: measure
    the LIVE TAIL (committed epochs above ``compact_upto``, or a plain
    graph root's log epochs above its rebase floor — the directory
    growth that degrades file-listing and epoch-union reads as a
    stream keeps folding), and when it exceeds ``max_tail_epochs`` run
    ``compact_root`` (with ``purge_deleted``) then ``vacuum_root``.
    Graph-bearing roots additionally prune saved generations down to
    the newest ``keep_generations`` (``vacuum_generations``).

    Schedule it after every drain (it no-ops cheaply while the tail is
    short — one pointer read and one directory listing) or from a
    periodic job; every step is a crash-safe staged compact + pointer
    flip, so a crash mid-maintenance leaves the root exactly as
    committed. Returns ``{kind, tail_epochs, compacted_epochs,
    vacuumed_dirs, generations_dropped}``."""
    ptr = read_index_pointer(root)
    kind = ledger_root_kind(ptr)
    if kind == "graph":
        tail = len(_graph_log_tail(root, ptr))
    else:
        tail = int(ptr["max_epoch"]) - int(ptr.get("compact_upto", 0) or 0)
    out = {
        "kind": kind,
        "tail_epochs": tail,
        "compacted_epochs": 0,
        "vacuumed_dirs": 0,
        "generations_dropped": 0,
    }
    if tail > max_tail_epochs:
        out["compacted_epochs"] = compact_root(
            spark, root, purge_deleted=purge_deleted
        )
        out["vacuumed_dirs"] = vacuum_root(root)
    if kind in ("graph", "graph_ivf"):
        out["generations_dropped"] = vacuum_generations(
            spark, root, keep_last=keep_generations
        )
    return out


def _graph_log_tail(root: str, ptr: dict) -> set[int]:
    """A plain graph root's committed applied/removed log epochs above
    its rebase floor — the surface a corpus replay unions."""
    gen = int(ptr["generation"])
    floor = int(ptr.get("corpus_rebase_gen", 0) or 0)
    return {
        e
        for t in ("applied", "removed")
        for e in _live_epochs(root, t)
        if floor < e <= gen
    }


def _rebase_graph_corpus(spark: SparkSession, root: str, ptr: dict) -> int:
    """``compact_root`` for the plain graph root: fold the committed
    applied/removed logs into one corpus snapshot
    (``corpus_rebase/upto=<generation>`` — staged invisible, then
    published by recording ``corpus_rebase_gen`` in the one pointer
    flip), so replay cost (``_corpus_at``) tracks churn since the last
    rebase, not write history. Log epochs at or below the floor become
    droppable by ``vacuum_root``; saved generations are untouched. A
    crash between the staged snapshot and the flip leaves an invisible
    orphan the next rebase overwrites. Returns distinct log epochs
    folded (0 = nothing above the floor — no burned snapshot)."""
    log_epochs = _graph_log_tail(root, ptr)
    if not log_epochs:
        return 0
    gen = int(ptr["generation"])
    corpus = _corpus_at(spark, root, ptr)
    corpus.write.mode("overwrite").parquet(
        os.path.join(root, "corpus_rebase", f"upto={gen}")
    )
    _flip_pointer(root, {**ptr, "corpus_rebase_gen": gen})
    return len(log_epochs)


def _vacuum_graph_logs(root: str, ptr: dict) -> int:
    """``vacuum_root`` for the plain graph root: applied/removed epoch
    dirs at or below the pointer's ``corpus_rebase_gen`` (their rows
    live on in the snapshot), staged log orphans above the committed
    generation, rebase snapshots the pointer doesn't name, and — once
    a rebase floor exists — the original ``corpus_base`` (never read
    again; the snapshot IS the base)."""
    import shutil

    gen = int(ptr["generation"])
    floor = int(ptr.get("corpus_rebase_gen", 0) or 0)
    removed = 0
    for t in ("applied", "removed"):
        for e in _live_epochs(root, t):
            if e <= floor or e > gen:
                shutil.rmtree(_epoch_path(root, t, e))
                removed += 1
    rdir = os.path.join(root, "corpus_rebase")
    if os.path.isdir(rdir):
        for d in os.listdir(rdir):
            if d.startswith("upto=") and int(d.split("=", 1)[1]) != floor:
                shutil.rmtree(os.path.join(rdir, d))
                removed += 1
    base_dir = os.path.join(root, "corpus_base")
    if floor > 0 and os.path.isdir(base_dir):
        shutil.rmtree(base_dir)
        removed += 1
    return removed
