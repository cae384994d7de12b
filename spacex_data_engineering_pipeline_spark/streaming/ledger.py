"""THE epoch-ledger protocol, factored once (round 13 — previously
every sync arm hand-rolled this choreography inside index_sync.py):

a *ledger root* is a directory holding N epoch-keyed parquet tables
(``<table>/epoch=<e>/``, each optionally sub-partitioned by one layout
column for query-time pruning) plus ONE pointer file. Every mutation —
streaming micro-batch folds, manual tombstone epochs, compaction —
stages its writes overwrite-idempotently (invisible to readers, keyed
deterministically so replays overwrite crash orphans) and publishes
with a single fsync'd pointer flip, the same single-commit-point
contract as operators/txn.py. Readers resolve the pointer first and
only ever consult epochs at or below its high-water mark, so a crash
at ANY instant leaves them a consistent committed state.

Retention, generically: ``EpochLedger.compact`` folds committed
epochs into one compact dataset per table with epoch demoted to an
int DATA column (as-of time travel stays row-exact across compaction;
parquet min/max stats skip row groups below an as-of filter), and
``EpochLedger.vacuum`` sweeps only compacted-away epoch dirs,
superseded compacts, and staged crash orphans — the committed tail
and the pointer-named compact are never touched.

Root format: every ``init_*_root`` stamps the pointer with the root's
``kind`` (which one fold and table layout it uses), ``format``
(``ROOT_FORMAT``) and, on id-keyed kinds, ``id_type`` (the id column's
Spark type, which every epoch's files carry). ``ledger_root_kind``
reads the stamp and nothing else; a pointer without it, or with
another format, is refused with one instruction to rebuild the root
with its kind's ``init_*_root`` — nothing guesses a layout from which
keys a pointer happens to hold.

Scale posture: the pointer is O(1) bytes (the format stamp adds a few
dozen), except that a BM25 root's
carries its corpus totals (``corpus_stats``: one ~30-byte
``[epoch, n_docs, sum_dl]`` entry per committed epoch of the live
tail — every compaction moves the entries it folds into a history file
beside the compact postings), so they commit in the same flip as the
epoch's tables and a query needs no Spark job to read them; per-epoch state is
whatever the arm's fold writes (batch-sized postings, model-sized
moments); reads partition-prune on epoch (a partition column in the
live tail) and on the per-table layout column (doc-id bucket / cluster
/ term bucket), and a reader that knows a table's schema passes it
(``ledger_frames(schema=...)``) to skip the parquet schema-inference
job. Nothing here ever rewrites committed data outside an explicit
compaction.

The concrete root kinds — MinHash dedup, semantic dedup, IVF postings,
BM25 inverted index, PCA moments, kNN-graph generations — are one fold
each over one ``EpochLedger`` (streaming/index_sync.py ``sync_root`` /
``delete_ids``; the BM25 fold lives in streaming/bm25_sync.py).
Reference parity note: the reference keeps exactly one durable
artifact current per ingest batch (raw rows + state committed
together, reference src/database.py:133-223); this module is that
commit discipline generalized to many artifact kinds at 100 TB.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_POINTER = "_index_pointer.json"


def pointer_path(root: str) -> str:
    return os.path.join(root, _POINTER)


def read_index_pointer(root: str) -> dict:
    with open(pointer_path(root)) as f:
        return json.load(f)


# The pointer/layout version every ``init_*_root`` stamps, and the init
# verb that builds each root kind (named by the refusal message).
ROOT_FORMAT = 1
ROOT_INITS = {
    "graph": "init_knn_graph_root",
    "graph_ivf": "init_knn_graph_ivf_root",
    "ivf": "init_ivf_root",
    "semantic": "init_semantic_dedup_root",
    "minhash": "init_minhash_root",
    "pca": "init_pca_moments_root",
    "bm25": "init_bm25_root",
}


def stamp_root(root: str, kind: str, corpus=None, id_col=None, **keys) -> None:
    """Publish a new root's first pointer: the format stamp (``kind``,
    ``format``; given the corpus and its id column, ``id_col`` and
    ``id_type`` read from the corpus schema with no Spark job), an
    empty replay cursor, and the kind's own ``keys``."""
    ptr = {"kind": kind, "format": ROOT_FORMAT, "last_batch_id": None}
    if id_col is not None:
        ptr["id_col"] = id_col
        ptr["id_type"] = corpus.schema[id_col].dataType.simpleString()
    flip_pointer(root, {**ptr, **keys})


def ledger_root_kind(ptr: dict) -> str:
    """The root kind the pointer's stamp names — THE format check every
    sync, delete, retention verb and synced reader runs: a pointer
    without the stamp, or stamped with another format, is refused."""
    kind = ptr.get("kind")
    if ptr.get("format") != ROOT_FORMAT or kind not in ROOT_INITS:
        raise ValueError(
            f"not a format-{ROOT_FORMAT} ledger root (pointer stamp "
            f"kind={kind!r}, format={ptr.get('format')!r}) — rebuild it "
            f"with {ROOT_INITS.get(kind, 'the init_*_root of its kind')}"
        )
    return kind


def read_root_pointer(root: str) -> dict:
    """The pointer of a stamped ledger root (``ledger_root_kind``
    refuses any other)."""
    ptr = read_index_pointer(root)
    ledger_root_kind(ptr)
    return ptr


def flip_pointer(root: str, pointer: dict) -> None:
    # same single-commit-point contract as operators/txn.py::_commit:
    # stage, fsync, one atomic replace (conditional PUT on object stores)
    fd, tmp = tempfile.mkstemp(dir=root, prefix="._ptr_")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(pointer, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, pointer_path(root))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def resolve_as_of(ptr: dict, key: str, as_of) -> int:
    """TIME-TRAVEL resolution shared by every synced reader: the ledger
    keeps one immutable partition (or generation dir) per committed
    epoch, so any historical index state is reproducible by reading
    epochs ≤ k — the audit/rollback story the epoch layout buys beyond
    exactly-once. ``None`` means the committed head; anything above the
    head is refused (it would silently read staged crash orphans), and
    anything below a ``purge_floor`` a purging compaction recorded is
    refused too (the rows needed to reconstruct it are physically
    gone)."""
    head = ptr[key]
    if as_of is None:
        return head
    as_of = int(as_of)
    if as_of < 0 or as_of > head:
        raise ValueError(
            f"as_of={as_of} is not a committed state (committed head is "
            f"{key}={head}); states above the head are staged crash "
            "orphans, not history"
        )
    floor = int(ptr.get("purge_floor", 0) or 0)
    if as_of < floor:
        raise ValueError(
            f"as_of={as_of} predates the purge floor ({floor}): a "
            "purging compaction physically removed tombstoned rows, so "
            "states before it are no longer reconstructible — the same "
            "explicit end-of-readability as PCA moment compaction"
        )
    return as_of


def id_bucket(id_expr, n_buckets: int):
    """Doc-id hash bucket for id-keyed ledger layouts (the minhash
    grams ledger, the BM25 doc log). Cast through string so long and
    string doc ids bucket stably — the layout is internal (pruning
    only), so portability to the SQL oracle is not required, but
    determinism across sessions is."""
    return F.pmod(F.xxhash64(id_expr.cast("string")), F.lit(n_buckets)).cast(
        "int"
    )


def record_epoch_pair(
    path: str, roots: dict[str, str], head_key: str = "max_epoch"
) -> dict:
    """Append a CROSS-LEDGER CONSISTENCY RECORD pinning each named
    root's committed head — the missing piece for serving paths that
    read several independently-committed ledgers (hybrid retrieval's
    BM25 + IVF arms): each ledger's own pointer flip is atomic, but
    two ledgers drained separately have no mutually-consistent "now",
    so a reader hitting them at different moments can fuse state from
    different logical times. Call this after each paired drain; a
    serving read then resolves one record and passes its epochs as
    ``as_of`` to every arm — a snapshot both ledgers actually
    committed together.

    The record file is a tiny JSON list rewritten atomically
    (stage → fsync → replace, the pointer-flip discipline — O(pairs)
    bytes, one per drain cycle, trivially small next to the ledgers).
    Returns the appended record ``{"pair_id": n, "epochs":
    {name: head, ...}}``."""
    pairs = read_epoch_pairs(path)
    rec = {
        "pair_id": len(pairs),
        "epochs": {
            name: int(read_index_pointer(root)[head_key])
            for name, root in roots.items()
        },
    }
    pairs.append(rec)
    d = os.path.dirname(os.path.abspath(path)) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix="._pairs_")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(pairs, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return rec


def read_epoch_pairs(path: str) -> list[dict]:
    """All committed pairing records (empty for a fresh path). A
    serving read typically wants the LAST record (the newest mutually
    consistent snapshot) or a specific ``pair_id`` for time travel."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)


def epoch_path(root: str, table: str, epoch: int) -> str:
    return os.path.join(root, table, f"epoch={epoch}")


def compact_path(root: str, table: str, upto: int) -> str:
    return os.path.join(root, f"{table}_compact", f"upto={upto}")


def live_epochs(root: str, table: str) -> list[int]:
    d = os.path.join(root, table)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(d)
        if e.startswith("epoch=")
    )


def ledger_frames(
    spark: SparkSession,
    root: str,
    table: str,
    ptr: dict,
    epoch: int,
    schema: str | None = None,
) -> DataFrame | None:
    """Committed rows of an epoch-keyed ledger table as of ``epoch``,
    compaction-aware: the compact dataset (all epochs ≤ the pointer's
    ``compact_upto``, epoch kept as an int DATA column so time travel
    stays row-exact across compaction — parquet min/max stats skip
    row groups below an as-of filter) unioned with the live epoch
    dirs in (compact_upto, epoch] (epoch is a PARTITION column there —
    pruned at file listing). Returns None when neither side has
    committed rows in range (e.g. the pairs table of a fresh root).
    The returned frame keeps ``epoch`` (and the layout column where
    the table has one) for callers to filter/drop. ``schema`` (a DDL
    string naming every column, ``epoch`` and the layout column
    included) replaces parquet schema inference — one Spark job per
    read — with the caller's known layout."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    cu = int(ptr.get("compact_upto", 0) or 0)
    # cu == 0 means nothing was ever compacted: epoch 0 itself is live
    lo = cu if cu > 0 else -1
    frames = []
    if any(lo < e <= epoch for e in live_epochs(root, table)):
        frames.append(
            reader.parquet(os.path.join(root, table))
            .filter((F.col("epoch") > lo) & (F.col("epoch") <= epoch))
            .withColumn("epoch", F.col("epoch").cast("int"))
        )
    if cu > 0 and os.path.isdir(compact_path(root, table, cu)):
        frames.append(
            reader.parquet(compact_path(root, table, cu)).filter(
                F.col("epoch") <= epoch
            )
        )
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# Every epoch-keyed table name any arm writes — the sweep allowlist for
# clear_staged_epoch. A root may legitimately contain NON-ledger dirs
# (a caller's checkpoint or stream-source dir) whose own epoch=N
# subdirs must never be swept by an unrelated commit; restricting the
# sweep to names a ledger arm actually manages closes that hazard.
# Arms with custom table names pass them explicitly via ``tables``.
# BM25 keeps no stats table: its corpus totals ride the pointer.
LEDGER_TABLES = frozenset(
    {
        "grams", "bands", "pairs", "deletes",  # minhash dedup
        "postings",                             # IVF / semantic / graph-IVF
        "doclog",                               # BM25
        "moments",                              # PCA
        "applied", "removed",                   # plain graph roots' logs
        "graph_delta",                          # graph delta generations
        "sources",                              # drained-source fence
    }
)


def clear_staged_epoch(
    root: str, epoch: int, tables: tuple[str, ...] = ()
) -> int:
    """Remove every LEDGER-MANAGED table's staged dir at exactly
    ``epoch`` — callers pass only epochs strictly ABOVE the committed
    head, where any existing dir is a crash orphan by definition. This
    guards the invariant a multi-verb root would otherwise lose: a
    verb that crashed between its staged write and its pointer flip
    must stay dead, but a LATER commit that reuses the same epoch
    number writes only ITS OWN tables — without this sweep, flipping
    the pointer past the orphan's epoch would activate the dead verb's
    tables (e.g. a crashed ``delete_ids``'s tombstones silently
    taking effect after an unrelated stream batch). The sweep is
    restricted to ``tables`` ∪ the registry of table names the
    built-in arms manage (``LEDGER_TABLES``) — a non-ledger directory
    a caller placed inside the root (a stream source, a checkpoint)
    is never touched even if it happens to contain an ``epoch=<N>``
    subdir. Committed epochs are never touched either. Returns
    directories removed."""
    removed = 0
    managed = LEDGER_TABLES.union(tables)
    for entry in os.listdir(root):
        if entry not in managed:
            continue
        d = os.path.join(root, entry, f"epoch={epoch}")
        if os.path.isdir(d):
            shutil.rmtree(d)
            removed += 1
    return removed


def vacuum_ledger_dirs(root: str, tables: tuple[str, ...]) -> int:
    """Shared retention sweep: drop (a) live epoch dirs at or below
    the pointer's ``compact_upto`` (their rows live on in the compact
    dataset), (b) compact datasets superseded by a newer compaction,
    and (c) staged orphan epochs a crash left above the pointer. The
    committed tail (epochs in (compact_upto, max_epoch]) and the
    pointer-named compact are NEVER touched — the head state always
    stays readable. Returns directories removed."""
    ptr = read_index_pointer(root)
    head = ptr["max_epoch"]
    cu = int(ptr.get("compact_upto", 0) or 0)
    removed = 0
    for table in tables:
        for e in live_epochs(root, table):
            # cu == 0 means NOTHING was ever compacted — epoch 0 is the
            # live base (ledger_frames' lo = -1 special case), not a
            # compacted-away dir; only orphans above the pointer go.
            if (cu > 0 and e <= cu) or e > head:
                shutil.rmtree(epoch_path(root, table, e))
                removed += 1
        cdir = os.path.join(root, f"{table}_compact")
        if os.path.isdir(cdir):
            for d in os.listdir(cdir):
                if d.startswith("upto=") and int(d.split("=", 1)[1]) != cu:
                    shutil.rmtree(os.path.join(cdir, d))
                    removed += 1
    return removed


class EpochLedger:
    """One ledger root bound to its table layout — every root kind's
    writes (``sync_root`` micro-batches and ``delete_ids`` manual
    epochs alike) are one per-batch fold over one instance, committed
    by ``commit``; what differs per kind is ONLY the table dict and the
    fold body.

    ``tables``: {name: partition_column | None}. Every frame written
    to a partitioned table carries its partition column, and
    compaction preserves it, so pruned reads keep pruning.
    """

    def __init__(self, root: str, tables: dict[str, str | None]):
        self.root = root
        self.tables = dict(tables)

    # -- pointer --------------------------------------------------------
    def _adopt_fence_table(self) -> None:
        """A root drained with ``fence_sources=True`` carries a
        ``sources`` table even when the arm's own table dict (the one
        its compaction helper builds) doesn't name it; retention must
        carry it along or the fence would FORGET applied files — the
        compact bumps ``compact_upto`` past the sources epochs, live
        reads exclude them, and a later vacuum deletes the dirs."""
        if "sources" not in self.tables and os.path.isdir(
            os.path.join(self.root, "sources")
        ):
            self.tables["sources"] = None

    def pointer(self) -> dict:
        return read_index_pointer(self.root)

    def flip(self, ptr: dict) -> None:
        flip_pointer(self.root, ptr)

    # -- io -------------------------------------------------------------
    def epoch_path(self, table: str, epoch: int) -> str:
        return epoch_path(self.root, table, epoch)

    def write_epoch(self, df: DataFrame, table: str, epoch: int) -> None:
        part = self.tables[table]
        writer = df.write.mode("overwrite")
        if part:
            writer = writer.partitionBy(part)
        writer.parquet(self.epoch_path(table, epoch))

    def frames(
        self,
        spark: SparkSession,
        table: str,
        ptr: dict,
        epoch: int,
        schema: str | None = None,
    ) -> DataFrame | None:
        return ledger_frames(spark, self.root, table, ptr, epoch, schema)

    # -- commit ---------------------------------------------------------
    def next_epoch(self, ptr: dict, epoch_id: int = -1) -> int:
        """The epoch a commit stages as — deterministic given (pointer,
        epoch_id), so a crash-window replay recomputes the same number
        and overwrites the orphan. ``max`` with the pointer heads keeps
        stream epochs monotonic across MANUAL commits (``delete_ids``,
        which passes no epoch id and so takes head + 1; on a pure graph
        root ``generation`` is the only head there is, and without it a
        manual generation would collide with the next stream fold's
        number and the pointer could move BACKWARDS); on a
        purely-streamed root it equals the classic ``epoch_id + 1``."""
        heads = [
            int(ptr[k])
            for k in ("max_epoch", "generation")
            if ptr.get(k) is not None
        ]
        if not heads:
            return epoch_id + 1
        return max(epoch_id + 1, max(heads) + 1)

    def commit(self, ptr: dict, epoch: int, stage, **bookkeeping) -> None:
        """THE commit sequence of every epoch, drained or manual: sweep
        any crash orphan at ``epoch`` (it is above the committed head,
        so whatever is there is a dead commit's — possibly ANOTHER
        verb's; ``clear_staged_epoch``), run ``stage() -> dict`` to
        stage the epoch's writes and return the pointer advance, then
        flip the ONE pointer with the advance and ``bookkeeping`` (a
        drain's replay cursor). An exception in ``stage`` leaves the
        pointer untouched."""
        clear_staged_epoch(self.root, epoch, tuple(self.tables))
        advance = stage()
        self.flip({**ptr, **advance, **bookkeeping})

    def drain(
        self,
        spark: SparkSession,
        source_path: str,
        schema,
        checkpoint_dir: str,
        fold,
        on_batch_start=None,
        fence_sources: bool = False,
    ) -> None:
        """AvailableNow drain of a parquet file stream, one file per
        trigger, with the shared exactly-once commit choreography: per
        micro-batch, skip replayed epochs (≤ ``last_batch_id``), then
        ``commit`` the batch — ``fold(ptr, epoch, batch_df) -> dict``
        stages the epoch's writes (the dict is the arm's pointer
        advance, e.g. ``{"max_epoch": epoch}`` or ``{"generation": g,
        "max_epoch": e}``) and the ONE pointer flips.
        ``on_batch_start`` is the crash-injection test hook. Blocks
        until the drain completes.

        Replay detection is scoped to the CHECKPOINT LINEAGE: Spark's
        ``epoch_id`` restarts at 0 under a fresh checkpoint dir, so a
        bare ``epoch_id ≤ last_batch_id`` check would silently skip
        the first batches of a legitimate continuation (a NEW source
        drained under a NEW checkpoint into an existing root — the
        recovery path the checkpoint-wipe hazard note prescribes). The
        pointer therefore records a ``checkpoint_token`` (the resolved
        checkpoint path): a drain under a DIFFERENT token treats every
        epoch as new (``next_epoch``'s max() keeps the numbering
        collision-free past the old head), while replays WITHIN one
        checkpoint still no-op. The flipped contract: switching
        checkpoint dirs declares the source's files all-new — reusing
        an already-drained source under a fresh checkpoint double-
        applies it (for an insert-only stream that is duplication; a
        CDC stream self-heals via its old-version lookup). Wiping the
        checkpoint's CONTENTS at the same path keeps the old token and
        stays the proven no-op fixed point; wiping it AFTER new files
        landed renumbers epochs from 0, so not-yet-processed files can
        be misread as replays and skipped.

        ``fence_sources=True`` closes that last hazard: every committed
        epoch also records the distinct SOURCE FILE PATHS it applied (a
        ``sources`` ledger table — file-name-sized, epoch-keyed,
        swept/compacted/vacuumed like any other table), and each batch
        anti-joins its rows' ``input_file_name()`` against the
        committed set before the fold sees them. A fresh checkpoint pointed at already-drained
        files then commits a BOOKKEEPING-ONLY pointer flip (replay
        cursor advances, no epoch written, heads unchanged — an empty
        epoch dir would poison parquet schema inference once it were
        the only live tail) instead of duplicating, while a legitimate
        continuation (genuinely new files under a new checkpoint)
        passes untouched. The fence keys on the
        absolute file path: immutable-file discipline (never rewrite a
        landed file's content under its old name — the parquet-lake
        norm) is assumed, and the per-batch cost is one read of the
        file-name-sized sources table + one broadcast anti-join. The
        fence knows only about files drained while it was ON — a root
        with unfenced history re-pointed at its old files is still the
        documented double-apply; turn the fence on from the root's
        first drain."""
        token = os.path.abspath(checkpoint_dir)
        if fence_sources:
            self.tables.setdefault("sources", None)

        def stage(ptr: dict, epoch: int, batch_df: DataFrame) -> dict:
            if not fence_sources:
                return fold(ptr, epoch, batch_df)
            batch_df = batch_df.withColumn("__src_file", F.input_file_name())
            fenced = None
            applied = self.frames(spark, "sources", ptr, epoch - 1)
            if applied is not None:
                # persist the fenced frame: the anti-join (and its
                # broadcast of the committed source set) otherwise
                # re-executes for the isEmpty probe, the sources
                # write, AND every action the fold runs over the
                # batch (optimization r14) — batch-sized, dropped
                # in the finally below
                batch_df = fenced = batch_df.join(
                    F.broadcast(
                        applied.select(
                            F.col("src_file").alias("__src_file")
                        ).distinct()
                    ),
                    "__src_file",
                    "left_anti",
                ).persist()
            # the try starts at the persist: every exit path — the
            # isEmpty probe, the sources write, the fold — unpersists
            # the fenced frame, so an exception cannot leak the cache
            # for the life of the streaming session (ADVICE r14)
            try:
                if fenced is not None and batch_df.isEmpty():
                    # fully fenced: advance ONLY the replay cursor — no
                    # epoch dir (an all-empty live tail breaks schema
                    # inference), no head movement
                    return {}
                self.write_epoch(
                    batch_df.select(
                        F.col("__src_file").alias("src_file")
                    ).distinct(),
                    "sources",
                    epoch,
                )
                return fold(ptr, epoch, batch_df.drop("__src_file"))
            finally:
                if fenced is not None:
                    fenced.unpersist()

        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            if on_batch_start is not None:
                on_batch_start(epoch_id)
            ptr = self.pointer()
            last = ptr["last_batch_id"]
            if ptr.get("checkpoint_token") not in (None, token):
                last = None  # new checkpoint lineage: epoch ids restart
            if last is not None and epoch_id <= last:
                return  # replayed epoch: already committed
            epoch = self.next_epoch(ptr, epoch_id)
            self.commit(
                ptr,
                epoch,
                lambda: stage(ptr, epoch, batch_df),
                last_batch_id=epoch_id,
                checkpoint_token=token,
            )

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_path)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # -- retention --------------------------------------------------------
    def compact(
        self, spark: SparkSession, transform=None, extra=None, stage=None
    ) -> int:
        """Fold every committed epoch at or below the pointer into one
        compact dataset per table (``<table>_compact/upto=<head>``,
        staged then published by one pointer flip — readers only
        consult the upto the pointer names). Rows are REWRITTEN with
        epoch as an int data column unless ``transform(table, df,
        head)`` says otherwise (the PCA arm SUMS moments there; a
        ``None`` return skips the table entirely — the purge path's
        spent tombstones). ``extra`` merges into the flipped pointer
        (e.g. the purge floor). ``stage(head)``, when given, runs after
        the compact tables are written and before the flip — arm state
        that must publish WITH the compact (BM25's corpus-stats
        history, written beside the compact postings) — and returns
        more keys to merge. All tables move under the one shared
        ``compact_upto`` — compacting a subset would let the vacuum
        drop the rest's uncompacted rows. Returns epochs newly
        folded."""
        self._adopt_fence_table()
        ptr = self.pointer()
        head = ptr["max_epoch"]
        cu = int(ptr.get("compact_upto", 0) or 0)
        if head <= cu:
            return 0
        for table, part in self.tables.items():
            df = self.frames(spark, table, ptr, head)
            if df is None:
                continue  # e.g. a fresh root's pairs table
            # the fence's sources table is ledger bookkeeping, not arm
            # data — a plain rewrite is always right; arm transforms
            # (moment summing, tombstone purging) never see it
            if transform is not None and table != "sources":
                df = transform(table, df, head)
                if df is None:
                    continue
            writer = df.write.mode("overwrite")
            if part:
                writer = writer.partitionBy(part)
            writer.parquet(compact_path(self.root, table, head))
        staged = stage(head) if stage is not None else {}
        self.flip({**ptr, "compact_upto": head, **(extra or {}), **staged})
        return head - cu

    def vacuum(self) -> int:
        """See ``vacuum_ledger_dirs`` — compacted-away epoch dirs,
        superseded compacts, staged crash orphans; never the committed
        tail or the pointer-named compact."""
        self._adopt_fence_table()
        return vacuum_ledger_dirs(self.root, tuple(self.tables))
