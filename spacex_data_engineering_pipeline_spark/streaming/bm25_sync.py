"""Streaming-maintained BM25 inverted index — the retrieval-artifact
root kind of the epoch-ledger family (streaming/ledger.py), in its own
module since round 13: term-bucketed postings (per-term document
frequency is derived from them at query time) + a doc-id-bucketed doc
log, with the corpus totals (n_docs, sum_dl) riding the pointer
itself: ``corpus_stats`` is an ascending list of cumulative ``[epoch,
n_docs, sum_dl]`` entries, one per committed epoch, flipped atomically
with that epoch's tables (a compaction moves the entries it folds into
a history file beside the compact postings, so the pointer holds one
entry per live-tail epoch). Its ONE fold (``_bm25_fold``, run by
``index_sync.sync_root`` and ``index_sync.delete_ids``) appends
inserts additively and turns updates and deletes into SIGNED tombstone
rows derived from the doc log — readers fold sums and drop
non-positive rows, so the synced ranking is always exactly the batch
scorer over the current corpus (``bm25_topk_synced``,
partition-pruned to the query terms' buckets).

Why an index and not a rescore: ``bm25_keyword_search`` (the batch
entry) re-tokenizes the corpus per query — fine for one query, wrong
for a serving path. At 100 TB the index is written once plus
O(batch) per epoch, and a 3-term query reads ≤ 3 of ``term_buckets``
bucket dirs per epoch (compaction keeps the bucket layout). The query
plan needs no Spark job before the caller collects: N and avgdl come
from the pointer, the term-bucket filter is ``_term_bucket`` over
literals (constant-folded into the partition filter, so it prunes at
file listing without a job), and the postings are read with a known
schema (no inference job). The reference keeps one durable
artifact current per ingest batch, its state committed in the same
transaction as the rows (reference src/database.py:133-223); this is
that discipline applied to the retrieval artifact.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spacex_data_engineering_pipeline_spark.functions.text import words
from spacex_data_engineering_pipeline_spark.streaming.ledger import (
    EpochLedger,
    compact_path,
    id_bucket as _id_bucket,
    ledger_frames as _ledger_frames,
    read_root_pointer,
    resolve_as_of as _resolve_as_of,
    stamp_root as _stamp_root,
)


def _bm25_ledger(root: str) -> EpochLedger:
    # no "df" table since optimization r15 (per-term document frequency
    # is DERIVED at query time from the folded postings: they hold
    # exactly one signed row per (doc, term) version, so live df = the
    # count of positive-sum rows per term) and no stats table since
    # the corpus totals moved into the pointer (``corpus_stats``)
    return EpochLedger(root, {"postings": "__tbucket", "doclog": "__dbucket"})


def _postings_schema(id_type: str) -> str:
    # dl is bigint: live epochs write it as int, the netted compact
    # (``_bm25_net``) as sum(dl); the parquet reader widens int to bigint
    return (
        f"doc {id_type}, term string, tf bigint, dl bigint, epoch int, "
        "__tbucket int"
    )


def _doclog_schema(id_type: str) -> str:
    return f"doc {id_type}, w array<string>, dl int, __dbucket int, epoch int"


def _stats_history_path(root: str, upto: int) -> str:
    # beside the compact postings: Spark's file listing skips
    # "_"-prefixed names, and the vacuum drops it with its compact
    return os.path.join(
        compact_path(root, "postings", upto), "_corpus_stats.json"
    )


def _corpus_stats_at(root: str, ptr: dict, epoch: int) -> tuple[int, int]:
    """(n_docs, sum_dl) of the committed corpus as of ``epoch``: the
    last ``corpus_stats`` entry at or below it — from the pointer, or,
    for an epoch a compaction folded (below the pointer's first entry),
    from the history file beside the compact postings."""
    entries = ptr["corpus_stats"]
    if epoch < entries[0][0]:
        with open(_stats_history_path(root, int(ptr["compact_upto"]))) as f:
            entries = json.load(f)
    n = s = 0
    for e, n_e, s_e in entries:
        if e > epoch:
            break
        n, s = n_e, s_e
    return n, s


def _bm25_stats_compact(root: str, ptr: dict, purge: bool):
    """The ``corpus_stats`` half of a BM25 ``compact_root``, as the
    ``stage`` callback of ``EpochLedger.compact``: every epoch at or
    below the head is being folded, so the flipped pointer keeps only
    the head's entry and its size tracks the live tail, not the
    stream's length. A plain compaction first writes every folded
    entry (the previous history file's, then the pointer's) to a
    history file beside the new compact postings, staged before the
    flip like the compact itself, so as-of reads below
    ``compact_upto`` keep their exact totals; rewriting it is O(epochs)
    per compaction, the order of the compact postings rewritten
    beside it. A purge writes none: states below its floor are
    refused."""
    entries = ptr["corpus_stats"]

    def stage(head: int) -> dict:
        if not purge:
            floor = int(ptr.get("purge_floor", 0) or 0)
            hist = []
            # the pointer's first entry is the previous compaction's
            # head; epochs above the floor but below it are in the file
            if entries[0][0] > floor:
                cu = int(ptr["compact_upto"])
                with open(_stats_history_path(root, cu)) as f:
                    hist = json.load(f)[:-1]
            with open(_stats_history_path(root, head), "w") as f:
                json.dump(hist + entries, f)
                f.flush()
                os.fsync(f.fileno())
        return {"corpus_stats": entries[-1:]}

    return stage


def _doc_len(text_col):
    """A document's BM25 length — its token count. The ONE definition
    both the postings' ``dl`` and the corpus totals' ``sum_dl`` use, so
    avgdl can't drift from the postings."""
    return F.size(words(text_col))


def _totals(docs: DataFrame) -> tuple[int, int]:
    """(n_docs, sum_dl) of a tokenized doc frame — one agg job."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).first()
    # no rows (or only null-text ones): a null sum counts as 0
    return int(row["n"]), int(row["s"] or 0)


def _term_bucket(term_expr, n_buckets: int):
    """Term hash bucket for the BM25 ledger layout — queries name a
    handful of terms, so bucketing postings by term hash turns
    a query-time read into a partition-pruned fetch of ≤ |query terms|
    bucket dirs (the grams-ledger pattern, keyed on term not doc).
    Over a literal it constant-folds, so a query's bucket filter is
    a plain partition filter and costs no Spark job."""
    return F.pmod(F.xxhash64(term_expr), F.lit(n_buckets)).cast("int")


def _bm25_epoch_tables(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
):
    """ONE tokenize pass over a document set → the BM25 postings
    (term, doc, tf, dl — per distinct (doc, term)) and the persisted
    tokenized docs (doc, w, dl) the doc log and the corpus totals are
    taken from (the caller unpersists them). Per-term document
    frequency is NOT a stored table since optimization r15 — postings
    carry exactly one row per (doc, term), so df is derived at query
    time as a row count over the folded postings. Tokenization is the
    catalog's ``words()`` so the synced index ranks bit-identically to
    the batch scorer and its DuckDB oracle."""
    text = F.col(text_col)
    docs = df.select(
        F.col(id_col).alias("doc"),
        words(text).alias("w"),
        _doc_len(text).alias("dl"),
    ).persist()
    exploded = docs.select("doc", "dl", F.explode("w").alias("term"))
    postings = (
        exploded.groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        .withColumn("__tbucket", _term_bucket(F.col("term"), n_buckets))
    )
    return postings, docs


def _bm25_doclog_rows(docs: DataFrame, n_buckets: int) -> DataFrame:
    """Doc-log rows for one epoch's LIVE versions: (doc, w, dl),
    doc-id-bucketed — the state a CDC fold reads back (pruned to the
    batch's buckets) to derive exact tombstones for updated/deleted
    docs. Storage is ~1× the tokenized corpus: the price of an
    updatable inverted index, same tradeoff as the MinHash grams
    ledger.

    Null tokens normalize to the EMPTY list: ``words(NULL text)`` is
    null, but a null-w doclog row is the DELETE-MARKER shape — a
    null-text upsert must stay a live (termless) doc, so its later
    update/delete still finds an old version and nets it out of
    n_docs (dl coalesces to 0 to match: sum_dl skipped the null)."""
    return docs.select(
        "doc",
        F.coalesce(F.col("w"), F.array().cast("array<string>")).alias("w"),
        F.coalesce(F.col("dl"), F.lit(0)).alias("dl"),
    ).withColumn("__dbucket", _id_bucket(F.col("doc"), n_buckets))


def init_bm25_root(
    corpus: DataFrame,
    root: str,
    id_col: str,
    text_col: str,
    term_buckets: int = 16,
    doc_buckets: int = 16,
) -> None:
    """One-time base for a STREAMING-MAINTAINED BM25 inverted index —
    the retrieval-artifact kind of the ledger family: postings saved
    term-bucket-partitioned as epoch 0 (query-time reads
    partition-prune to the query terms' buckets), plus the
    doc-id-bucketed DOC LOG (doc, tokens, dl — the per-doc state a CDC
    fold (``_bm25_fold``) reads back, pruned to a batch's buckets, to
    derive exact subtractive tombstones for updated/deleted docs). The
    pointer carries the rest: ``corpus_stats`` starts as ``[[0, n_docs,
    sum_dl]]`` (exact integer totals, cumulative per epoch, so global N
    and avgdl are known without a Spark job and the synced ranking is
    bit-identical to a from-scratch batch scorer) and the format
    stamp's ``id_type`` records the doc ids' Spark type, from which
    readers build the ledger tables' schemas instead of inferring
    them."""
    os.makedirs(root, exist_ok=True)
    led = _bm25_ledger(root)
    postings, docs = _bm25_epoch_tables(corpus, id_col, text_col, term_buckets)
    led.write_epoch(postings, "postings", 0)
    led.write_epoch(_bm25_doclog_rows(docs, doc_buckets), "doclog", 0)
    n, s = _totals(docs)
    docs.unpersist()
    _stamp_root(
        root, "bm25", corpus, id_col, max_epoch=0, text_col=text_col,
        term_buckets=term_buckets, doc_buckets=doc_buckets,
        corpus_stats=[[0, n, s]],
    )


def _bm25_old_versions(
    spark: SparkSession,
    led: EpochLedger,
    ptr: dict,
    batch_ids: DataFrame,
    buckets: list[int],
) -> DataFrame | None:
    """The LIVE committed version of each batch doc id, from the doc
    log: a partition-pruned read (recorded schema, no inference job)
    of only the batch ids' doc-bucket dirs (``buckets`` — the fold
    collects them in its guard agg), a BROADCAST semi-join down to the
    batch's ids BEFORE any shuffle (the pruned dirs still hold
    corpus/``doc_buckets`` rows at 100 TB — scan-bounded is fine, but
    windowing them would shuffle corpus-sized data; after the semi the
    latest-per-doc window runs over a batch-sized set), then latest per
    doc by epoch. Docs whose latest entry is a delete marker (null
    tokens) are ABSENT — an update after a delete is an insert, no
    tombstone."""
    log = led.frames(
        spark, "doclog", ptr, ptr["max_epoch"],
        schema=_doclog_schema(ptr["id_type"]),
    )
    if log is None:
        return None
    w = Window.partitionBy("doc").orderBy(F.col("epoch").desc())
    return (
        log.filter(F.col("__dbucket").isin(sorted(set(buckets))))
        .join(F.broadcast(batch_ids), "doc", "semi")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__dbucket", "epoch")
        .filter(F.col("w").isNotNull())
    )


def _bm25_fold(spark: SparkSession, led: EpochLedger, op_col: str | None):
    """The BM25 root's fold (``index_sync.sync_root`` / ``delete_ids``
    dispatch here). One tokenize pass reduces the batch's live rows to
    the POSITIVE postings epoch table plus the doc log's new versions,
    and the epoch's cumulative corpus totals go into the pointer
    advance (``corpus_stats``), committed by the same flip. An
    insert-only stream (``op_col=None``) stops there: document sets
    are disjoint across epochs, so the totals and the derived df are
    additive and no committed state is read — the batch's totals cost
    one agg over the persisted tokenized docs.

    A CDC stream (op ∈ I/U/D, the ``apply_cdc_log`` shape — I and U
    are both upserts) is SIGNED, the additive-moments discipline with a
    sign bit:

    1. fetch the live old version of each batch id from the doc log
       (``_bm25_old_versions`` — partition-pruned to the batch's doc
       buckets; the committed postings are never read);
    2. derive exact NEGATIVE rows from those old token lists: postings
       (-tf, -dl) per (doc, term), and subtract their (n, Σdl) — one
       agg over the persisted old versions — from the totals; the
       positive totals ride the guard agg;
    3. write one epoch per table carrying positive ∪ negative rows,
       plus the doc log's new state (new token lists; null-token
       DELETE markers).

    Readers fold per-(doc,term) tf/dl as SUMS, drop non-positive rows
    and count the survivors per term as df (``bm25_topk_synced``), so
    an updated doc re-ranks with its new text, a deleted doc vanishes,
    N/avgdl stay exact integers, a re-insert after a delete is a plain
    insert, and as-of reads at epoch k reconstruct exactly the state
    after batch k. At most ONE row per doc id per batch, ENFORCED (two
    versions would negate the old version once but write positive rows
    for both, inflating N/df/tf forever); deleting an absent id is a
    no-op, updating one an insert."""

    def fold(ptr: dict, epoch: int, batch_df: DataFrame) -> dict:
        id_col, text_col = ptr["id_col"], ptr["text_col"]
        tb, nb = ptr["term_buckets"], ptr["doc_buckets"]
        ops = old = None
        if op_col is None:
            postings, docs = _bm25_epoch_tables(batch_df, id_col, text_col, tb)
            n, s = _totals(docs)
        else:
            ops = batch_df.select(
                F.col(id_col).alias("doc"),
                F.col(text_col).alias("__text"),
                F.upper(F.col(op_col).cast("string")).substr(1, 1).alias("__op"),
            ).persist()
            upsert = F.col("__op") != "D"
            # the guard: one batch-sized agg job
            card = ops.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("doc").alias("d"),
                # the batch ids' doc buckets ride in the SAME agg (≤
                # doc_buckets ints) so the old-version fetch below skips
                # its own distinct+collect job (optimization r14), and
                # so do the upserts' corpus totals
                F.collect_set(_id_bucket(F.col("doc"), nb)).alias("bks"),
                F.count(F.when(upsert, F.lit(1))).alias("n_up"),
                F.sum(F.when(upsert, _doc_len(F.col("__text")))).alias("s_up"),
            ).first()
            if int(card["n"]) != int(card["d"]):
                ops.unpersist()
                raise ValueError(
                    f"CDC batch carries {int(card['n'])} rows over "
                    f"{int(card['d'])} distinct doc ids — at most ONE row "
                    "per doc per micro-batch (two versions have no defined "
                    "order and would double-count df/tf); collapse "
                    "upstream with latest_update_per_key"
                )
            n, s = int(card["n_up"]), int(card["s_up"] or 0)
            # n == d: the ids are already distinct and non-null
            old = _bm25_old_versions(
                spark, led, ptr, ops.select("doc"), list(card["bks"] or [])
            )
            # positive tables from the batch's upserted (non-delete) rows
            postings, docs = _bm25_epoch_tables(
                ops.filter(upsert).select(
                    F.col("doc").alias(id_col), F.col("__text").alias(text_col)
                ),
                id_col,
                text_col,
                tb,
            )
            if old is not None:
                old = old.persist()
                n_old, s_old = _totals(old)
                n, s = n - n_old, s - s_old
                oldx = old.select("doc", "dl", F.explode("w").alias("term"))
                postings = postings.unionByName(
                    oldx.groupBy("doc", "term")
                    .agg(
                        (-F.count(F.lit(1))).alias("tf"),
                        (-F.max("dl")).alias("dl"),
                    )
                    .withColumn("__tbucket", _term_bucket(F.col("term"), tb))
                )
        led.write_epoch(postings, "postings", epoch)
        doclog = _bm25_doclog_rows(docs, nb)
        if ops is not None:
            # null-token delete markers
            doclog = doclog.unionByName(
                ops.filter(F.col("__op") == "D").select(
                    "doc",
                    F.lit(None).cast("array<string>").alias("w"),
                    F.lit(None).cast("int").alias("dl"),
                    _id_bucket(F.col("doc"), nb).alias("__dbucket"),
                )
            )
        led.write_epoch(doclog, "doclog", epoch)
        docs.unpersist()
        if old is not None:
            old.unpersist()
        if ops is not None:
            ops.unpersist()
        _, n0, s0 = ptr["corpus_stats"][-1]
        return {
            "max_epoch": epoch,
            "corpus_stats": ptr["corpus_stats"] + [[epoch, n0 + n, s0 + s]],
        }

    return fold


def sync_bm25_cdc_stream(
    spark: SparkSession,
    source_path: str,
    schema,
    root: str,
    checkpoint_dir: str,
    on_batch_start=None,
) -> None:
    """``index_sync.sync_root(..., op_col="op")`` on a BM25 root, kept
    under this name for the benchmark harness that calls and traces
    it."""
    # imported here: index_sync imports this module at load time
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    index_sync.sync_root(
        spark, source_path, schema, root, checkpoint_dir,
        op_col="op", on_batch_start=on_batch_start,
    )


def bm25_topk_synced(
    spark: SparkSession,
    root: str,
    terms: tuple[str, ...],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Query the synced BM25 index as ONE lazy Spark plan — building
    it submits no Spark job: exact global (N, avgdl) come from the
    pointer's ``corpus_stats`` entry for the as-of epoch, the query
    terms' bucket filter constant-folds into a partition filter, and
    the postings are read with the recorded schema. The plan reads
    ONLY those bucket partitions of the postings ledger
    (partition-pruned at file listing — at 100 TB a 3-term query
    fetches ≤ 3 of ``term_buckets`` dirs per epoch), folds signed
    tf/dl across epochs, derives per-term df as the count of surviving
    (doc, term) rows from the same folded exchange, and scores with
    Lucene's nonnegative-idf BM25 — the identical expression text as
    the batch scorer, with N and avgdl inlined as the same exact
    doubles, so the synced ranking replays the batch oracle
    bit-for-bit. ``as_of_epoch`` time-travels
    the whole ranking (totals and postings resolved together)."""
    ptr = read_root_pointer(root)
    epoch = _resolve_as_of(ptr, "max_epoch", as_of_epoch)
    id_type = ptr["id_type"]
    n, s = _corpus_stats_at(root, ptr, epoch)
    if not n:
        # a CDC drain that deleted every document is a VALID committed
        # state — the empty ranking, not a ZeroDivision in avgdl
        return spark.createDataFrame([], f"doc_id {id_type}, score double")
    n_docs = float(n)
    avgdl = float(s / n)
    tb = ptr["term_buckets"]
    # SIGNED fold (CDC batches write subtractive tombstone rows): per
    # (doc, term) tf/dl are sums over the as-of epochs, non-positive
    # results dropped — an updated doc nets to its newest version, a
    # deleted one to nothing. Insert-only ledgers hit the same path
    # with single-row groups (query-term-sized shuffle). Per-term df is
    # DERIVED from the folded postings (optimization r15): postings
    # hold one signed row per (doc, term) version, so the live document
    # frequency is exactly the count of surviving rows per term — no
    # stored df table, one less ledger read per query.
    posts = (
        _ledger_frames(
            spark, root, "postings", ptr, epoch,
            schema=_postings_schema(id_type),
        )
        .filter(
            F.col("__tbucket").isin(*[_term_bucket(F.lit(t), tb) for t in terms])
        )
        .filter(F.col("term").isin(list(terms)))
        .groupBy("doc", "term")
        .agg(F.sum("tf").alias("tf"), F.sum("dl").alias("dl"))
        .filter(F.col("tf") > 0)
    )
    # count("dl"), not count(1): a posting's dl is never null, and
    # naming it keeps sum(dl) in this branch's partial aggregate, so
    # both branches' folded-postings exchanges are identical and Spark
    # reuses one (one postings scan, one job fewer per query)
    dfreq = posts.groupBy("term").agg(F.count("dl").alias("df"))
    # DataFrame-API scorer, NOT session-global temp views: two
    # concurrent synced queries (different roots / as-of points) must
    # not clobber each other's lazy plans. Operation order replicates
    # the batch scorer's SQL text exactly (left-assoc, same literals),
    # so the ranking stays bit-identical to the batch oracle.
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    idf = F.log(
        (F.lit(n_docs) - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)) + F.lit(1.0)
    )
    term_score = (
        idf
        * (tfd * F.lit(k1 + 1.0))
        / (tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dld / F.lit(avgdl)))
    )
    return (
        posts.join(dfreq, "term")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.round(F.sum(term_score), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(int(k))
    )


def _bm25_net(table: str, df: DataFrame, head: int) -> DataFrame:
    """The BM25 ``compact_root(..., purge_deleted=True)`` transform —
    NETTING, the churn-retention dial the signed-ledger design
    otherwise lacks: a verbatim compact keeps 2k−1 posting rows and k
    doc-log versions for a doc updated k times (index size tracks
    write HISTORY). Netting materializes the fold every reader already
    computes — per-(doc, term) tf/dl summed across all epochs equal the
    LIVE corpus's values by the signed-epoch invariant (each negative
    row subtracts a value an earlier epoch added) — drops non-positive
    results, and keeps only the LATEST doc-log version per doc (delete
    markers vanish); the pointer's ``corpus_stats`` keep only the
    head's entry (``_bm25_stats_compact``). The
    compacted postings then hold one row per live (doc, term) in the
    term-bucket layout, and CDC batches keep working against the
    netted doc log (one live version per doc is exactly what
    ``_bm25_old_versions`` needs)."""
    if table == "postings":
        return (
            df.groupBy("doc", "term", "__tbucket")
            .agg(F.sum("tf").alias("tf"), F.sum("dl").alias("dl"))
            .filter(F.col("tf") > 0)
            .withColumn("epoch", F.lit(head).cast("int"))
        )
    if table == "doclog":
        w = Window.partitionBy("doc").orderBy(F.col("epoch").desc())
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .filter(F.col("w").isNotNull())  # spent delete markers
            .select("doc", "w", "dl", "__dbucket")
            .withColumn("epoch", F.lit(head).cast("int"))
        )
    return df
