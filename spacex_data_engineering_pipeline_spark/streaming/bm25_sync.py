"""Streaming-maintained BM25 inverted index — the retrieval-artifact
arm of the epoch-ledger family (streaming/ledger.py), in its own
module since round 13: term-bucketed postings (per-term document
frequency is derived from them at query time) + a model-sized
additive stats table, maintained by an INSERT-only arm
(``sync_bm25_index_stream``) and a CDC arm (``sync_bm25_cdc_stream``,
op ∈ I/U/D) whose updates and deletes are
SIGNED tombstone epochs derived from a doc-id-bucketed doc log —
readers fold sums and drop non-positive rows, so the synced ranking
is always exactly the batch scorer over the current corpus
(``bm25_topk_synced``, partition-pruned to the query terms' buckets).

Why an index and not a rescore: ``bm25_keyword_search`` (the batch
entry) re-tokenizes the corpus per query — fine for one query, wrong
for a serving path. At 100 TB the index is written once plus
O(batch) per epoch, and a 3-term query reads ≤ 3 of ``term_buckets``
bucket dirs per epoch (compaction keeps the bucket layout). The
reference keeps one durable artifact current per ingest batch
(reference src/database.py:133-223); this is that discipline applied
to the retrieval artifact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spacex_data_engineering_pipeline_spark.streaming.ledger import (
    EpochLedger,
    flip_pointer as _flip_pointer,
    id_bucket as _id_bucket,
    ledger_frames as _ledger_frames,
    read_index_pointer,
    resolve_as_of as _resolve_as_of,
)


def _bm25_ledger(root: str) -> EpochLedger:
    # no "df" table since optimization r15: per-term document frequency
    # is DERIVED at query time from the folded postings (postings hold
    # exactly one signed row per (doc, term) version, so live df = the
    # count of positive-sum rows per term — exact at every as-of
    # prefix). One less table to write per epoch, compact, and vacuum.
    return EpochLedger(
        root,
        {
            "postings": "__tbucket",
            "stats": None,
            "doclog": "__dbucket",
        },
    )



def _term_bucket(term_expr, n_buckets: int):
    """Term hash bucket for the BM25 ledger layout — queries name a
    handful of terms, so bucketing postings by term hash turns
    a query-time read into a partition-pruned fetch of ≤ |query terms|
    bucket dirs (the grams-ledger pattern, keyed on term not doc)."""
    return F.pmod(F.xxhash64(term_expr), F.lit(n_buckets)).cast("int")


def _bm25_epoch_tables(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
):
    """ONE tokenize pass over a document set → the BM25 ledger tables:
    postings (term, doc, tf, dl — per distinct (doc, term)) and stats
    (one row: n_docs, sum_dl). Per-term document frequency is NOT a
    stored table since optimization r15 — postings carry exactly one
    row per (doc, term), so df is derived at query time as a row count
    over the folded postings (the second explode + distinct shuffle of
    the token stream this used to pay per epoch is gone, and so is the
    df epoch write). Tokenization is the catalog's ``words()`` so the
    synced index ranks bit-identically to the batch scorer and its
    DuckDB oracle."""
    from spacex_data_engineering_pipeline_spark.functions.text import words

    docs = (
        df.select(F.col(id_col).alias("doc"), words(F.col(text_col)).alias("w"))
        .withColumn("dl", F.size("w"))
        .persist()
    )
    exploded = docs.select("doc", "dl", F.explode("w").alias("term"))
    postings = (
        exploded.groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        .withColumn("__tbucket", _term_bucket(F.col("term"), n_buckets))
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # coalesce: an all-delete CDC batch has ZERO new docs, and a
        # null sum would poison the additive stats fold
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )
    return postings, stats, docs


def _bm25_doclog_rows(docs: DataFrame, n_buckets: int) -> DataFrame:
    """Doc-log rows for one epoch's LIVE versions: (doc, w, dl),
    doc-id-bucketed — the state the CDC arm reads back (pruned to the
    batch's buckets) to derive exact tombstones for updated/deleted
    docs. Storage is ~1× the tokenized corpus: the price of an
    updatable inverted index, same tradeoff as the MinHash grams
    ledger.

    Null tokens normalize to the EMPTY list: ``words(NULL text)`` is
    null, but a null-w doclog row is the DELETE-MARKER shape — a
    null-text upsert must stay a live (termless) doc, so its later
    update/delete still finds an old version and nets the stats row
    out (dl coalesces to 0 to match: the stats sum skipped the null)."""
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
    the retrieval-artifact arm of the ledger family: postings saved
    term-bucket-partitioned as epoch 0 (query-time reads
    partition-prune to the query terms' buckets), plus a one-row
    per-epoch stats table (n_docs, sum_dl — exact integer sums,
    additive across epochs exactly as the PCA moments are, so global N
    and avgdl fold from model-sized state and
    the synced ranking is bit-identical to a from-scratch batch
    scorer), plus the doc-id-bucketed DOC LOG (doc, tokens, dl — the
    per-doc state ``sync_bm25_cdc_stream`` reads back, pruned to a
    batch's buckets, to derive exact subtractive tombstones for
    updated/deleted docs)."""
    os.makedirs(root, exist_ok=True)
    led = _bm25_ledger(root)
    postings, stats, docs = _bm25_epoch_tables(
        corpus, id_col, text_col, term_buckets
    )
    led.write_epoch(postings, "postings", 0)
    led.write_epoch(stats, "stats", 0)
    led.write_epoch(_bm25_doclog_rows(docs, doc_buckets), "doclog", 0)
    docs.unpersist()
    _flip_pointer(
        root,
        {
            "max_epoch": 0,
            "last_batch_id": None,
            "id_col": id_col,
            "text_col": text_col,
            "term_buckets": term_buckets,
            "doc_buckets": doc_buckets,
        },
    )


def sync_bm25_index_stream(
    spark: SparkSession,
    source_path: str,
    schema,
    root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    on_batch_start=None,
    fence_sources: bool = False,
) -> None:
    """Drain ``source_path`` (parquet file stream of (id, text) docs)
    with AvailableNow: per micro-batch, ONE tokenize pass reduces the
    batch to its postings / dfreq / stats epoch tables (document sets
    are disjoint across epochs, so df and the stats sums are additive
    — no read-modify-write of existing index state, the committed
    100 TB of postings is never touched), staged overwrite-idempotently
    and published by one pointer flip. INSERT-only (a re-ingested doc
    id would double-count df and tf — updates and deletes are
    ``sync_bm25_cdc_stream``'s signed-tombstone job). Maintains the
    doc log alongside, so a root fed by this arm can switch to the CDC
    arm later. Same exactly-once ledger and checkpoint-wipe hazard as
    the other syncs."""

    led = _bm25_ledger(root)

    def fold(ptr: dict, epoch: int, batch_df: DataFrame) -> dict:
        postings, stats, docs = _bm25_epoch_tables(
            batch_df, ptr["id_col"], ptr["text_col"], ptr["term_buckets"]
        )
        led.write_epoch(postings, "postings", epoch)
        led.write_epoch(stats, "stats", epoch)
        if "doc_buckets" in ptr:  # legacy roots have no doc log
            led.write_epoch(
                _bm25_doclog_rows(docs, ptr["doc_buckets"]), "doclog", epoch
            )
        docs.unpersist()
        return {"max_epoch": epoch}

    led.drain(
        spark, source_path, schema, checkpoint_dir, fold,
        max_files_per_trigger, on_batch_start, fence_sources=fence_sources,
    )


def _bm25_old_versions(
    spark: SparkSession,
    led: EpochLedger,
    ptr: dict,
    batch_ids: DataFrame,
    buckets: list[int] | None = None,
) -> DataFrame | None:
    """The LIVE committed version of each batch doc id, from the doc
    log: one bounded driver collect of the batch ids' distinct doc
    buckets (≤ ``doc_buckets`` ints — the repo's bounded-probe
    convention; the CDC fold passes them precomputed from its guard
    agg, saving the extra per-batch job), a partition-pruned read of
    only those bucket dirs, a
    BROADCAST semi-join down to the batch's ids BEFORE any shuffle
    (the pruned dirs still hold corpus/``doc_buckets`` rows at 100 TB
    — scan-bounded is fine, but windowing them would shuffle
    corpus-sized data; after the semi the latest-per-doc window runs
    over a batch-sized set), then latest per doc by epoch. Docs whose
    latest entry is a delete marker (null tokens) are ABSENT — an
    update after a delete is an insert, no tombstone."""
    nb = ptr["doc_buckets"]
    log = led.frames(spark, "doclog", ptr, ptr["max_epoch"])
    if log is None:
        return None
    if buckets is None:
        buckets = sorted(
            r["b"]
            for r in batch_ids.select(
                _id_bucket(F.col("doc"), nb).alias("b")
            )
            .distinct()
            .collect()
        )
    else:
        buckets = sorted(set(buckets))
    w = Window.partitionBy("doc").orderBy(F.col("epoch").desc())
    return (
        log.filter(F.col("__dbucket").isin(buckets))
        .join(F.broadcast(batch_ids), "doc", "semi")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__dbucket", "epoch")
        .filter(F.col("w").isNotNull())
    )


def sync_bm25_cdc_stream(
    spark: SparkSession,
    source_path: str,
    schema,
    root: str,
    checkpoint_dir: str,
    op_col: str = "op",
    max_files_per_trigger: int = 1,
    on_batch_start=None,
) -> None:
    """Drain a CDC stream of (id, text, op) rows — op ∈ {I, U, D}, the
    ``apply_cdc_log`` shape (operators/scd.py; I and U are both
    upserts) — into the BM25 index: the DELETE/UPDATE arm the
    INSERT-only ``sync_bm25_index_stream`` names as its own seam ("a
    re-ingested doc id would double-count df and tf; document updates
    need a delete epoch").

    Per micro-batch, the fold is SIGNED — the additive-moments
    discipline with a sign bit:

    1. fetch the live old version of each batch id from the doc log
       (partition-pruned to the batch's doc buckets — the committed
       100 TB of postings is never read);
    2. derive exact NEGATIVE rows from those old token lists: postings
       (-tf, -dl) per (doc, term), stats (−n, −Σdl);
    3. tokenize the batch's non-delete rows once into the usual
       POSITIVE tables (``_bm25_epoch_tables``);
    4. write one epoch per table carrying positive ∪ negative rows,
       plus the doc log's new state (new token lists; null-token
       DELETE markers), published by the one pointer flip.

    Readers fold per-(doc,term) tf/dl as SUMS, drop non-positive rows
    and count the survivors per term as df (``bm25_topk_synced``), so
    an updated doc re-ranks with its new text, a deleted doc vanishes,
    N/avgdl stay exact integers, and a re-insert after a delete is a
    plain insert.
    As-of time travel keeps working — the signed rows at epochs ≤ k
    reconstruct exactly the state after batch k.

    Contracts: at most ONE row per doc id per micro-batch, ENFORCED —
    the fold refuses a batch whose row count exceeds its distinct doc
    count (two versions of a doc in one batch have no defined order
    and would negate the old version once while writing both new
    versions' positive rows; collapse upstream with
    ``latest_update_per_key``); deleting an absent id is
    a no-op; updating an absent id is an insert. The root must carry a
    doc log (``init_bm25_root`` writes it; pre-doclog roots are
    refused). Same exactly-once ledger + checkpoint-wipe hazard as the
    other arms; crash-restart is pytest-pinned."""
    led = _bm25_ledger(root)

    def fold(ptr: dict, epoch: int, batch_df: DataFrame) -> dict:
        if "doc_buckets" not in ptr:
            raise ValueError(
                "this BM25 root predates the doc log — the CDC arm "
                "needs per-doc state to derive tombstones; rebuild the "
                "root with init_bm25_root (which writes doclog epoch 0)"
            )
        id_col, text_col = ptr["id_col"], ptr["text_col"]
        tb = ptr["term_buckets"]
        ops = batch_df.select(
            F.col(id_col).alias("doc"),
            F.col(text_col).alias("__text"),
            F.upper(F.col(op_col).cast("string")).substr(1, 1).alias("__op"),
        ).persist()
        # ENFORCE the at-most-one-row-per-doc-per-batch contract (the
        # max_affected refusal discipline): two versions of a doc in
        # one batch would negate the old version once but write
        # positive rows for both, silently inflating N/df/tf forever.
        # One batch-sized agg job — cheap next to the fold itself.
        card = ops.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc").alias("d"),
            # the batch ids' doc buckets ride in the SAME agg (≤
            # doc_buckets ints) so the old-version fetch below skips
            # its own distinct+collect job (optimization r14)
            F.collect_set(
                _id_bucket(F.col("doc"), ptr["doc_buckets"])
            ).alias("bks"),
        ).first()
        if int(card["n"]) != int(card["d"]):
            raise ValueError(
                f"CDC batch carries {int(card['n'])} rows over "
                f"{int(card['d'])} distinct doc ids — at most ONE row "
                "per doc per micro-batch (two versions have no defined "
                "order and would double-count df/tf); collapse "
                "upstream with latest_update_per_key"
            )
        old = _bm25_old_versions(
            spark, led, ptr, ops.select("doc").distinct(),
            buckets=list(card["bks"] or []),
        )
        # positive tables from the batch's upserted (non-delete) rows
        postings, stats, docs = _bm25_epoch_tables(
            ops.filter(F.col("__op") != "D").select(
                F.col("doc").alias(id_col), F.col("__text").alias(text_col)
            ),
            id_col,
            text_col,
            tb,
        )
        if old is not None:
            old = old.persist()
            oldx = old.select("doc", "dl", F.explode("w").alias("term"))
            postings = postings.unionByName(
                oldx.groupBy("doc", "term")
                .agg(
                    (-F.count(F.lit(1))).alias("tf"),
                    (-F.max("dl")).alias("dl"),
                )
                .withColumn("__tbucket", _term_bucket(F.col("term"), tb))
            )
            stats = stats.unionByName(
                old.agg(
                    (-F.count(F.lit(1))).alias("n_docs"),
                    (-F.coalesce(F.sum("dl"), F.lit(0)))
                    .cast("long")
                    .alias("sum_dl"),
                )
            )
        led.write_epoch(postings, "postings", epoch)
        led.write_epoch(stats, "stats", epoch)
        # doc log: new live versions + null-token delete markers
        led.write_epoch(
            _bm25_doclog_rows(docs, ptr["doc_buckets"]).unionByName(
                ops.filter(F.col("__op") == "D").select(
                    "doc",
                    F.lit(None).cast("array<string>").alias("w"),
                    F.lit(None).cast("int").alias("dl"),
                    _id_bucket(F.col("doc"), ptr["doc_buckets"]).alias(
                        "__dbucket"
                    ),
                )
            ),
            "doclog",
            epoch,
        )
        docs.unpersist()
        if old is not None:
            old.unpersist()
        ops.unpersist()
        return {"max_epoch": epoch}

    led.drain(
        spark, source_path, schema, checkpoint_dir, fold,
        max_files_per_trigger, on_batch_start,
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
    """Query the synced BM25 index: fold the model-sized stats ledger
    into exact global (N, avgdl), read ONLY the query terms' bucket
    partitions of the postings ledger (partition-pruned at file
    listing — at 100 TB a 3-term query fetches ≤ 3 of
    ``term_buckets`` dirs per epoch), fold signed tf/dl across epochs,
    derive per-term df as the count of surviving (doc, term) rows,
    and score with Lucene's nonnegative-idf BM25 — the identical
    expression text as the batch scorer, with N and avgdl inlined as
    the same exact doubles, so the synced ranking replays the batch
    oracle bit-for-bit. ``as_of_epoch`` time-travels the whole
    ranking (stats and postings epoch-filtered together)."""
    ptr = read_index_pointer(root)
    epoch = _resolve_as_of(ptr, "max_epoch", as_of_epoch)
    nb = ptr["term_buckets"]
    st = (
        _ledger_frames(spark, root, "stats", ptr, epoch)
        .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
        .first()
    )
    if not int(st["n"]):
        # a CDC drain that deleted every document is a VALID committed
        # state — the empty ranking, not a ZeroDivision in avgdl
        from pyspark.sql.types import (
            DoubleType,
            StructField,
            StructType,
        )

        id_type = (
            _ledger_frames(spark, root, "postings", ptr, epoch)
            .schema["doc"].dataType
        )
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("doc_id", id_type),
                    StructField("score", DoubleType()),
                ]
            ),
        )
    n_docs = float(st["n"])
    avgdl = float(int(st["s"]) / int(st["n"]))
    buckets = sorted(
        {
            r["b"]
            for r in spark.createDataFrame(
                [(t,) for t in terms], "term string"
            )
            .select(_term_bucket(F.col("term"), nb).alias("b"))
            .collect()
        }
    )
    # SIGNED fold (the CDC arm writes subtractive tombstone rows): per
    # (doc, term) tf/dl are sums over the as-of epochs, non-positive
    # results dropped — an updated doc nets to its newest version, a
    # deleted one to nothing. Insert-only ledgers hit the same path
    # with single-row groups (query-term-sized shuffle). Per-term df is
    # DERIVED from the folded postings (optimization r15): postings
    # hold one signed row per (doc, term) version, so the live document
    # frequency is exactly the count of surviving rows per term — no
    # stored df table, one less ledger read per query, and the
    # identical subtree lets Spark reuse the folded-postings exchange.
    posts = (
        _ledger_frames(spark, root, "postings", ptr, epoch)
        .filter(F.col("__tbucket").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
        .groupBy("doc", "term")
        .agg(F.sum("tf").alias("tf"), F.sum("dl").alias("dl"))
        .filter(F.col("tf") > 0)
    )
    dfreq = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
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
    results, sums stats to one row, and keeps only the LATEST doc-log
    version per doc (delete markers vanish). The compacted postings
    then hold one row per live (doc, term) in the term-bucket layout,
    and the CDC arm keeps working against the netted doc log (one live
    version per doc is exactly what ``_bm25_old_versions`` needs)."""
    if table == "postings":
        return (
            df.groupBy("doc", "term", "__tbucket")
            .agg(F.sum("tf").alias("tf"), F.sum("dl").alias("dl"))
            .filter(F.col("tf") > 0)
            .withColumn("epoch", F.lit(head).cast("int"))
        )
    if table == "stats":
        return df.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        ).withColumn("epoch", F.lit(head).cast("int"))
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
