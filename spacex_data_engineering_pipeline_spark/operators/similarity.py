"""Similarity search over embedding columns (SURVEY §2.11).

- ``cosine_scores`` / ``brute_force_topk`` — exact cosine against one
  query vector: a single narrow map stage (no shuffle), the correctness
  baseline and perfectly adequate when queries are few.
- ``rp_lsh_buckets`` / ``ann_topk`` — random-hyperplane LSH: vectors
  bucketed by sign pattern; search touches only the query's bucket
  (plus optional multi-probe neighbors). The 100 TB path: bucketing is
  a narrow map + one equi-join instead of an all-pairs scan.

Hyperplanes come from a seeded generator so results are deterministic.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.functions.vectors import cosine, cosine_arrow, dot
from spacex_data_engineering_pipeline_spark.operators.util import release_caches_with


def grouped_allpairs_cosine(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    vec_col: str,
    min_cosine: float,
    margin: float = 1e-6,
) -> DataFrame:
    """All-pairs cosine WITHIN each group, emitting only pairs whose
    raw cosine clears ``min_cosine - margin`` — the verify stage for
    any blocked candidate scheme (LSH buckets, k-means clusters).

    Why not a self-join: joining the group table to itself
    materializes every candidate pair carrying BOTH vectors — at
    sf1.0 that was 3.4M rows × two 64-dim arrays ≈ 3.5 GB through
    the shuffle and the Arrow boundary, 40+ s of pure data movement.
    Here the shuffle moves each ROW once (groupBy the block key), and
    the pair enumeration happens inside an ``applyInPandas`` group as
    numpy C loops; only survivors (near-dup pairs are rare by
    definition) ever become rows again.

    Exactness: dot products and norms use ``np.cumsum`` — the strict
    left-to-right summation, bit-identical to the zip_with/aggregate
    fold and DuckDB's list_dot_product — and the returned ``cos_raw``
    is UNROUNDED; callers apply the engine's own ``F.round`` + the
    exact threshold, so ``margin`` only admits a few extra pairs for
    the exact filter to drop (it can never lose one: any pair whose
    rounded cosine ≥ t has raw ≥ t − 0.5·10⁻⁶ > t − margin).
    Zero-norm vectors produce non-finite ratios that fail the
    threshold — the NULL-cosine exclusion, decided in the same place.

    Scale: per-group work is O(m²·dim) C flops with O(m·dim) memory
    (one i-row against all j>i at a time); group size is the blocking
    scheme's own dial (planes per band / cluster count), the same
    Σ|block|² bound the join formulation had — minus the pair
    materialization. Output: group cols + id_a, id_b (id_a < id_b),
    cos_raw.
    """
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*group_cols).schema.fields
    )
    out_schema = f"{fields}, id_a long, id_b long, cos_raw double"
    thr = float(min_cosine) - float(margin)

    def verify(key, pdf):
        m = len(pdf)
        if m < 2:
            res = {c: [] for c in group_cols}
            res.update({"id_a": [], "id_b": [], "cos_raw": []})
            return pd.DataFrame(res)
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        out_a, out_b, out_c = [], [], []
        with np.errstate(divide="ignore", invalid="ignore"):
            for i in range(m - 1):
                dots = np.cumsum(mat[i][None, :] * mat[i + 1 :], axis=1)[:, -1]
                cos = dots / (norms[i] * norms[i + 1 :])
                # STRICT id inequality, not positional: duplicate ids
                # (two rows sharing a key) must never self-pair — the
                # join formulation's id_a < id_b predicate, preserved
                hit = np.nonzero((cos >= thr) & (ids[i + 1 :] > ids[i]))[0]
                if hit.size:
                    out_a.append(np.full(hit.size, ids[i]))
                    out_b.append(ids[i + 1 :][hit])
                    out_c.append(cos[hit])
        n = sum(a.size for a in out_a)
        res = {c: [key[gi]] * n for gi, c in enumerate(group_cols)}
        res["id_a"] = np.concatenate(out_a) if n else []
        res["id_b"] = np.concatenate(out_b) if n else []
        res["cos_raw"] = np.concatenate(out_c) if n else []
        return pd.DataFrame(res)

    return df.groupBy(*group_cols).applyInPandas(verify, out_schema)


def cosine_scores(
    df: DataFrame, id_col: str, vec_col: str, query_vec: list[float], decimals: int = 6
) -> DataFrame:
    """Cosine of every row's vector vs a literal query vector, rounded
    to ``decimals`` so ranking ties are well-defined across engines.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), decimals).alias("cos_sim"),
    )


def brute_force_topk(
    df: DataFrame, id_col: str, vec_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by (rounded cosine desc, id asc) — TakeOrderedAndProject,
    per-partition heaps, k-row driver merge; no global sort.
    """
    scored = cosine_scores(df, id_col, vec_col, query_vec)
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def batch_knn_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple[int, list[float]]],
    k: int,
    decimals: int = 6,
    slack: float = 1e-6,
    probe_map: dict[int, list[int]] | None = None,
    cluster_col: str = "cluster",
) -> DataFrame:
    """Top-k nearest neighbors for a BATCH of query vectors in ONE scan
    — the realistic retrieval shape (a query batch, not a point probe).

    With ``probe_map`` (query_id → allowed cluster ids, from an
    ``IvfIndex``), each query scores only rows whose ``cluster_col``
    is in its probe set — the IVF arm of the same single-scan layout
    (see ``ivf_batch_topk``).

    Why not Q repeated ``brute_force_topk`` calls: that is Q full scans
    of the corpus. Here the query matrix (Q×dim, model-sized) ships
    inside one ``mapInPandas`` closure; each partition scores its rows
    against ALL queries as numpy C loops and keeps only a per-query
    partial top-k, so the shuffle that follows moves at most
    partitions × Q × (k + ties) candidate rows — never the corpus. The
    final per-query rank is a window over that candidate set, hash-
    partitioned on query_id (Q-way parallel, no single reducer over
    data). At 100 TB this is the exact brute-force arm you'd run per
    mini-batch before (or instead of) an IVF probe; swapping the scan
    for ``ivf_topk``'s partition-pruned read keeps the same contract.

    Exactness: dots and norms use ``np.cumsum`` (strict left-to-right
    summation, bit-identical to DuckDB's list_dot_product — same
    contract as ``grouped_allpairs_cosine``); partial selection keeps
    every row whose RAW cosine is within ``slack`` of the partition's
    k-th best, which provably covers rounding at ``decimals`` (rounding
    is monotone, and two raws that round apart differ by > 0.5·10^-d),
    so the post-round global rank equals the unpruned answer. Rounding
    itself happens engine-side via ``F.round``. Zero-norm vectors score
    non-finite and are dropped (the NULL-cosine exclusion); NULL
    vectors are filtered before the Arrow boundary.

    Output: (query_id, rnk, id_col, cos_sim), rnk 1..k per query by
    (cos_sim DESC, id ASC).
    """
    from pyspark.sql.window import Window

    qids = np.asarray([int(q) for q, _ in queries], dtype=np.int64)
    qmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in queries])
    qnorm = np.sqrt(np.cumsum(qmat * qmat, axis=1)[:, -1])
    nq = len(qids)
    keep = k  # rows kept per query before the slack band widens it
    probe_lists = (
        None
        if probe_map is None
        else [np.asarray(sorted(probe_map[int(q)]), dtype=np.int64) for q, _ in queries]
    )

    def score_partition(batches):
        cand_ids = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        cand_cos = [np.empty(0, dtype=np.float64) for _ in range(nq)]

        def prune(j):
            ids_j, cos_j = cand_ids[j], cand_cos[j]
            if ids_j.size <= keep:
                return
            order = np.lexsort((ids_j, -cos_j))
            thr = cos_j[order[keep - 1]] - slack
            sel = order[cos_j[order] >= thr]
            cand_ids[j], cand_cos[j] = ids_j[sel], cos_j[sel]

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            clusters = (
                pdf[cluster_col].to_numpy(dtype=np.int64)
                if probe_lists is not None
                else None
            )
            norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
            with np.errstate(divide="ignore", invalid="ignore"):
                for j in range(nq):
                    dots = np.cumsum(mat * qmat[j][None, :], axis=1)[:, -1]
                    cos = dots / (norms * qnorm[j])
                    ok = np.isfinite(cos)
                    if probe_lists is not None:
                        ok &= np.isin(clusters, probe_lists[j])
                    cand_ids[j] = np.concatenate([cand_ids[j], ids[ok]])
                    cand_cos[j] = np.concatenate([cand_cos[j], cos[ok]])
                    prune(j)
        n = sum(a.size for a in cand_ids)
        if n:
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, [a.size for a in cand_ids]),
                    id_col: np.concatenate(cand_ids),
                    "cos_raw": np.concatenate(cand_cos),
                }
            )

    cols = [id_col, vec_col] + ([cluster_col] if probe_map is not None else [])
    cands = (
        df.select(*cols)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(score_partition, f"query_id long, {id_col} long, cos_raw double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        cands.withColumn("cos_sim", F.round("cos_raw", decimals))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", id_col, "cos_sim")
    )


def _partial_topk_side(
    q_ids, q_mat, q_nrm, c_ids, c_mat, c_nrm, k, slack, out_src, out_dst, out_cos
):
    """The shared two-tier EXACT partial-top-k kernel of every kNN-graph
    arm (exact block grid ``knn_graph``, IVF-pruned ``knn_graph_ivf``,
    incremental ``knn_graph_apply_cdc``): one BLAS matmul PRUNES the
    candidate rows, then the ≤ k+band survivors per query row are
    RECOMPUTED with ``np.cumsum`` — the strict left-to-right summation
    bit-identical to DuckDB's ``list_dot_product`` — so every EMITTED
    cosine carries the exact fold bits while the O(Q·C·dim) bulk runs
    as one C-side matmul. Prune threshold = the row's k-th best
    APPROXIMATE cosine − (slack + 2·blas_eps): each approx is within
    blas_eps of exact, so the k-th order statistic shifts ≤ blas_eps
    and no candidate with exact cos ≥ kth_exact − slack is lost; the
    final slack band covers downstream 6dp rounding. Self-pairs
    (c_id == q_id) and non-finite scores (zero norms) drop out.
    Appends (query-id, candidate-id, exact-cos) arrays to the three
    ``out_*`` accumulators."""
    if not len(q_ids) or not len(c_ids):
        return
    blas_eps = 1e-9  # reassociation drift bound for 64-dim doubles
    with np.errstate(divide="ignore", invalid="ignore"):
        approx = (q_mat @ c_mat.T) / (q_nrm[:, None] * c_nrm[None, :])
        for r in range(len(q_ids)):
            row = approx[r]
            ok = np.isfinite(row) & (c_ids != q_ids[r])
            n_ok = int(ok.sum())
            if not n_ok:
                continue
            if n_ok > k:
                kth = -np.partition(-row[ok], k - 1)[k - 1]
                keep = ok & (row >= kth - slack - 2 * blas_eps)
            else:
                keep = ok
            cand = np.nonzero(keep)[0]
            dots = np.cumsum(c_mat[cand] * q_mat[r][None, :], axis=1)[:, -1]
            cos = dots / (c_nrm[cand] * q_nrm[r])
            cand_i, cand_c = c_ids[cand], cos
            if cand_i.size > k:
                order = np.lexsort((cand_i, -cand_c))
                thr = cand_c[order[k - 1]] - slack
                sel = order[cand_c[order] >= thr]
                cand_i, cand_c = cand_i[sel], cand_c[sel]
            if cand_i.size:
                out_src.append(np.full(cand_i.size, q_ids[r]))
                out_dst.append(cand_i)
                out_cos.append(cand_c)


def knn_graph(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_blocks: int = 8,
    decimals: int = 6,
    slack: float = 1e-6,
) -> DataFrame:
    """EXACT k-nearest-neighbor graph over the whole vector table —
    every vector's top-``k`` cosine neighbors among all OTHER vectors.
    The kNN graph is the substrate for semantic dedup at corpus scale
    (SemDeDup keeps one doc per tight neighborhood), diversity scoring
    (distance-to-neighbors), and graph-based curation; unlike
    ``batch_knn_topk`` the query set IS the corpus, so nothing can be
    broadcast.

    Plan — block-grid partial top-k, the self-join-free layout shared
    with the Gram matrix (linalg.py) and the hot-posting chunk grid
    (editjoin.py): hash every row into one of ``n_blocks`` blocks and
    route a copy to each grid cell (i ≤ j) that touches its block, so
    cell (i,j) holds exactly blocks i and j. A cell enumerates
    cross-block scores IN BOTH directions (the diagonal scores within
    the block, self excluded by id) as numpy C loops inside
    ``applyInPandas`` and keeps only each row's partial top-k — pairs
    are never materialized as shuffle rows. The final rank merges the
    per-cell partials with one id-keyed window.

    Shuffle accounting: each row moves ``n_blocks`` times (grid
    replication) + N·n_blocks·k candidate rows into the window — never
    the N² pair matrix. Cell payload is ≤ 2·N/n_blocks rows, so
    ``n_blocks`` is the memory/replication dial: at 100 TB you grow it
    as √N to hold cells executor-sized, or swap the grid for an
    IVF-pruned candidate generator (``ivf_batch_topk``) and keep the
    identical window finisher — this operator is the exact arm that
    grades such approximations.

    Exactness at matmul speed — the two-tier kernel: candidate PRUNING
    uses one BLAS matmul per cell (pairwise/BLAS summation, within a
    few ulps of the true dot for 64-dim vectors), then the ≤ k+band
    survivors per row are RECOMPUTED with ``np.cumsum`` — the strict
    left-to-right summation bit-identical to the zip_with/aggregate
    fold and DuckDB's ``list_dot_product`` — so every EMITTED cosine
    carries the exact fold bits while the O(N²·dim) bulk runs as one
    C-side matmul instead of N per-row passes (the fixed-point Gram
    matrix's division of labor, adapted to a ratio score). The prune
    threshold is the row's k-th best APPROXIMATE cosine minus
    ``slack + 2·blas_eps``: each approx is within blas_eps of its
    exact value, so the k-th order statistic shifts by ≤ blas_eps and
    every candidate with exact cos ≥ kth_exact − slack survives the
    approximate cut — the final exact slack band then covers rounding
    at ``decimals`` exactly as in ``batch_knn_topk``. The engine-side
    ``F.round`` + (cos DESC, id ASC) window makes ties deterministic.
    Zero-norm vectors score non-finite and drop out of every list (and
    have no neighbors themselves); NULL vectors are filtered before
    the Arrow boundary.

    Output: (``id_col``, rnk, neighbor, cos_sim), rnk 1..k.
    """
    from pyspark.sql.window import Window

    base = df.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    block = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    # grid cell ids for block b: all (min(b,c), max(b,c)) over c — B
    # cells per row, diagonal included exactly once
    cells = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_blocks - 1)),
            lambda c: F.least(block, c) * n_blocks + F.greatest(block, c),
        )
    )
    routed = base.withColumn("__blk", block).withColumn(
        "__cell", F.explode(cells)
    )

    def cell_topk(key, pdf):
        cell = int(key[0])
        i, j = divmod(cell, n_blocks)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        blk = pdf["__blk"].to_numpy(dtype=np.int64)
        out_src, out_dst, out_cos = [], [], []

        def score_side(qsel, csel):
            # rows in qsel each score all rows in csel via the shared
            # two-tier kernel (BLAS prune + strict-sum recompute)
            _partial_topk_side(
                ids[qsel], mat[qsel], norms[qsel],
                ids[csel], mat[csel], norms[csel],
                k, slack, out_src, out_dst, out_cos,
            )

        if i == j:
            sel = np.arange(len(ids))
            score_side(sel, sel)
        else:
            side_i = np.nonzero(blk == i)[0]
            side_j = np.nonzero(blk == j)[0]
            score_side(side_i, side_j)
            score_side(side_j, side_i)
        n = sum(a.size for a in out_src)
        return pd.DataFrame(
            {
                id_col: np.concatenate(out_src) if n else np.empty(0, np.int64),
                "neighbor": np.concatenate(out_dst) if n else np.empty(0, np.int64),
                "cos_raw": np.concatenate(out_cos) if n else np.empty(0, np.float64),
            }
        )

    partials = routed.groupBy("__cell").applyInPandas(
        cell_topk, f"{id_col} long, neighbor long, cos_raw double"
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor").asc()
    )
    return (
        partials.withColumn("cos_sim", F.round("cos_raw", decimals))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "rnk", "neighbor", "cos_sim")
    )


def save_knn_graph(
    graph: DataFrame, path: str, id_col: str, n_buckets: int = 64
) -> None:
    """Persist a kNN graph partitioned by an id hash bucket + a JSON
    sidecar recording the bucket fanout — the layout that makes both
    access patterns cheap: point lookups ("who are doc X's
    neighbors?") partition-prune to one bucket directory, and the
    incremental-update path (``knn_graph_upsert`` with
    ``base_graph=load_knn_graph(...)``) streams the whole graph back
    WITHOUT recomputing the N² build it cost. At 100 TB the graph is
    corpus-sized (N·k rows) — exactly the artifact you persist once
    per build and fold batches into, never rebuild per batch.

    The JSON sidecar goes through the Hadoop FileSystem API (not local
    ``open()``), so the layout works unchanged on hdfs:// and s3a://
    URIs — the filesystems the 100 TB framing implies."""
    import json

    spark = graph.sparkSession
    # Hash the id AS LONG: xxhash64 hashes IntegerType and LongType to
    # different values, and the point-lookup probe (knn_graph_neighbors)
    # hashes its literal cast to long — both sides must agree or a graph
    # saved with an int id column silently probes the wrong bucket.
    g = graph.withColumn(
        "__bucket",
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_buckets)).cast("int"),
    )
    g.write.mode("overwrite").partitionBy("__bucket").parquet(path + "/edges")
    _hadoop_write_text(
        spark,
        path + "/meta.json",
        json.dumps({"id_col": id_col, "n_buckets": n_buckets}),
    )


def _hadoop_write_text(spark, uri: str, text: str) -> None:
    """Write a small text file through the Hadoop FS API — works for
    any configured scheme (file://, hdfs://, s3a://), unlike a local
    ``open()`` which silently writes a *local* path component of a
    remote URI."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(uri)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _hadoop_read_text(spark, uri: str) -> str:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(uri)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(hpath)
    try:
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream))
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def load_knn_graph_meta(spark, path: str) -> dict:
    """Read the sidecar: ``{"id_col": ..., "n_buckets": ...}`` — the
    fanout a bucket-probe helper needs to compute which partition
    holds a given id."""
    import json

    return json.loads(_hadoop_read_text(spark, path + "/meta.json"))


def load_knn_graph(spark, path: str) -> DataFrame:
    """Open a saved kNN graph: edges come back bucket-partitioned (a
    ``WHERE __bucket = pmod(xxhash64(id), n)`` probe partition-prunes
    at file listing); the bucket column is dropped so the frame has
    the exact (id, rnk, neighbor, cos_sim) shape ``knn_graph``
    emits — directly usable as ``base_graph`` in the incremental
    update. The sidecar is read back and validated against the edge
    schema (a graph saved under a different id column fails fast here
    instead of mis-joining downstream)."""
    meta = load_knn_graph_meta(spark, path)
    edges = spark.read.parquet(path + "/edges")
    if meta["id_col"] not in edges.columns:
        raise ValueError(
            f"saved kNN graph at {path} declares id_col={meta['id_col']!r} "
            f"but edges have columns {edges.columns}"
        )
    return edges.drop("__bucket")


def knn_graph_neighbors(spark, path: str, id_value: int) -> DataFrame:
    """Point lookup on a SAVED graph — "who are doc X's neighbors?" —
    using the sidecar's ``n_buckets`` to filter on the partition
    column, so the scan partition-prunes to ONE bucket directory at
    file-listing time (the access pattern the bucketed layout exists
    for; at 100 TB this touches 1/n_buckets of the files)."""
    meta = load_knn_graph_meta(spark, path)
    edges = spark.read.parquet(path + "/edges")
    id_col = meta["id_col"]
    bucket = (
        edges.sparkSession.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(id_value).cast("long")), F.lit(meta["n_buckets"]))
            .cast("int")
            .alias("b")
        )
        .first()["b"]
    )
    return (
        edges.filter(F.col("__bucket") == bucket)
        .filter(F.col(id_col) == id_value)
        .drop("__bucket")
        .orderBy("rnk")
    )


def _bounded_collect(df: DataFrame, n: int):
    """At most ``n`` rows of ``df`` in ONE job over every partition.

    ``df.limit(n).collect()`` escalates through partition batches (1,
    then ×4, ×16, … — ``spark.sql.limit.initialNumPartitions`` = 1),
    which is right when the first partitions can satisfy the limit and
    wrong for the maintenance verbs' bounded probes: affected rows are
    spread uniformly and almost always number far below the refusal
    budget, so the escalation walks ALL partitions in up to 4
    sequential jobs. Instead each task keeps its partition's first
    ``n`` rows — the low 33 bits of ``monotonically_increasing_id``
    number the rows within a partition — and the collected list is cut
    to ``n``: the bound holds (never more than ``n`` rows returned), one
    job per probe, and no session conf is touched, so concurrent
    queries on the session are unaffected (optimization r15, guide §1.4
    action discipline). Each task may ship up to ``n`` rows, so a
    transient fetch can reach n × partitions rows before the caller's
    refusal fires."""
    row_in_partition = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    return df.filter(row_in_partition < n).collect()[:n]


def _empty_graph_delta(spark, id_col: str) -> DataFrame:
    """Zero-row frame in the graph-delta shape — the delta of a batch
    that changes nothing."""
    return spark.createDataFrame(
        [], f"{id_col} long, rnk int, neighbor long, cos_sim double"
    )


def _delta_finish(keep: DataFrame, new_streams, id_col: str, k: int) -> DataFrame:
    """CHANGED-ROWS-ONLY finish for the graph maintenance verbs: rank
    keep ∪ new-candidate streams with the (cos DESC, id ASC) window,
    then emit ONLY the ids whose final top-k admits a new-stream
    candidate. Ids with no keep rows (the recomputed set — anti-joined
    out of keep by every caller) have all rows tagged new, so they
    always survive; an unaffected id whose stored list beat every new
    candidate drops out — its stored rows are bit-identical to what a
    full re-rank would emit, so ``apply_graph_delta`` over the base
    reproduces the full graph row for row. Both window functions share
    one id-hash exchange (the max needs no ordering)."""
    from pyspark.sql.window import Window

    cands = keep.withColumn("__new", F.lit(0))
    for s in new_streams:
        cands = cands.unionByName(s.withColumn("__new", F.lit(1)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor").asc()
    )
    wid = Window.partitionBy(id_col)
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .withColumn("__chg", F.max("__new").over(wid))
        .filter(F.col("__chg") == 1)
        .select(id_col, "rnk", "neighbor", "cos_sim")
    )


def apply_graph_delta(base: DataFrame, delta: DataFrame, id_col: str) -> DataFrame:
    """The full graph a graph delta describes: ``base`` rows whose id
    the delta does not mention, plus the delta rows whose ``rnk`` is
    not NULL. A delta mentions an id with its complete new list, with a
    rnk-NULL marker (its stored list is invalid: recomputed or
    deleted), or both — so a marker with no list retires the id. This
    is the read side of every ``knn_graph_apply_cdc`` /
    ``knn_graph_ivf_fold`` result and of the on-disk ``graph_delta``
    epochs (streaming/index_sync.py)."""
    # no distinct on the anti-join side: left_anti tolerates duplicate
    # keys, and the dedup would cost its own exchange (AQE job) per
    # execution of this plan
    return base.join(delta.select(id_col), id_col, "left_anti").unionByName(
        delta.filter(F.col("rnk").isNotNull()).select(
            id_col, "rnk", "neighbor", "cos_sim"
        )
    )


def knn_graph_upsert(
    old: DataFrame,
    updates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_blocks: int = 8,
    decimals: int = 6,
    slack: float = 1e-6,
    base_graph: DataFrame | None = None,
    max_affected: int = 65536,
) -> DataFrame:
    """MAINTAIN a kNN graph under an UPSERT batch — ids may be new (an
    append) or re-vectored — instead of recomputing it: the full graph
    over (old − updated ids) ∪ updates, row-identical to a rebuild.
    ``knn_graph_apply_cdc`` with no deletes does the work (|updates|·N
    + |affected|·N, never (N+|u|)²); this verb applies its delta to the
    base. ``base_graph`` is the stored graph over ``old`` (e.g.
    ``load_knn_graph``); without it the N² base is built here once.
    An empty or all-NULL batch returns the base unchanged; a hub-scale
    batch (> ``max_affected``) raises — rebuild instead."""
    if base_graph is None:
        # referenced by the affected probe, the keep stream and the
        # delta apply — checkpoint or the N² build re-executes per
        # reference
        base_graph = knn_graph(
            old, id_col, vec_col, k,
            n_blocks=n_blocks, decimals=decimals, slack=slack,
        ).localCheckpoint(eager=True)
    delta = knn_graph_apply_cdc(
        old, None, updates, id_col, vec_col, k, base_graph,
        max_affected=max_affected, decimals=decimals, slack=slack,
    )
    return apply_graph_delta(base_graph, delta, id_col)


def knn_graph_delete(
    old: DataFrame,
    deletes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_blocks: int = 8,
    decimals: int = 6,
    slack: float = 1e-6,
    base_graph: DataFrame | None = None,
    max_affected: int = 65536,
) -> DataFrame:
    """RETIRE vectors from a kNN graph — rows must leave the index AND
    every edge citing them must be evicted, which a trimmed rank-k list
    cannot do locally (the rank-k+1 candidate that would backfill was
    never kept). Returns the full graph over old − deleted ids,
    row-identical to a rebuild: ``knn_graph_apply_cdc`` with no upserts
    recomputes only the rows citing a deleted id (|affected|·N) and
    this verb applies its delta to the base (built here when
    ``base_graph`` is None). An empty delete returns the base
    unchanged; a hub-scale delete (> ``max_affected``) raises."""
    if base_graph is None:
        # referenced by the affected probe, the keep stream and the
        # delta apply — checkpoint or the N² build re-executes per
        # reference
        base_graph = knn_graph(
            old, id_col, vec_col, k,
            n_blocks=n_blocks, decimals=decimals, slack=slack,
        ).localCheckpoint(eager=True)
    delta = knn_graph_apply_cdc(
        old, deletes, None, id_col, vec_col, k, base_graph,
        max_affected=max_affected, decimals=decimals, slack=slack,
    )
    return apply_graph_delta(base_graph, delta, id_col)


def knn_graph_apply_cdc(
    old: DataFrame,
    deletes: DataFrame | None,
    upserts: DataFrame | None,
    id_col: str,
    vec_col: str,
    k: int,
    base_graph: DataFrame,
    max_affected: int = 65536,
    decimals: int = 6,
    slack: float = 1e-6,
) -> DataFrame:
    """The exact kNN-graph maintenance core: apply one CDC batch
    (delete ids + upsert rows, ids may be new or re-vectored) to
    ``base_graph`` — the stored graph over ``old`` — in ONE
    affected-set pass, and return the batch's GRAPH DELTA: the changed
    ids' complete new top-k lists plus one rnk-NULL marker row per
    invalidated id (recomputed or deleted), in the on-disk
    ``graph_delta`` shape (id, rnk, neighbor, cos_sim).
    ``apply_graph_delta(base_graph, delta)`` is the full graph over the
    new corpus ((old − changed ids) ∪ upserts), row-identical to a
    rebuild.

    EXACTNESS (the top-k of a union is the re-ranked union of the
    per-part top-k lists), with the changed set C = deleted ids ∪
    upserted ids, partitioning the new corpus three ways —
    1. UPSERTED rows: recomputed from scratch (ride as queries).
    2. AFFECTED rows: stored list cites ANY id in C (a deleted
       neighbor must be evicted, a re-vectored one re-scored; either
       can promote an unseen candidate — the rank-k+1 row was never
       kept) — recomputed in the same pass.
    3. UNAFFECTED rows: no stored edge cites C, so every stored edge
       survives with unchanged vectors and removing non-cited vectors
       cannot promote anything — their new top-k is the re-ranked
       union of the stored list with their partials vs the UPSERT
       matrix (empty when the batch is delete-only).
    Deleted rows vanish (they are in C, never in the new corpus). All
    streams carry the strict-sum 6dp cosines and (cos DESC, id ASC)
    tiebreak, so the merge is bit-identical to a full rebuild.

    ``deletes`` (ids) and ``upserts`` (id, vector) must not share ids
    (the CDC contract's at-most-one-row-per-id, enforced upstream);
    either may be None. NULL upsert vectors are skipped. Cost:
    |C∪affected|·N in one corpus pass plus one bounded driver fetch;
    a batch whose upserts + affected rows exceed ``max_affected``
    raises (the queries ship driver-side) — rebuild the graph instead.
    """
    spark = old.sparkSession
    # refusal enforced PRE-collect: the LIMIT bounds the driver fetch to
    # the budget + 1, so a hub-scale upsert frame is never materialized
    # before the raise (same discipline as the affected probe below)
    upd_rows = (
        _bounded_collect(
            upserts.select(id_col, vec_col).filter(
                F.col(vec_col).isNotNull()
            ),
            max_affected + 1,
        )
        if upserts is not None
        else []
    )
    if len(upd_rows) > max_affected:
        raise ValueError(
            f"≥{len(upd_rows)} updates exceed max_affected={max_affected}: "
            "a hub-scale upsert — rebuild the graph instead"
        )
    upd_list = sorted(
        (int(r[id_col]), [float(x) for x in r[vec_col]]) for r in upd_rows
    )
    del_ids_df = (
        deletes.select(id_col).distinct() if deletes is not None else None
    )
    upd_ids_df = (
        spark.createDataFrame([(i,) for i, _ in upd_list], f"{id_col} long")
        if upd_list
        else None
    )
    changed = [d for d in (del_ids_df, upd_ids_df) if d is not None]
    if not changed:
        return _empty_graph_delta(spark, id_col)
    changed_df = changed[0]
    for c in changed[1:]:
        changed_df = changed_df.unionByName(c)
    old_rows = old.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    survivors = old_rows.join(changed_df, id_col, "left_anti")
    corpus = (
        survivors.unionByName(
            upserts.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
        )
        if upd_list
        else survivors
    )
    # ONE bounded driver round trip for the affected probe AND the
    # affected-vector fetch: the probe ids left-join the survivor
    # vectors, and the LIMIT keeps the collect bounded to the refusal
    # budget. Changed ids are excluded probe-side (anti-join).
    budget = max_affected - len(upd_list)
    aff_probe = (
        base_graph.join(
            changed_df.withColumnRenamed(id_col, "neighbor"), "neighbor"
        )
        .select(id_col)
        .distinct()
        .join(changed_df, id_col, "left_anti")
    )
    aff_rows = _bounded_collect(
        aff_probe.join(
            survivors.withColumnRenamed(vec_col, "__vec"), id_col, "left"
        ),
        budget + 1,
    )
    if len(aff_rows) > budget:
        raise ValueError(
            f"≥{len(aff_rows)} affected rows + {len(upd_list)} updates "
            f"exceed max_affected={max_affected}: a hub-scale CDC batch — "
            "rebuild the graph instead"
        )
    affected_ids = sorted(int(r[id_col]) for r in aff_rows)
    affected_vecs = sorted(
        (int(r[id_col]), [float(x) for x in r["__vec"]])
        for r in aff_rows
        if r["__vec"] is not None
    )
    queries = sorted(affected_vecs + upd_list)
    recompute_set = set(affected_ids) | {i for i, _ in upd_list}
    rec_df = (
        spark.createDataFrame(
            [(i,) for i in sorted(recompute_set)], f"{id_col} long"
        )
        if recompute_set
        else None
    )
    # rnk-NULL markers: every id whose stored list this batch
    # invalidates — the recomputed set and the deleted ids
    nulls = (
        F.lit(None).cast("int").alias("rnk"),
        F.lit(None).cast("long").alias("neighbor"),
        F.lit(None).cast("double").alias("cos_sim"),
    )
    markers = [m.select(id_col, *nulls) for m in (rec_df, deletes) if m is not None]
    parts = markers
    if queries:  # else a delete-only batch touching no stored edge
        keep = base_graph
        if rec_df is not None:
            keep = keep.join(rec_df, id_col, "left_anti")
        if del_ids_df is not None:
            keep = keep.join(del_ids_df, id_col, "left_anti")
        keep = keep.select(id_col, "neighbor", "cos_sim")
        aq_ids = np.asarray([q for q, _ in queries], dtype=np.int64)
        aq_mat = np.stack([np.asarray(v, dtype=np.float64) for _, v in queries])
        aq_nrm = np.sqrt(np.cumsum(aq_mat * aq_mat, axis=1)[:, -1])
        rec_ids_arr = np.asarray(sorted(recompute_set), dtype=np.int64)
        # the upsert matrix for the unaffected rows' partials
        qids = np.asarray([q for q, _ in upd_list], dtype=np.int64)
        qmat = np.asarray(
            [v for _, v in upd_list], dtype=np.float64
        ).reshape(len(upd_list), aq_mat.shape[1])
        qnorm = np.sqrt(np.cumsum(qmat * qmat, axis=1)[:, -1])

        # ONE fused corpus pass: per Arrow batch the closure emits (a)
        # the recompute queries' partials vs the batch rows and (b) the
        # batch's UNAFFECTED rows' partials vs the upsert matrix
        def fused_scan(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                ids = pdf[id_col].to_numpy(dtype=np.int64)
                mat = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
                out_i, out_n, out_c = [], [], []
                _partial_topk_side(
                    aq_ids, aq_mat, aq_nrm, ids, mat, norms,
                    k, slack, out_i, out_n, out_c,
                )
                if len(qids):
                    un = ~np.isin(ids, rec_ids_arr)
                    if un.any():
                        _partial_topk_side(
                            ids[un], mat[un], norms[un], qids, qmat, qnorm,
                            k, slack, out_i, out_n, out_c,
                        )
                if out_i:
                    yield pd.DataFrame(
                        {
                            id_col: np.concatenate(out_i),
                            "neighbor": np.concatenate(out_n),
                            "cos_raw": np.concatenate(out_c),
                        }
                    )

        scanned = (
            corpus.mapInPandas(
                fused_scan, f"{id_col} long, neighbor long, cos_raw double"
            )
            .withColumn("cos_sim", F.round("cos_raw", decimals))
            .select(id_col, "neighbor", "cos_sim")
        )
        parts = [_delta_finish(keep, [scanned], id_col, k)] + markers
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def knn_graph_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_clusters: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    sample_cap: int = 65536,
    decimals: int = 6,
    slack: float = 1e-6,
) -> DataFrame:
    """APPROXIMATE kNN graph via IVF-pruned candidate generation — the
    100 TB arm the exact block grid (``knn_graph``) exists to grade.
    The grid's O(N²/B·dim) matmul bulk is the right whole-corpus cost
    only up to mid scale; here each row scores ONLY the rows assigned
    to its ``n_probe`` nearest coarse clusters, so total work is
    ~N·(n_probe/n_clusters)·N·dim — the n_probe/n_clusters dial cuts
    the pair space by the probe fraction, at the price of recall.

    Plan: train a spherical-k-means coarse quantizer on a bounded
    driver-side sample (the ``build_ivf_index`` contract — model-sized,
    never a distributed iterative fit); ONE Arrow pass computes each
    row's probe list (its ``n_probe`` nearest centroids by cosine,
    ties → lowest cluster id, so routing is a pure per-row function of
    the vector — layout-invariant). Each row is routed once as a
    MEMBER of its assigned cluster (= probe[0]) and ``n_probe`` times
    as a QUERY of its probed clusters; ``groupBy(cluster)`` then holds
    exactly (members of c, queries probing c) and the shared two-tier
    kernel (``_partial_topk_side`` — BLAS prune + strict-sum
    recompute) emits per-query partial top-k. The finisher is the
    IDENTICAL id-keyed window as the exact arm.

    Shuffle accounting: each row moves 1 + n_probe times (vs n_blocks
    for the grid) + N·n_probe·k candidate rows into the window — never
    pairs. Cluster payload ≈ N/n_clusters members + N·n_probe/n_clusters
    queries, so ``n_clusters`` is the executor-memory dial (grow as
    √N, exactly FAISS's nlist guidance).

    GRADING CONTRACT (what the oracle + tests pin): every EMITTED
    cosine is exact to the strict left-to-right fold bits (same kernel
    as the exact arm), so the only approximation is RECALL — a true
    neighbor is missed iff it lives in a cluster the query didn't
    probe. At ``n_probe == n_clusters`` every cluster is probed and
    the result EQUALS ``knn_graph`` row for row — the index-integrity
    contract the catalog grades (a member lost, double-routed, or
    mis-probed flips the result), same pattern as ``ivf_batch_topk``.
    Recall at n_probe < n_clusters is monotone in n_probe and
    pytest-pinned against the exact graph.

    Output: (``id_col``, rnk, neighbor, cos_sim), rnk 1..k — rows with
    zero probed candidates (or zero norm) emit no edges, exactly like
    the exact arm's isolated rows.
    """
    from pyspark.sql.window import Window

    from spacex_data_engineering_pipeline_spark.operators.util import (
        deterministic_sample_vectors,
    )

    base = df.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    sample = deterministic_sample_vectors(base, id_col, vec_col, sample_cap)
    if not sample:
        raise ValueError("cannot build a kNN graph over an empty corpus")
    centers = _spherical_kmeans(sample, n_clusters, seed)
    n_pr = min(n_probe, len(centers))

    @F.pandas_udf("array<int>")
    def _probe_list(batch: pd.Series) -> pd.Series:
        if not len(batch):
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype="float64") for v in batch])
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        Mn = M / np.where(norms > 0, norms, 1.0)
        sims = Mn @ centers.T
        # ties → lowest cluster id: lexsort minor key is the id range
        order = np.lexsort(
            (np.broadcast_to(np.arange(sims.shape[1]), sims.shape), -sims),
            axis=1,
        )[:, :n_pr]
        return pd.Series(list(order.astype("int32")))

    routed = base.withColumn("__probes", _probe_list(F.col(vec_col)))
    members = routed.select(
        id_col,
        vec_col,
        F.element_at("__probes", 1).alias("__cell"),
        F.lit(False).alias("__q"),
    )
    queries = routed.select(
        id_col,
        vec_col,
        F.explode("__probes").alias("__cell"),
        F.lit(True).alias("__q"),
    )

    def cell_topk(key, pdf):
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        is_q = pdf["__q"].to_numpy(dtype=bool)
        qsel, csel = np.nonzero(is_q)[0], np.nonzero(~is_q)[0]
        out_src, out_dst, out_cos = [], [], []
        _partial_topk_side(
            ids[qsel], mat[qsel], norms[qsel],
            ids[csel], mat[csel], norms[csel],
            k, slack, out_src, out_dst, out_cos,
        )
        n = sum(a.size for a in out_src)
        return pd.DataFrame(
            {
                id_col: np.concatenate(out_src) if n else np.empty(0, np.int64),
                "neighbor": np.concatenate(out_dst) if n else np.empty(0, np.int64),
                "cos_raw": np.concatenate(out_cos) if n else np.empty(0, np.float64),
            }
        )

    partials = (
        members.unionByName(queries)
        .groupBy("__cell")
        .applyInPandas(cell_topk, f"{id_col} long, neighbor long, cos_raw double")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor").asc()
    )
    return (
        partials.withColumn("cos_sim", F.round("cos_raw", decimals))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "rnk", "neighbor", "cos_sim")
    )


def knn_graph_auto_plan(
    n_rows: int,
    exact_max_rows: int = 50_000,
    ivf_max_rows: int = 2_000_000,
    probe_mass: float = 0.125,
) -> tuple[str, dict]:
    """The crossover POLICY behind ``knn_graph_auto``, separated so the
    parity tests pin dispatch and arms independently. Thresholds encode
    the decade-probe measurements (SCALE_NOTES round 11, two-run
    clean): at 20k vectors full-probe IVF ≈ the exact grid (routing
    overhead swallows the pruning — exact wins below that), at 200k
    the exact grid costs ~400 s (391.8/413.0 across the two runs)
    while IVF runs 4.9×/2.8× faster at 6.25%/12.5% probe mass on a
    direction-uniform worst case and 8.6×/3.4× on a planted-cluster
    corpus; the exact arm's N² bulk grows ~100× per decade, so the
    default hands off at 50k (≈ 25 s of exact work on the measured
    host — the last size where exact is still the cheaper AND
    recall-1 choice). Above ``ivf_max_rows`` even the probed pair
    space (probe_mass·N²) exceeds what a whole-corpus one-shot should
    pay, and the honest answer is the PERSISTED index lifecycle
    (build_ivf_index → save → batched probes / streaming sync), so —
    like ``max_affected`` in the upsert — it REFUSES with the
    alternative named rather than silently burning a cluster-day.

    Returns ("exact", {}) | ("ivf", {"n_clusters": …, "n_probe": …})
    | ("refuse", {reason}); n_clusters grows as √N (FAISS nlist
    guidance, clipped to [8, 4096]), n_probe = probe_mass of that
    (measured recall at 200k: 0.67 on the direction-uniform worst
    case, 0.9999 on the planted-cluster corpus at the same mass —
    SCALE_NOTES round 11)."""
    import math

    if n_rows <= exact_max_rows:
        return "exact", {}
    if n_rows <= ivf_max_rows:
        n_clusters = max(8, min(4096, int(math.isqrt(n_rows))))
        n_probe = max(1, round(n_clusters * probe_mass))
        return "ivf", {"n_clusters": n_clusters, "n_probe": n_probe}
    return "refuse", {
        "reason": (
            f"{n_rows} rows exceed ivf_max_rows={ivf_max_rows}: a one-shot "
            "whole-corpus graph at this size pays probe_mass*N^2 anyway — "
            "build a persisted IVF index (build_ivf_index + save) and run "
            "batched probes, or maintain the graph incrementally through "
            "IVF routing (init_knn_graph_ivf_root + sync_root, "
            "streaming/index_sync.py — "
            "per-batch cost |batch| x |probed postings|, never N^2), or "
            "raise ivf_max_rows deliberately"
        )
    }


def knn_graph_auto(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    exact_max_rows: int = 50_000,
    ivf_max_rows: int = 2_000_000,
    probe_mass: float = 0.125,
    n_blocks: int = 8,
    seed: int = 42,
    decimals: int = 6,
    slack: float = 1e-6,
) -> DataFrame:
    """The DEFAULT whole-corpus kNN-graph entry point: measure the
    corpus, then dispatch to the arm the decade-probe crossovers say
    is right (``knn_graph_auto_plan``) — exact block grid below the
    measured crossover, IVF at √N clusters / 12.5% probe mass in the
    mid range, explicit refusal (with the persisted-index lifecycle
    named) beyond. One count() job decides (parquet footers make it
    metadata-cheap); both arms share the strict-sum kernel, so emitted
    cosines are bit-identical either way and the only regime change is
    recall. Parity is pytest-pinned: auto ≡ the chosen arm's direct
    call in every regime, and the refusal names the alternative."""
    base = df.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    arm, params = knn_graph_auto_plan(
        base.count(), exact_max_rows, ivf_max_rows, probe_mass
    )
    if arm == "exact":
        return knn_graph(
            df, id_col, vec_col, k,
            n_blocks=n_blocks, decimals=decimals, slack=slack,
        )
    if arm == "ivf":
        return knn_graph_ivf(
            df, id_col, vec_col, k,
            n_clusters=params["n_clusters"], n_probe=params["n_probe"],
            seed=seed, decimals=decimals, slack=slack,
        )
    raise ValueError(params["reason"])


def knn_graph_ivf_fold(
    postings: DataFrame,
    centroids,
    new: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probes: int,
    base_graph: DataFrame,
    cluster_col: str = "cluster",
    decimals: int = 6,
    slack: float = 1e-6,
) -> DataFrame:
    """Fold an APPEND-ONLY batch into a kNN graph through IVF ROUTING —
    the maintenance arm for the regime ``knn_graph_auto_plan`` refuses
    (> ivf_max_rows), where even the |batch|·N exact fold of
    ``knn_graph_upsert`` is too much corpus to touch per batch.
    The corpus arrives as an IVF POSTING table ((id, vec, cluster) —
    ``build_ivf_index``/``load_synced_ivf``'s layout) plus its FIXED
    centroids; per batch the only corpus rows read are the postings in
    the union of the batch vectors' probed clusters — a
    partition-pruned fetch when the postings are saved partitioned by
    ``cluster``, so per-epoch cost is |batch| · |probed postings|,
    never |batch| · N.

    Candidate generation is symmetric per probed cluster c: batch
    vectors that probe c take c's postings as neighbor candidates
    (forward), and c's postings take exactly those batch vectors as
    candidates (reverse) — plus a driver-side batch×batch block under
    the same routing mask (own-cluster ∈ the other's probe set).
    Rows in un-probed clusters keep their stored lists bit-unchanged.

    EXACTNESS AT FULL WIDTH (what the oracle grades): with n_probes ≥
    n_clusters every cluster is probed, so forward sees the whole
    corpus, reverse gives every corpus row its full partial top-k
    against the batch, and the batch block is unmasked — the merge is
    then exactly the exact fold's candidate set for an append (stored
    lists ∪ partials vs the batch ∪ the batch's own lists), whose
    re-ranked union equals a full rebuild, with the same
    strict-sum 6dp cosines from the shared ``_partial_topk_side``
    kernel. At partial width the SAME merge is the recall dial: a
    missed edge is always a cross-cluster one the probe mass chose not
    to pay for (pytest-pinned recall floor on clustered batches).

    APPEND-ONLY CONTRACT: ``new`` ids must be disjoint from the
    postings' — an upsert needs corpus-wide stale-edge eviction, which
    is ``knn_graph_apply_cdc``'s exact job. ``new`` is an update batch:
    it ships in the scan closure.

    Returns the batch's graph delta (``apply_graph_delta`` gives the
    full graph): the final lists of exactly the ids whose top-k changed
    — the batch's new ids plus corpus rows that admitted a batch
    neighbor. Appends invalidate nobody's stored list outright (no
    evictions), so the delta carries no markers.
    """
    centers = np.asarray(centroids, dtype="float64")
    n_clusters = len(centers)
    new_rows = (
        new.select(id_col, vec_col).filter(F.col(vec_col).isNotNull()).collect()
    )
    new_list = sorted(
        (int(r[id_col]), [float(x) for x in r[vec_col]]) for r in new_rows
    )
    if not new_list:  # the closure matrices below need ≥ 1 row
        return _empty_graph_delta(new.sparkSession, id_col)
    qids = np.asarray([q for q, _ in new_list], dtype=np.int64)
    qmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in new_list])
    qnorm = np.sqrt(np.cumsum(qmat * qmat, axis=1)[:, -1])

    # probe routing: the SAME normalized-matmul expression as
    # centroid_assign_udf / IvfIndex.probe_clusters, stable tiebreak
    qn = np.linalg.norm(qmat, axis=1, keepdims=True)
    sims = (qmat / np.where(qn > 0, qn, 1.0)) @ centers.T
    order = np.argsort(-sims, axis=1, kind="stable")
    width = min(n_probes, n_clusters)
    probe_sets = [set(int(c) for c in order[r, :width]) for r in range(len(qids))]
    own_cluster = order[:, 0]
    probed_union = sorted(set().union(*probe_sets))
    cluster_to_q = {}
    for r, ps in enumerate(probe_sets):
        for c in ps:
            cluster_to_q.setdefault(c, []).append(r)
    cluster_to_q = {c: np.asarray(rs, dtype=np.int64) for c, rs in cluster_to_q.items()}

    # FULL-WIDTH FAST PATH: every query probes every cluster, so the
    # per-cluster routing masks are all-true — grouping by cluster
    # would only fragment one big BLAS matmul into n_clusters small
    # ones (measured 1.4× slower than the exact fold at 448 clusters;
    # see SCALE_NOTES round 12). Skip the grouping and run the two
    # kernel passes once per Arrow chunk, which IS the exact fold's
    # shape — routing overhead only exists where routing can prune.
    full_width = width >= n_clusters

    def fold_scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_i, out_n, out_c = [], [], []
            groups = (
                ((None, pdf),) if full_width else pdf.groupby(cluster_col)
            )
            for c, grp in groups:
                if full_width:
                    q_idx = None
                else:
                    q_idx = cluster_to_q.get(int(c))
                    if q_idx is None or not len(q_idx):
                        continue
                ids = grp[id_col].to_numpy(dtype=np.int64)
                mat = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in grp[vec_col]]
                )
                norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
                if full_width:
                    sq_i, sq_m, sq_n = qids, qmat, qnorm
                else:
                    sq_i, sq_m, sq_n = qids[q_idx], qmat[q_idx], qnorm[q_idx]
                # forward: batch rows gather this cluster's postings
                _partial_topk_side(
                    sq_i, sq_m, sq_n, ids, mat, norms,
                    k, slack, out_i, out_n, out_c,
                )
                # reverse: this cluster's postings gather the batch
                # vectors that probed it
                _partial_topk_side(
                    ids, mat, norms, sq_i, sq_m, sq_n,
                    k, slack, out_i, out_n, out_c,
                )
            if out_i:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(out_i),
                        "neighbor": np.concatenate(out_n),
                        "cos_raw": np.concatenate(out_c),
                    }
                )

    emitted = (
        postings.filter(F.col(cluster_col).isin(probed_union))
        .select(id_col, vec_col, cluster_col)
        .mapInPandas(fold_scan, f"{id_col} long, neighbor long, cos_raw double")
        .withColumn("cos_sim", F.round("cos_raw", decimals))
        .select(id_col, "neighbor", "cos_sim")
    )

    # batch × batch under the same routing mask, driver-side (the batch
    # is closure-sized by contract; the kernel drops self-pairs)
    nn_i, nn_n, nn_c = [], [], []
    for r in range(len(qids)):
        allowed = np.asarray(
            [j for j in range(len(qids)) if int(own_cluster[j]) in probe_sets[r]],
            dtype=np.int64,
        )
        if len(allowed):
            _partial_topk_side(
                qids[r : r + 1], qmat[r : r + 1], qnorm[r : r + 1],
                qids[allowed], qmat[allowed], qnorm[allowed],
                k, slack, nn_i, nn_n, nn_c,
            )
    spark = new.sparkSession
    if nn_i:
        nn_rows = [
            (int(i), int(n), float(c))
            for i, n, c in zip(
                np.concatenate(nn_i), np.concatenate(nn_n), np.concatenate(nn_c)
            )
        ]
    else:
        nn_rows = []
    nn_df = (
        spark.createDataFrame(
            nn_rows, f"{id_col} long, neighbor long, cos_raw double"
        )
        .withColumn("cos_sim", F.round("cos_raw", decimals))
        .select(id_col, "neighbor", "cos_sim")
    )

    return _delta_finish(
        base_graph.select(id_col, "neighbor", "cos_sim"),
        [emitted, nn_df],
        id_col,
        k,
    )


def embedding_near_dup_probe(
    postings: DataFrame,
    centroids,
    new: DataFrame,
    id_col: str,
    vec_col: str,
    n_probes: int,
    min_cosine: float,
    cluster_col: str = "cluster",
    decimals: int = 6,
) -> DataFrame:
    """Probe a batch of NEW vectors against an IVF posting table for
    near-duplicate pairs (rounded cosine ≥ ``min_cosine``) — the
    embedding analog of ``probe_minhash_index``: per batch vector only
    the postings in its ``n_probes`` nearest clusters are scored
    (partition-pruned fetch on a saved cluster-partitioned table), so
    per-ingest cost is |batch| × |probed postings|, and corpus×corpus
    pairs are never enumerated. At full probe width the verdicts are
    EXHAUSTIVE — every (new, corpus) pair above threshold, exactly —
    which is the oracle-graded configuration; partial width is the
    recall dial (a missed pair is a cross-cluster one, and a true
    near-duplicate is in the same cluster unless the pair straddles a
    centroid boundary).

    Same exactness discipline as ``_partial_topk_side``: one BLAS
    matmul prunes (threshold − slack − reassociation bound), survivors
    recomputed with strict left-to-right ``np.cumsum`` sums —
    bit-identical to DuckDB's ``list_dot_product`` — then rounded at
    ``decimals`` and thresholded, so a SQL oracle replays the pair set
    value-exactly. Returns (new_vec, corpus_vec, cos_sim)."""
    centers = np.asarray(centroids, dtype="float64")
    n_clusters = len(centers)
    new_rows = (
        new.select(id_col, vec_col).filter(F.col(vec_col).isNotNull()).collect()
    )
    new_list = sorted(
        (int(r[id_col]), [float(x) for x in r[vec_col]]) for r in new_rows
    )
    spark = new.sparkSession
    if not new_list:
        return spark.createDataFrame(
            [], "new_vec long, corpus_vec long, cos_sim double"
        )
    qids = np.asarray([q for q, _ in new_list], dtype=np.int64)
    qmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in new_list])
    qnorm = np.sqrt(np.cumsum(qmat * qmat, axis=1)[:, -1])
    qn = np.linalg.norm(qmat, axis=1, keepdims=True)
    sims = (qmat / np.where(qn > 0, qn, 1.0)) @ centers.T
    order = np.argsort(-sims, axis=1, kind="stable")
    width = min(n_probes, n_clusters)
    cluster_to_q: dict[int, list[int]] = {}
    for r in range(len(qids)):
        for c in order[r, :width]:
            cluster_to_q.setdefault(int(c), []).append(r)
    cluster_to_q = {
        c: np.asarray(rs, dtype=np.int64) for c, rs in cluster_to_q.items()
    }
    probed_union = sorted(cluster_to_q)
    blas_eps = 1e-9
    # covers BLAS reassociation + the downstream rounding band
    prune_floor = min_cosine - 0.5 * 10 ** (-decimals) - 2 * blas_eps

    # full-width fast path: routing masks all-true — one matmul per
    # Arrow chunk instead of n_clusters fragments (knn_graph_ivf_fold's
    # measured lesson, SCALE_NOTES round 12)
    full_width = width >= n_clusters

    def probe_scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_n, out_c, out_s = [], [], []
            groups = (
                ((None, pdf),) if full_width else pdf.groupby(cluster_col)
            )
            for c, grp in groups:
                if full_width:
                    q_idx = np.arange(len(qids), dtype=np.int64)
                else:
                    q_idx = cluster_to_q.get(int(c))
                    if q_idx is None or not len(q_idx):
                        continue
                ids = grp[id_col].to_numpy(dtype=np.int64)
                mat = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in grp[vec_col]]
                )
                norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
                sq_i, sq_m, sq_n = qids[q_idx], qmat[q_idx], qnorm[q_idx]
                with np.errstate(divide="ignore", invalid="ignore"):
                    approx = (sq_m @ mat.T) / (sq_n[:, None] * norms[None, :])
                    hit_q, hit_r = np.nonzero(
                        np.isfinite(approx)
                        & (approx >= prune_floor)
                        & (sq_i[:, None] != ids[None, :])
                    )
                    if not len(hit_q):
                        continue
                    # strict-sum recompute for every surviving pair
                    dots = np.cumsum(
                        mat[hit_r] * sq_m[hit_q], axis=1
                    )[:, -1]
                    cos = dots / (norms[hit_r] * sq_n[hit_q])
                out_n.append(sq_i[hit_q])
                out_c.append(ids[hit_r])
                out_s.append(cos)
            if out_n:
                yield pd.DataFrame(
                    {
                        "new_vec": np.concatenate(out_n),
                        "corpus_vec": np.concatenate(out_c),
                        "cos_raw": np.concatenate(out_s),
                    }
                )

    return (
        postings.filter(F.col(cluster_col).isin(probed_union))
        .select(id_col, vec_col, cluster_col)
        .mapInPandas(
            probe_scan, "new_vec long, corpus_vec long, cos_raw double"
        )
        .withColumn("cos_sim", F.round("cos_raw", decimals))
        .filter(F.col("cos_sim") >= min_cosine)
        .select("new_vec", "corpus_vec", "cos_sim")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


_QUANT = 1 << 20  # fixed-point scale for the portable sign-LSH path


def portable_hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[int]]:
    """INTEGER sign-LSH hyperplanes derived from MD5(seed, plane,
    coordinate) — plain integer literals any engine regenerates.
    Combined with the 2^20 fixed-point quantization of the embedding
    (floor(x·2^20), see the banding UDF in ``embedding_near_dup_pairs``)
    every bucket bit is the sign of an EXACT
    signed-64 integer dot product: no float summation-order or rounding
    divergence between engines, which is what lets a SQL oracle replay
    the LSH candidate set bit-for-bit. Coefficients are uniform in
    [-2^19, 2^19); |qv·c| ≤ dim·2^20·2^19 ≪ 2^63 for any dim < 2^24.
    """
    import hashlib

    return [
        [
            int.from_bytes(
                hashlib.md5(f"rplsh:{seed}:{p}:{j}".encode()).digest()[:8], "big"
            )
            % (1 << 20)
            - (1 << 19)
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def rp_lsh_buckets(
    df: DataFrame, id_col: str, vec_col: str, planes: list[list[float]]
) -> DataFrame:
    """Bucket id = bit-packed signs of <v, plane_i> — a narrow map stage.

    At 100 TB the bucketed table is written partitioned by ``bucket`` so
    an ANN query prunes to one partition at scan time.
    """
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(F.col(vec_col), p) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + F.shiftleft(bit, i)
    return df.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    hamming_radius: int = 0,
) -> DataFrame:
    """Multi-probe LSH top-k: score vectors whose bucket signature is
    within ``hamming_radius`` bits of the query's (radius 0 = the
    query's own bucket — classic single-probe LSH).

    Two recall dials: ``n_planes`` sizes the buckets (2^planes of
    them), ``hamming_radius`` widens the probe — each extra bit of
    radius admits the buckets that disagree with the query on one more
    hyperplane, exactly the near-miss neighbors single-probe loses.
    At ``hamming_radius == n_planes`` every bucket is probed and the
    result EQUALS brute force — the oracle-able integrity contract (a
    vector the bucketing lost or mangled flips the result), same
    pattern as ``ivf_topk``'s full sweep.

    Exact cosine inside probed buckets, so any-radius results are a
    subset of brute-force ranking (pytest-pinned, with recall monotone
    in the radius). At 100 TB: bucketed table partitioned by bucket →
    a radius-r probe reads C(planes, ≤r) partitions, pruned at scan.
    """
    planes = random_hyperplanes(len(query_vec), n_planes, seed)
    bucketed = rp_lsh_buckets(df, id_col, vec_col, planes)
    qsig = 0
    for i, plane in enumerate(planes):
        s = sum(float(a) * float(b) for a, b in zip(query_vec, plane))
        if s >= 0:
            qsig |= 1 << i
    in_bucket = bucketed.filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qsig))) <= hamming_radius
    )
    return brute_force_topk(in_bucket, id_col, vec_col, query_vec, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.95,
    n_planes: int = 8,
    seeds: tuple[int, ...] = (42, 137, 9001, 271828),
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-seed sign-LSH
    bucketing (portable integer hyperplanes — see
    ``portable_hyperplanes``), then EXACT cosine verification on the
    union of candidates.

    Recall is a DIAL, not a constant: one 8-plane table keeps only
    p^8 ≈ 0.43 of true cos≥0.95 pairs (per-plane collision
    p = 1 - θ/π ≈ 0.90), but ``s`` independent seed tables miss a pair
    only if EVERY table splits it — recall = 1 - (1 - p^8)^s, ≈ 0.89 at
    s=3 and ≈ 0.94 at the default s=4 (pytest pins ≥ 0.8 on a synthetic
    fixture). More seeds buy recall linearly in cost.

    Plan shape (the MinHash banding trick, one shuffle total):
    1. per-seed bucket signatures — ONE narrow map computes all s
       signatures, exploded to (band, bucket) rows;
    2. self-join on (band, bucket) — a seed's near-parallel collisions
       only; candidate pairs found by several seeds are deduped BEFORE
       verification (groupBy pair), so exact cosine runs once per pair;
    3. exact cosine + threshold — no false positives survive.

    At 100 TB: write the banded table partitioned by (band, bucket);
    the self-join becomes partition-local. Verification cost is bounded
    by Σ largest-bucket² per band (n_planes tunes bucket sizes).
    """
    if dim is None:
        probe = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        if probe is None:  # empty input (or all-NULL vectors): no pairs
            return df.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cos_sim double"
            )
        dim = len(probe[0])

    banded = banded_signatures(df, id_col, vec_col, n_planes, seeds, dim)

    # per-(band, bucket) all-pairs verify inside applyInPandas — the
    # self-join formulation materialized every candidate pair carrying
    # both vectors (8.3M pairs ≈ 3.5 GB through shuffle + Arrow at
    # sf1.0, 60.7 s); here each banded row shuffles ONCE and only
    # survivors come back. A pair colliding in several bands is
    # re-verified per band to identical bits (same exact C ops on the
    # same doubles), deduped on the id pair.
    survivors = grouped_allpairs_cosine(
        banded, ["band", "bucket"], id_col, vec_col, min_cosine
    )
    return (
        survivors.dropDuplicates(["id_a", "id_b"])
        .withColumn("cos_sim", F.round(F.col("cos_raw"), 6))
        .filter(F.col("cos_sim") >= min_cosine)
        .select("id_a", "id_b", "cos_sim")
    )


def banded_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    seeds: tuple[int, ...],
    dim: int,
) -> DataFrame:
    """The sign-LSH candidate stage of :func:`embedding_near_dup_pairs`,
    exposed so independent verify formulations can diff against the
    SAME candidate set: (id, vec, band, bucket)
    rows, one per seed table per vector.
    """
    # portable integer planes + fixed-point quantization: the bucket
    # keys (and therefore the exact candidate set) are reproducible in
    # any engine — this is what upgrades the query from a recall-floor
    # pytest check to full value-exact oracle grading
    # ALL seeds' buckets in ONE Arrow-vectorized pass: the pure-SQL
    # formulation (32 interpreted higher-order aggregate expressions
    # per row) measured 3.3 ms/row — the whole-stage-codegen story
    # does not extend to nested-lambda HOFs, so this is the documented
    # "Arrow where Python wins" case. numpy int64 matmul of the
    # quantized vectors against the (dim × seeds·planes) plane matrix
    # reproduces the EXACT same integer signs (no BLAS on ints — exact
    # 64-bit arithmetic), so the bucket keys — and the DuckDB oracle
    # replay — are unchanged bit-for-bit.
    plane_mat = np.array(
        [
            [plane[j] for s in seeds for plane in portable_hyperplanes(dim, n_planes, s)]
            for j in range(dim)
        ],
        dtype=np.int64,
    )  # (dim, n_seeds*n_planes), column-major by (seed, plane)
    n_bands = len(seeds)

    @F.pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        res: list = [None] * len(vecs)
        mask = vecs.notna().to_numpy()
        if mask.any():
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
            )  # (m, dim) — one matmul per Arrow batch, no per-row math
            qv = np.floor(mat * float(_QUANT)).astype(np.int64)
            bits = (qv @ plane_mat) >= 0  # (m, n_seeds*n_planes)
            weights = np.int64(1) << np.arange(n_planes, dtype=np.int64)
            buckets = bits.reshape(len(mat), n_bands, n_planes) @ weights
            for pos, row in zip(np.nonzero(mask)[0], buckets):
                res[pos] = row
        return pd.Series(res, dtype=object)

    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(_buckets(F.col(vec_col))).alias("band", "bucket"),
    )


class IvfIndex:
    """A prebuilt IVF (inverted-file) index: a tiny centroid matrix held
    on the driver plus a cluster-assigned posting table in Spark.

    Build ONCE (``build_ivf_index``), probe MANY (``ivf_topk``) — the
    quantizer is never retrained on the query path. At 100 TB the
    posting table is written ``partitionBy("cluster")``
    (``save``/``load_ivf_index``) so a probe is partition-pruned at scan
    time — the classic FAISS-IVF layout expressed as a Spark table
    layout, with centroids (KiB-scale) riding along as a JSON sidecar.
    """

    def __init__(self, assigned: DataFrame, centroids, id_col: str, vec_col: str):
        self.assigned = assigned  # columns: id_col, vec_col, cluster
        self.centroids = np.asarray(centroids, dtype="float64")
        self.id_col = id_col
        self.vec_col = vec_col

    def probe_clusters(self, query_vec: list[float], n_probes: int) -> list[int]:
        """Driver-side centroid scan (numpy over a (k, dim) matrix — no
        Spark job): the ``n_probes`` clusters nearest the query by cosine.

        Ranks with the SAME expression form as ``centroid_assign_udf``
        (normalize the query, one plain matmul against the centroid
        matrix — centroids are unit-norm by ``_spherical_kmeans``
        construction, so dividing by their norms was a redundant float
        op that could flip argmax on ulp-level ties between assignment
        and probe routing) and breaks exact score ties toward the
        lower cluster id, as argmax does. Residual caveat: BLAS may
        still block a (1, dim) and an (n, dim) matmul differently, so
        bit-identity across the two call shapes is very likely but not
        guaranteed by the standard.
        """
        q = np.asarray([query_vec], dtype="float64")
        qn = np.linalg.norm(q, axis=1, keepdims=True)
        sims = (q / np.where(qn > 0, qn, 1.0) @ self.centroids.T)[0]
        return [int(i) for i in np.argsort(-sims, kind="stable")[:n_probes]]

    def save(self, path: str) -> None:
        """Persist postings partitioned by ``cluster`` + centroid sidecar."""
        import json
        import os

        self.assigned.write.mode("overwrite").partitionBy("cluster").parquet(
            os.path.join(path, "postings")
        )
        with open(os.path.join(path, "centroids.json"), "w") as f:
            json.dump(self.centroids.tolist(), f)

    def unpersist(self) -> None:
        self.assigned.unpersist()


def _spherical_kmeans(sample, n_clusters: int, seed: int, n_iter: int = 8):
    """Seeded spherical k-means (Lloyd on the unit sphere) over an
    in-driver sample — coarse quantization needs rough centroids, not
    convergence, so FAISS-style practice is a capped-iteration fit on a
    bounded sample rather than a distributed fit over the corpus.
    Returns a (n_clusters, dim) numpy centroid matrix.
    """
    X = np.asarray(sample, dtype="float64")
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = X / np.where(norms > 0, norms, 1.0)
    rng = np.random.default_rng(seed)
    k = min(n_clusters, len(Xn))
    centers = Xn[rng.choice(len(Xn), size=k, replace=False)]
    for _ in range(n_iter):
        sims = Xn @ centers.T
        labels = sims.argmax(axis=1)
        for c in range(k):
            members = Xn[labels == c]
            if len(members) == 0:  # dead centroid: reseed to a random point
                centers[c] = Xn[rng.integers(len(Xn))]
                continue
            m = members.mean(axis=0)
            n = np.linalg.norm(m)
            centers[c] = m / n if n > 0 else m
    return centers


def centroid_assign_udf(centers):
    """Arrow-batched nearest-centroid assignment against a FIXED
    (k, dim) centroid matrix — THE map every IVF lifecycle stage shares
    (offline build, batch ``append_to_ivf_index``, streaming
    ``sync_root`` on IVF-family roots): one numpy matmul per batch, no
    distributed fit, broadcast cost = the KiB-scale centroid matrix
    riding the closure. One definition means build-time and
    maintenance-time routing can never diverge."""
    centers = np.asarray(centers, dtype="float64")

    @F.pandas_udf("int")
    def _assign(batch: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(v, dtype="float64") for v in batch])
        if M.size == 0:
            return pd.Series([], dtype="int32")
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        Mn = M / np.where(norms > 0, norms, 1.0)
        return pd.Series((Mn @ centers.T).argmax(axis=1), dtype="int32")

    return _assign


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    seed: int = 42,
    sample_cap: int = 65536,
    persist: bool = True,
) -> IvfIndex:
    """Offline IVF index build: train the coarse quantizer on a bounded
    driver-side sample, then assign every vector to its nearest centroid
    with ONE Arrow-batched map pass (numpy matmul per batch — no
    distributed iterative fit, no MLlib job storm).

    The assignment pass is the only corpus-wide work and it is a narrow
    map: at 100 TB it is scan-speed, and the result is written
    partitioned by ``cluster`` (``IvfIndex.save``) exactly once, amortized
    over every subsequent probe.
    """
    from spacex_data_engineering_pipeline_spark.operators.util import (
        deterministic_sample_vectors,
    )

    sample = deterministic_sample_vectors(df, id_col, vec_col, sample_cap)
    if not sample:
        raise ValueError("cannot build an IVF index over an empty corpus")
    centers = _spherical_kmeans(sample, n_clusters, seed)
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        centroid_assign_udf(centers)(F.col(vec_col)).alias("cluster"),
    )
    if persist:
        assigned = assigned.persist()
    return IvfIndex(assigned, centers, id_col, vec_col)


def append_to_ivf_index(
    spark, path: str, new_vectors: DataFrame, id_col: str, vec_col: str
) -> int:
    """Incremental index maintenance: assign a NEW batch of vectors
    against the SAVED centroids (no retraining — the quantizer is fixed
    for the index's lifetime, as in FAISS `add`) and append to the
    partitioned posting table. The batch is the only thing scanned; the
    existing 100 TB of postings is untouched — this is why an index at
    scale can stay fresh per ingest batch instead of being rebuilt.
    Returns the number of vectors appended. Re-train (a new
    ``build_ivf_index``) only when drift degrades probe recall.

    NOT idempotent: replaying a batch appends its postings twice (plain
    parquet append has no transactional dedup). Drive it from a
    checkpointed stream (foreachBatch) or an ingest log that guarantees
    each batch commits once — the same exactly-once contract the
    pipeline's upsert path documents.
    """
    import json
    import os

    with open(os.path.join(path, "centroids.json")) as f:
        centers = np.asarray(json.load(f), dtype="float64")

    from pyspark.sql import Observation

    obs = Observation()
    assigned = new_vectors.select(
        F.col(id_col),
        F.col(vec_col),
        centroid_assign_udf(centers)(F.col(vec_col)).alias("cluster"),
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    assigned.write.mode("append").partitionBy("cluster").parquet(
        os.path.join(path, "postings")
    )
    return int(obs.get["n"])


def load_ivf_index(spark, path: str, id_col: str, vec_col: str) -> IvfIndex:
    """Open a saved index: postings come back partitioned by ``cluster``
    (probes are partition-pruned), centroids from the JSON sidecar."""
    import json
    import os

    with open(os.path.join(path, "centroids.json")) as f:
        centroids = json.load(f)
    assigned = spark.read.parquet(os.path.join(path, "postings"))
    return IvfIndex(assigned, centroids, id_col, vec_col)


def ivf_topk(
    index: IvfIndex,
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 4,
) -> DataFrame:
    """IVF ANN probe against a PREBUILT index: score only the
    ``n_probes`` clusters whose centroids are nearest the query — the
    recall/cost dial is probes/clusters; probe selection is a driver-side
    numpy scan of the centroid matrix (no job). Exact cosine inside the
    probed lists, so results are a subset of brute-force ranking
    (asserted in tests); with ``n_probes == n_clusters`` the probe
    sweeps the whole index and EQUALS brute force — which doubles as the
    index-integrity oracle (assignment lost or duplicated no vector).
    """
    probe_ids = index.probe_clusters(query_vec, n_probes)
    probed = index.assigned.filter(F.col("cluster").isin(probe_ids)).drop("cluster")
    return brute_force_topk(probed, index.id_col, index.vec_col, query_vec, k)


def ivf_batch_topk(
    index: IvfIndex,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_probes: int = 4,
) -> DataFrame:
    """Batched IVF probe: top-k for a whole query batch in ONE pass
    over the UNION of every query's probed clusters. Probe selection
    is a driver-side numpy scan per query (no job); the posting scan
    is partition-pruned to the union (``isin`` on the partition
    column for a saved index), and inside the scan each query only
    scores rows of ITS probe set (per-query cluster mask in the
    partial-top-k kernel). Cost: |union of probed postings| × Q flops,
    one scan — vs Q pruned scans for repeated ``ivf_topk``. With
    ``n_probes == n_clusters`` this EQUALS the batched brute force,
    which is the index-integrity oracle the catalog grades.
    """
    probe_map = {
        int(qid): index.probe_clusters(vec, n_probes) for qid, vec in queries
    }
    union = sorted({c for cl in probe_map.values() for c in cl})
    probed = index.assigned.filter(F.col("cluster").isin(union))
    return batch_knn_topk(
        probed, index.id_col, index.vec_col, queries, k, probe_map=probe_map
    )
