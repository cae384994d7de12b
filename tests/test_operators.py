"""Semantic tests for operators without a SQL oracle: MinHash-LSH
recall vs exact Jaccard, SimHash properties, ANN-vs-brute-force
consistency, exact dedup, and the multimodal stub contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.catalog import load_table
from spacex_data_engineering_pipeline_spark.functions.text import word_ngrams
from spacex_data_engineering_pipeline_spark.operators import dedup as D
from spacex_data_engineering_pipeline_spark.operators import multimodal as M
from spacex_data_engineering_pipeline_spark.operators import similarity as S


def _exact_jaccard_pairs(spark, sf_dir, min_micro):
    """Ground truth: exact pairwise Jaccard over ALL document pairs
    (no blocking, no LSH) — O(n²), fine at test scale only."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        F.col("doc_id").alias("doc"),
        F.array_distinct(word_ngrams(F.col("text"), 3)).alias("grams"),
    ).filter(F.size("grams") > 0)
    a = grams.select(F.col("doc").alias("doc_a"), F.col("grams").alias("ga"))
    b = grams.select(F.col("doc").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb")).cast("long")
    union = F.size("ga").cast("long") + F.size("gb").cast("long") - inter
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard_micro", F.floor((inter * F.lit(1_000_000)) / union).cast("long"))
        .filter(F.col("jaccard_micro") >= min_micro)
    )


def test_minhash_lsh_recall_and_exactness(spark, sf_dir):
    lsh = D.minhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=64,
        bands=16,
        min_jaccard_micro=300_000,
    )
    lsh_pairs = {(r.doc_a, r.doc_b): r.jaccard_micro for r in lsh.collect()}
    truth = {
        (r.doc_a, r.doc_b): r.jaccard_micro
        for r in _exact_jaccard_pairs(spark, sf_dir, 300_000).collect()
    }
    # 1. Verification stage is exact: every reported value equals truth.
    for pair, micro in lsh_pairs.items():
        assert truth.get(pair) == micro, f"LSH reported wrong jaccard for {pair}"
    # 2. No false positives survive verification.
    assert set(lsh_pairs) <= set(truth)
    # 3. High-similarity recall: 16 bands × 4 rows catches j>=0.9 pairs
    #    with probability ~1 - (1 - 0.9^4)^16 ≈ 0.9989.
    high = {p for p, m in truth.items() if m >= 900_000}
    assert high <= set(lsh_pairs), f"missed high-jaccard pairs: {high - set(lsh_pairs)}"


def test_minhash_probe_consistent_with_batch_pipeline(spark, sf_dir):
    """The incremental index probe and the batch all-pairs pipeline use
    one shared band-key builder, so their verdicts must coincide on the
    cross partition: a (new, corpus) pair survives the probe iff the
    batch pipeline over the full corpus reports the same pair with the
    same exact jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    probe = {
        (r.new_doc, r.corpus_doc): r.jaccard_micro
        for r in D.minhash_probe_pairs(
            corpus, new, "doc_id", "text", min_jaccard_micro=300_000
        ).collect()
    }
    batch = {
        (r.doc_a, r.doc_b): r.jaccard_micro
        for r in D.minhash_near_dup_pairs(
            docs, "doc_id", "text", min_jaccard_micro=300_000
        ).collect()
    }
    # batch emits doc_a < doc_b; probe emits (new, corpus) either order
    batch_cross = {
        (a, b): m
        for (a, b), m in batch.items()
        if (a % 5 == 0) != (b % 5 == 0)
    }
    probe_norm = {
        ((n, c) if n < c else (c, n)): m for (n, c), m in probe.items()
    }
    assert probe_norm == batch_cross


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # identical
            (3, "the quick brown fox jumps over the lazy cat"),  # near-dup
            (4, "completely different text about spark engines and shuffles"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc: r for r in D.simhash_buckets(df, "doc_id", "text").collect()}
    assert rows[1].simhash == rows[2].simhash, "identical text must hash identically"

    def hamming(a, b):
        return bin((a & (2**64 - 1)) ^ (b & (2**64 - 1))).count("1")

    near = hamming(rows[1].simhash, rows[3].simhash)
    far = hamming(rows[1].simhash, rows[4].simhash)
    assert near < far, f"near-dup hamming {near} should be < unrelated {far}"
    # band keys recover identical docs without pairwise comparison
    assert any(rows[1][f"band{i}"] == rows[2][f"band{i}"] for i in range(4))


def test_ann_lsh_consistent_with_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    q_row = (
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).first()
    )
    query = [float(x) for x in q_row.embedding]
    ann = {r.vec_id: r.cos_sim for r in S.ann_topk(emb, "vec_id", "embedding", query, 10).collect()}
    brute = {
        r.vec_id: r.cos_sim
        for r in S.cosine_scores(emb, "vec_id", "embedding", query).collect()
    }
    # every ANN score must equal the exact cosine for that vector
    for vec_id, cos in ann.items():
        assert brute[vec_id] == cos

    # multi-probe dial: wider Hamming radius probes more buckets, so
    # candidate sets are nested and top-10 recall is monotone; at full
    # radius the probe IS brute force (the graded oracle contract)
    true_top = [
        vid
        for vid, _ in sorted(brute.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    ]
    prev_recall = -1.0
    for radius in (0, 2, 4, 8):
        got = [
            (r.vec_id, r.cos_sim)
            for r in S.ann_topk(
                emb, "vec_id", "embedding", query, 10, hamming_radius=radius
            ).collect()
        ]
        recall = len({vid for vid, _ in got} & set(true_top)) / 10
        assert recall >= prev_recall, f"recall fell when widening radius {radius}"
        prev_recall = recall
    assert [vid for vid, _ in got] == true_top  # radius 8/8 == brute force


def test_batch_knn_matches_per_query_bruteforce(spark, sf_dir):
    """Two-formulation pin: the one-scan batched kNN (partition-local
    partial top-k + slack band) must equal k independent brute-force
    top-k scans, including under a hostile repartition that splits the
    corpus into many small partitions (exercising the per-partition
    prune + global merge path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 4).select("vec_id", "embedding").collect()
    queries = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows
    )
    cands = emb.filter(F.col("vec_id") >= 4).repartition(16)
    batched = [
        (r.query_id, r.rnk, r.vec_id, r.cos_sim)
        for r in S.batch_knn_topk(cands, "vec_id", "embedding", queries, k=7)
        .orderBy("query_id", "rnk")
        .collect()
    ]
    expected = []
    for qid, vec in queries:
        top = S.brute_force_topk(cands, "vec_id", "embedding", vec, 7).collect()
        expected.extend(
            (qid, i + 1, r.vec_id, r.cos_sim) for i, r in enumerate(top)
        )
    assert batched == expected


def test_knn_graph_blockcount_invariance_and_nulls(spark, sf_dir):
    """kNN-graph pins: (1) the block-grid result is INVARIANT to
    n_blocks (1 block = one all-pairs cell; 8 blocks = the grid path
    with both diagonal and cross cells), (2) each row's list equals
    the brute-force ranking against its vector, (3) NULL and zero-norm
    vectors neither crash the Arrow kernel nor appear as neighbors."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    dim = len(emb.first()["embedding"])
    extra = spark.createDataFrame(
        [(10_001, None), (10_002, [0.0] * dim)],
        schema=emb.select("vec_id", "embedding").schema,
    )
    noisy = emb.select("vec_id", "embedding").unionByName(extra).repartition(16)
    grids = {
        b: [
            (r.vec_id, r.rnk, r.neighbor, r.cos_sim)
            for r in S.knn_graph(noisy, "vec_id", "embedding", k=5, n_blocks=b)
            .orderBy("vec_id", "rnk")
            .collect()
        ]
        for b in (1, 3, 8)
    }
    assert grids[1] == grids[3] == grids[8]
    ids = {t[0] for t in grids[8]}
    neigh = {t[2] for t in grids[8]}
    assert 10_001 not in ids and 10_001 not in neigh  # NULL vec filtered
    assert 10_002 not in ids and 10_002 not in neigh  # zero-norm excluded
    # per-row agreement with the single-query brute force arm
    row0 = [t for t in grids[8] if t[0] == 0]
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    brute = S.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", q, 5
    ).collect()
    assert [(t[2], t[3]) for t in row0] == [(r.vec_id, r.cos_sim) for r in brute]


def test_knn_graph_incremental_equals_rebuild(spark, sf_dir):
    """Incremental maintenance pin: upserting a batch of NEW ids (an
    append) into the old-corpus graph must be row-identical to a full
    rebuild over the union — including when the batch contains NULL and
    zero-norm vectors and under an uneven split (last 25% of ids arrive
    as the batch)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 96)
    dim = len(emb.first()["embedding"])
    extra = spark.createDataFrame(
        [(20_001, None), (20_002, [0.0] * dim)],
        schema=emb.select("vec_id", "embedding").schema,
    )
    noisy = emb.select("vec_id", "embedding").unionByName(extra)
    old = noisy.filter(F.col("vec_id") < 72)
    new = noisy.filter(F.col("vec_id") >= 72)
    inc = [
        (r.vec_id, r.rnk, r.neighbor, r.cos_sim)
        for r in S.knn_graph_upsert(old, new, "vec_id", "embedding", k=4)
        .orderBy("vec_id", "rnk")
        .collect()
    ]
    full = [
        (r.vec_id, r.rnk, r.neighbor, r.cos_sim)
        for r in S.knn_graph(noisy, "vec_id", "embedding", k=4)
        .orderBy("vec_id", "rnk")
        .collect()
    ]
    assert inc == full


def test_knn_graph_ivf_fold_full_width_equals_rebuild(spark, sf_dir):
    """IVF-ROUTED graph maintenance, both ends of the recall dial: at
    FULL probe width (n_probes = n_clusters) folding an append batch
    through the posting table must be row-identical to a full rebuild
    over the union (every cluster probed ⇒ the candidate set is the
    exact fold's for an append, whose merge is exact by theorem); at
    partial width the result must (a) leave every row of an un-probed
    cluster bit-unchanged from the base graph and (b) keep a recall
    floor on the probed ones — a missed edge is a cross-cluster one
    the probe mass chose not to pay for, never a corrupted list."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    mx = int(emb.agg(F.max("vec_id").alias("m")).first()["m"])
    split = mx * 90 // 100
    base = emb.filter(F.col("vec_id") < split)
    new = emb.filter(F.col("vec_id") >= split)
    idx = S.build_ivf_index(
        base, "vec_id", "embedding", n_clusters=8, seed=7, persist=False
    )
    base_graph = S.knn_graph(base, "vec_id", "embedding", k=4)

    folded = [
        tuple(r)
        for r in S.apply_graph_delta(
            base_graph,
            S.knn_graph_ivf_fold(
                idx.assigned, idx.centroids, new, "vec_id", "embedding", 4,
                n_probes=8, base_graph=base_graph,
            ),
            "vec_id",
        ).orderBy("vec_id", "rnk").collect()
    ]
    rebuilt = [
        tuple(r)
        for r in S.knn_graph(emb, "vec_id", "embedding", k=4)
        .orderBy("vec_id", "rnk")
        .collect()
    ]
    assert folded == rebuilt

    # partial width: probed-cluster rows keep a recall floor, rows in
    # never-probed clusters are bit-identical to the base graph
    part = S.apply_graph_delta(
        base_graph,
        S.knn_graph_ivf_fold(
            idx.assigned, idx.centroids, new, "vec_id", "embedding", 4,
            n_probes=2, base_graph=base_graph,
        ),
        "vec_id",
    )
    part_rows = {tuple(r) for r in part.collect()}
    true_rows = set(rebuilt)
    recall = len(part_rows & true_rows) / len(true_rows)
    assert recall >= 0.5, f"partial-probe recall {recall}"
    base_rows = {
        tuple(r) for r in base_graph.orderBy("vec_id", "rnk").collect()
    }
    # every base row the fold changed must belong to a PROBED cluster
    changed_ids = {r[0] for r in (base_rows - part_rows)}
    if changed_ids:
        import numpy as np

        centers = np.asarray(idx.centroids)
        probed = set()
        for r in new.collect():
            q = np.asarray([list(r["embedding"])], dtype="float64")
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            sims = (q / np.where(qn > 0, qn, 1.0) @ centers.T)[0]
            probed |= {int(i) for i in np.argsort(-sims, kind="stable")[:2]}
        clusters = {
            r["vec_id"]: r["cluster"]
            for r in idx.assigned.select("vec_id", "cluster").collect()
        }
        assert all(clusters[i] in probed for i in changed_ids)


def test_cdc_chunking_edit_locality(spark):
    """THE content-defined-chunking property: inserting a span into
    the middle of a document changes only the chunks whose boundary
    windows overlap the edit — every chunk of the original that lies
    entirely outside the edit's window-radius survives with an
    IDENTICAL hash in the edited document (a fixed-size chunker would
    shift and re-hash every chunk after the edit). Verified on a
    200-token document with a 5-token insertion at position 100:
    chunks fully inside [1, 97] or [104, 200] (original coordinates,
    window=3 ⇒ radius 2 on each side) must all reappear."""
    import hashlib

    base = [
        hashlib.md5(f"tok{i}".encode()).hexdigest()[:6] for i in range(200)
    ]
    ins_at, span = 100, ["zzz1", "zzz2", "zzz3", "zzz4", "zzz5"]
    edited = base[:ins_at] + span + base[ins_at:]
    df = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(edited))], "doc_id long, text string"
    )
    chunks = {
        1: [],
        2: [],
    }
    for r in D.content_defined_chunk_hashes(
        df, "doc_id", "text", window=3, modulus=16
    ).collect():
        chunks[r.doc_id].append((r.chunk_pos, r.n_toks, r.chunk_hash))
    hashes_edited = {h for _, _, h in chunks[2]}
    # original chunks entirely clear of the edit window must survive
    affected_lo, affected_hi = ins_at - 2, ins_at + 3  # 1-based token range
    survivors_expected = [
        (pos, n, h)
        for pos, n, h in chunks[1]
        if pos + n - 1 < affected_lo or pos > affected_hi
    ]
    assert survivors_expected, "fixture too short to exercise the property"
    missing = [c for c in survivors_expected if c[2] not in hashes_edited]
    assert not missing, f"edit-locality violated for chunks {missing}"
    # and the token accounting must be exact on both docs
    assert sum(n for _, n, _ in chunks[1]) == 200
    assert sum(n for _, n, _ in chunks[2]) == 205


def test_knn_graph_save_load_incremental(spark, sf_dir, tmp_path):
    """Persisted-graph maintenance: build on the old corpus, SAVE,
    reload, fold in a new batch against the LOADED graph — must equal
    the full rebuild row for row (the production path where the N²
    build is paid once per corpus, not once per batch). A bucket-probe
    read of the saved layout must partition-prune at file listing."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 96)
    old = emb.filter(F.col("vec_id") < 72).select("vec_id", "embedding")
    new = emb.filter(F.col("vec_id") >= 72).select("vec_id", "embedding")
    built = S.knn_graph(old, "vec_id", "embedding", k=4)
    path = str(tmp_path / "knng")
    S.save_knn_graph(built, path, "vec_id", n_buckets=8)
    loaded = S.load_knn_graph(spark, path)
    assert set(loaded.columns) == {"vec_id", "rnk", "neighbor", "cos_sim"}
    inc = [
        tuple(r)
        for r in S.knn_graph_upsert(
            old, new, "vec_id", "embedding", k=4, base_graph=loaded
        )
        .orderBy("vec_id", "rnk")
        .collect()
    ]
    full = [
        tuple(r)
        for r in S.knn_graph(
            emb.select("vec_id", "embedding"), "vec_id", "embedding", k=4
        )
        .orderBy("vec_id", "rnk")
        .collect()
    ]
    assert inc == full
    # point lookup partition-prunes: the bucket predicate reaches the
    # file index as a partition filter
    import os

    raw = spark.read.parquet(os.path.join(path, "edges"))
    probe = raw.filter(F.col("__bucket") == 3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


def test_trim_maximal_spans_policy(spark):
    """Maximal-run semantics on a crafted fixture: overlapping
    duplicated 8-gram windows MERGE into one island; only islands
    ≥ min_len are removed; an isolated duplicated 8-gram (exactly 8
    covered tokens < min_len=12) SURVIVES — the distinction from the
    every-covered-token variant."""
    shared_long = [f"boiler{i}" for i in range(20)]  # 20-token dup block
    shared_short = [f"idiom{i}" for i in range(8)]  # isolated 8-gram dup
    u = lambda tag, k: [f"{tag}{i}" for i in range(k)]  # noqa: E731
    doc1 = u("a", 5) + shared_long + u("b", 5) + shared_short + u("c", 5)
    doc2 = u("d", 5) + shared_long + u("e", 5) + shared_short + u("f", 5)
    docs = spark.createDataFrame(
        [(1, " ".join(doc1)), (2, " ".join(doc2))], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in D.trim_maximal_spans(
            docs, "doc_id", "text", n=8, min_df=2, min_len=12
        ).collect()
    }
    for did, toks in ((1, doc1), (2, doc2)):
        r = out[did]
        assert r["n_tokens"] == len(toks)
        # exactly the 20-token block is removed; the idiom survives
        assert r["n_spans"] == 1
        assert r["n_kept"] == len(toks) - len(shared_long)
        cleaned = r["cleaned_text"].split(" ")
        assert all(t not in cleaned for t in shared_long)
        assert all(t in cleaned for t in shared_short)
        # order preserved
        expect = [t for t in toks if t not in set(shared_long)]
        assert cleaned == expect
    # the blunt variant would also remove the idiom — pin the contrast
    blunt = {
        r["doc_id"]: r["n_kept"]
        for r in D.trim_duplicated_spans(
            docs, "doc_id", "text", n=8, min_df=2
        ).collect()
    }
    assert blunt[1] == len(doc1) - len(shared_long) - len(shared_short)


def test_knn_graph_ivf_full_probe_equals_exact(spark, sf_dir):
    """The index-integrity contract: at n_probe == n_clusters the
    IVF-pruned graph covers every (query, member) pair exactly once
    and must EQUAL the exact block-grid graph row for row — a member
    lost, double-routed, or mis-probed flips this."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = [
        tuple(r)
        for r in S.knn_graph(emb, "vec_id", "embedding", k=5)
        .orderBy("vec_id", "rnk")
        .collect()
    ]
    ivf = [
        tuple(r)
        for r in S.knn_graph_ivf(
            emb, "vec_id", "embedding", k=5, n_clusters=4, n_probe=4
        )
        .orderBy("vec_id", "rnk")
        .collect()
    ]
    assert ivf == exact
    # and routing is a pure function of the data, not the layout
    shuffled = [
        tuple(r)
        for r in S.knn_graph_ivf(
            emb.repartition(64), "vec_id", "embedding", k=5,
            n_clusters=4, n_probe=4,
        )
        .orderBy("vec_id", "rnk")
        .collect()
    ]
    assert shuffled == exact


def test_knn_graph_ivf_recall_monotone_cosines_exact(spark, sf_dir):
    """The approximation contract: recall vs the exact graph is
    monotone in n_probe (each extra probe only ADDS candidate
    clusters), and every EMITTED cosine carries the exact strict-sum
    bits — the property that makes the recall measurement meaningful
    (a drifted cosine would re-rank pairs, not just miss them)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.knn_graph(emb, "vec_id", "embedding", k=5).collect()
    ex_edges = {(r["vec_id"], r["neighbor"]) for r in exact}
    ex_cos = {(r["vec_id"], r["neighbor"]): r["cos_sim"] for r in exact}
    recalls = []
    for n_probe in (1, 2, 4):
        ap = S.knn_graph_ivf(
            emb, "vec_id", "embedding", k=5, n_clusters=4, n_probe=n_probe
        ).collect()
        edges = {(r["vec_id"], r["neighbor"]) for r in ap}
        recalls.append(len(edges & ex_edges) / len(ex_edges))
        bad = [
            (r["vec_id"], r["neighbor"])
            for r in ap
            if (r["vec_id"], r["neighbor"]) in ex_cos
            and ex_cos[(r["vec_id"], r["neighbor"])] != r["cos_sim"]
        ]
        assert not bad, f"n_probe={n_probe}: drifted cosines {bad[:3]}"
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[-1] == 1.0  # full probe ⇒ exact
    assert recalls[1] >= 0.4, f"half-probe recall collapsed: {recalls}"


def test_knn_graph_ivf_exploits_cluster_structure(spark):
    """On CLUSTERED data (the shape of real embedding corpora) a small
    probe fraction must recover almost the whole exact graph: 16
    planted Gaussian clusters, n_probe=2 of n_clusters=16 (12.5% of
    pair space) ⇒ recall ≥ 0.9 — true neighbors co-reside in the
    probed cells. The testdata embeddings are rotation-spread (no
    structure, SCALE_NOTES), where recall ≈ probe mass; this pins the
    other regime so the operator's value doesn't rest on unstructured
    inputs."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(16, 32)) * 5.0
    rows = []
    for i in range(800):
        c = i % 16
        rows.append((i, (centers[c] + rng.normal(size=32) * 0.3).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = S.knn_graph(df, "vec_id", "embedding", k=5)
    ex_edges = {(r["vec_id"], r["neighbor"]) for r in exact.collect()}
    ap = S.knn_graph_ivf(
        df, "vec_id", "embedding", k=5, n_clusters=16, n_probe=2
    )
    edges = {(r["vec_id"], r["neighbor"]) for r in ap.collect()}
    recall = len(edges & ex_edges) / len(ex_edges)
    assert recall >= 0.9, recall


def test_knn_graph_upsert_equals_rebuild(spark, sf_dir):
    """Upsert maintenance ≡ full rebuild on both paths: re-vectored
    ids (the case the append-only arm cannot honor — stale edges at
    updated neighbors must be evicted) and brand-new ids, against a
    PERSISTED base graph like production."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    ).filter(F.col("vec_id") < 96)
    base = S.knn_graph(emb, "vec_id", "embedding", k=4)
    # re-vector ids 80+ (reversed arrays: same norm, new direction)
    upd = emb.filter(F.col("vec_id") >= 80).select(
        "vec_id",
        F.reverse(F.col("embedding").cast("array<double>")).alias("embedding"),
    )
    got = [
        tuple(r)
        for r in S.knn_graph_upsert(
            emb, upd, "vec_id", "embedding", k=4, base_graph=base
        ).orderBy("vec_id", "rnk").collect()
    ]
    merged = (
        emb.filter(F.col("vec_id") < 80)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .unionByName(upd)
    )
    want = [
        tuple(r)
        for r in S.knn_graph(merged, "vec_id", "embedding", k=4)
        .orderBy("vec_id", "rnk").collect()
    ]
    assert got == want
    # empty update batch is a no-op
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    noop = [
        tuple(r)
        for r in S.knn_graph_upsert(
            emb, empty, "vec_id", "embedding", k=4, base_graph=base
        ).orderBy("vec_id", "rnk").collect()
    ]
    assert noop == [tuple(r) for r in base.orderBy("vec_id", "rnk").collect()]
    # hub-scale upserts refuse rather than silently broadcast
    with pytest.raises(ValueError, match="max_affected"):
        S.knn_graph_upsert(
            emb, upd, "vec_id", "embedding", k=4,
            base_graph=base, max_affected=3,
        )


def test_jl_projection_determinism_and_shortlist_recall(spark, sf_dir):
    """Integer JL: the projection is a pure function of the data
    (layout-invariant exact int64 coordinates), and a 16-dim L2²
    shortlist of 30 recovers most of the exact float top-10 — the
    quality pin that makes the jl_rerank contract meaningful (JL at
    16 dims distorts, but not enough to push true top-10 neighbors
    out of a 3× shortlist on real embeddings)."""
    from spacex_data_engineering_pipeline_spark.functions.vectors import (
        jl_project,
        jl_scaled,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    planes = S.portable_hyperplanes(64, 16, 42)
    jl = emb.select(
        "vec_id", jl_scaled(jl_project(F.col("embedding"), planes)).alias("v")
    )
    base = {r["vec_id"]: list(r["v"]) for r in jl.collect()}
    shuf = {
        r["vec_id"]: list(r["v"])
        for r in emb.repartition(64)
        .select(
            "vec_id",
            jl_scaled(jl_project(F.col("embedding"), planes)).alias("v"),
        )
        .collect()
    }
    assert base == shuf
    # shortlist recall vs the exact float top-10 for query vec 0
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact10 = {
        r["vec_id"]
        for r in S.brute_force_topk(
            emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", qvec, 10
        ).collect()
    }
    q = base[0]
    d2 = {
        vid: sum((a - b) * (a - b) for a, b in zip(v, q))
        for vid, v in base.items()
        if vid != 0
    }
    short30 = {v for v, _ in sorted(d2.items(), key=lambda t: (t[1], t[0]))[:30]}
    assert len(short30 & exact10) >= 6, sorted(short30 & exact10)


def test_mutual_knn_edges_are_symmetric_subset(spark, sf_dir):
    """Mutual-kNN contract: every output pair (a < b) appears in BOTH
    directions of the kNN graph, and every such bidirectional pair is
    output exactly once."""
    from spacex_data_engineering_pipeline_spark.plans.queries import QUERIES

    out = QUERIES["embedding_mutual_knn_pairs"](spark, sf_dir).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert len(pairs) == len(out)  # no dup rows
    emb = load_table(spark, sf_dir, "embeddings")
    g = S.knn_graph(emb, "vec_id", "embedding", k=5)
    edges = {(r["vec_id"], r["neighbor"]) for r in g.collect()}
    expect = {(a, b) for a, b in edges if a < b and (b, a) in edges}
    assert pairs == expect
    assert all(a < b for a, b in pairs)


def test_knn_graph_incremental_empty_batch(spark, sf_dir, tmp_path):
    """A no-op update (empty or all-NULL new batch) must return the
    base graph unchanged instead of crashing on np.stack of zero
    arrays — the plausible production case where an ingest tick
    carries no new vectors."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    old = emb.select("vec_id", "embedding")
    base = S.knn_graph(old, "vec_id", "embedding", k=4)
    base_rows = [tuple(r) for r in base.orderBy("vec_id", "rnk").collect()]
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = S.knn_graph_upsert(
        old, empty, "vec_id", "embedding", k=4, base_graph=base
    )
    assert [tuple(r) for r in out.orderBy("vec_id", "rnk").collect()] == base_rows
    # all-NULL batch is the same no-op
    nulls = spark.createDataFrame(
        [(999, None)], "vec_id long, embedding array<double>"
    )
    out2 = S.knn_graph_upsert(
        old, nulls, "vec_id", "embedding", k=4, base_graph=base
    )
    assert [tuple(r) for r in out2.orderBy("vec_id", "rnk").collect()] == base_rows


def test_knn_graph_sidecar_validation_and_point_probe(spark, sf_dir, tmp_path):
    """The meta.json sidecar round-trips through the Hadoop FS API,
    load validates the declared id column against the edge schema, and
    the point-probe helper returns exactly the saved neighbor list for
    one id while filtering on the partition column."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    built = S.knn_graph(emb, "vec_id", "embedding", k=4)
    path = str(tmp_path / "knng_meta")
    S.save_knn_graph(built, path, "vec_id", n_buckets=4)
    meta = S.load_knn_graph_meta(spark, path)
    assert meta == {"id_col": "vec_id", "n_buckets": 4}
    probe = S.knn_graph_neighbors(spark, path, 7)
    expected = [
        (r["rnk"], r["neighbor"], r["cos_sim"])
        for r in built.filter(F.col("vec_id") == 7).orderBy("rnk").collect()
    ]
    got = [(r["rnk"], r["neighbor"], r["cos_sim"]) for r in probe.collect()]
    assert got == expected
    # a corrupted sidecar (wrong id column) fails fast at load
    S._hadoop_write_text(
        spark, path + "/meta.json", '{"id_col": "doc_id", "n_buckets": 4}'
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="doc_id"):
        S.load_knn_graph(spark, path)


def test_knn_graph_delete_equals_rebuild(spark, sf_dir):
    """Delete maintenance ≡ full rebuild over the remaining corpus:
    rows citing a deleted id recompute, everything else keeps its
    stored list verbatim — including against a PERSISTED base graph.
    Also: empty delete is a no-op, deleting ALL neighbors of a row
    still repairs it, and a hub-scale delete refuses via max_affected."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    ).filter(F.col("vec_id") < 96)
    base = S.knn_graph(emb, "vec_id", "embedding", k=4)
    deletes = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    got = [
        tuple(r)
        for r in S.knn_graph_delete(
            emb, deletes, "vec_id", "embedding", k=4, base_graph=base
        ).orderBy("vec_id", "rnk").collect()
    ]
    remaining = emb.filter(F.col("vec_id") % 7 != 0)
    want = [
        tuple(r)
        for r in S.knn_graph(remaining, "vec_id", "embedding", k=4)
        .orderBy("vec_id", "rnk").collect()
    ]
    assert got == want
    # empty delete: the base graph comes back unchanged
    none = spark.createDataFrame([], "vec_id long")
    noop = [
        tuple(r)
        for r in S.knn_graph_delete(
            emb, none, "vec_id", "embedding", k=4, base_graph=base
        ).orderBy("vec_id", "rnk").collect()
    ]
    assert noop == [
        tuple(r) for r in base.orderBy("vec_id", "rnk").collect()
    ]
    # hub-scale: every row cites SOMETHING in a big delete set → refuse
    import pytest as _pytest

    big = emb.filter(F.col("vec_id") < 64).select("vec_id")
    with _pytest.raises(ValueError, match="rebuild"):
        S.knn_graph_delete(
            emb, big, "vec_id", "embedding", k=4,
            base_graph=base, max_affected=3,
        )


def test_knn_graph_apply_cdc_equals_rebuild(spark, sf_dir):
    """The fused CDC verb ≡ sequential delete-then-upsert ≡ full
    rebuild over the new corpus, on every batch shape the streaming
    arm can hand it: mixed U/D, delete-only, upsert-only, empty
    (passthrough), and the max_affected refusal — which must fire from
    the bounded LIMIT collect, never after materializing a hub-scale
    upsert frame (ADVICE r14 / VERDICT r14 #7)."""
    emb = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
            for i in range(64)
        ],
        "vec_id long, embedding array<double>",
    )
    base = S.knn_graph(emb, "vec_id", "embedding", k=4)
    deletes = emb.filter(F.col("vec_id") % 9 == 0).select("vec_id")
    upserts = emb.filter(F.col("vec_id") % 9 == 4).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )

    def rows(df):
        return [tuple(r) for r in df.orderBy("vec_id", "rnk").collect()]

    def applied(deletes, upserts):
        # the core returns the batch's graph delta; the full graph is
        # the delta applied to the base
        return rows(
            S.apply_graph_delta(
                base,
                S.knn_graph_apply_cdc(
                    emb, deletes, upserts, "vec_id", "embedding", k=4,
                    base_graph=base,
                ),
                "vec_id",
            )
        )

    # mixed U/D batch vs full rebuild over the new corpus
    got = applied(deletes, upserts)
    new_corpus = (
        emb.filter((F.col("vec_id") % 9 != 0) & (F.col("vec_id") % 9 != 4))
        .unionByName(upserts)
    )
    want = rows(S.knn_graph(new_corpus, "vec_id", "embedding", k=4))
    assert got == want
    # ... and vs sequential delete-then-upsert
    seq_mid = S.knn_graph_delete(
        emb, deletes, "vec_id", "embedding", k=4, base_graph=base
    ).localCheckpoint(eager=True)
    seq = rows(
        S.knn_graph_upsert(
            emb.filter(F.col("vec_id") % 9 != 0), upserts,
            "vec_id", "embedding", k=4, base_graph=seq_mid,
        )
    )
    assert got == seq
    # delete-only batch
    got_d = applied(deletes, None)
    want_d = rows(
        S.knn_graph(
            emb.filter(F.col("vec_id") % 9 != 0), "vec_id", "embedding", k=4
        )
    )
    assert got_d == want_d
    # upsert-only batch
    got_u = applied(None, upserts)
    want_u = rows(
        S.knn_graph(
            emb.filter(F.col("vec_id") % 9 != 4).unionByName(upserts),
            "vec_id", "embedding", k=4,
        )
    )
    assert got_u == want_u
    # empty batch: passthrough of the base graph
    got_e = applied(None, None)
    assert got_e == rows(base)
    # over-budget upsert frame refuses (bounded pre-collect: the LIMIT
    # means only max_affected+1 rows ever reach the driver)
    with pytest.raises(ValueError, match="max_affected"):
        S.knn_graph_apply_cdc(
            emb, None, emb.select("vec_id", "embedding"),
            "vec_id", "embedding", k=4, base_graph=base, max_affected=3,
        )
    # hub-scale affected set refuses too
    with pytest.raises(ValueError, match="rebuild"):
        S.knn_graph_apply_cdc(
            emb, emb.filter(F.col("vec_id") < 48).select("vec_id"), None,
            "vec_id", "embedding", k=4, base_graph=base, max_affected=3,
        )


def test_knn_graph_point_probe_int_id_column(spark, sf_dir, tmp_path):
    """xxhash64 hashes IntegerType and LongType differently: a graph
    saved with an int id column must still bucket-probe correctly
    (save casts the id to long before hashing, matching the probe's
    literal-cast — the round-8 advice's latent bug)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    built = S.knn_graph(emb, "vec_id", "embedding", k=4).withColumn(
        "vec_id", F.col("vec_id").cast("int")
    )
    path = str(tmp_path / "knng_int_id")
    S.save_knn_graph(built, path, "vec_id", n_buckets=4)
    probe = S.knn_graph_neighbors(spark, path, 7)
    got = [(r["rnk"], r["neighbor"]) for r in probe.collect()]
    expected = [
        (r["rnk"], r["neighbor"])
        for r in built.filter(F.col("vec_id") == 7).orderBy("rnk").collect()
    ]
    assert got == expected and len(got) == 4


def test_knn_graph_repartition_invariance(spark, sf_dir):
    """The graph must be a pure function of the data, not the layout:
    a hostile repartition(64) of the input (different Arrow batch
    boundaries, different cell arrival order) yields the identical
    ranked edge list."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 80)
    base = [
        tuple(r)
        for r in S.knn_graph(emb, "vec_id", "embedding", k=5)
        .orderBy("vec_id", "rnk")
        .collect()
    ]
    shuffled = [
        tuple(r)
        for r in S.knn_graph(emb.repartition(64), "vec_id", "embedding", k=5)
        .orderBy("vec_id", "rnk")
        .collect()
    ]
    assert base == shuffled


def test_sq8_topk_recall_against_exact(spark, sf_dir):
    """Quality pin for the quantized read path: the top-10 by int8-code
    cosine must overlap the exact float top-10 in ≥ 6 of 10 positions
    on the real embeddings (8-bit symmetric quantization of 64-dim
    vectors distorts cosines by ~1e-3 — far smaller than typical
    neighbor gaps, but ties near the cut CAN reorder, hence a floor
    rather than equality)."""
    from spacex_data_engineering_pipeline_spark.plans.queries import QUERIES

    quant = {r.vec_id for r in QUERIES["embedding_sq8_topk"](spark, sf_dir).collect()}
    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {
        r.vec_id
        for r in S.brute_force_topk(
            emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", q, 10
        ).collect()
    }
    assert len(quant & exact) >= 6, f"recall {len(quant & exact)}/10"


def test_bag_ops_closed_form(spark, sf_dir):
    """EXCEPT ALL / INTERSECT ALL identities pinned against per-key
    count arithmetic: surplus(k) = max(0, c97(k) − c98(k)) and
    common(k) = min(c97(k), c98(k)) — the multiset definitions the
    Spark operators must implement."""
    from spacex_data_engineering_pipeline_spark.plans.queries import QUERIES

    got = {
        r.o_orderpriority: (r.surplus_1997, r.common_both)
        for r in QUERIES["order_priority_bag_ops"](spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    c97 = {
        r.o_orderpriority: r.n
        for r in orders.filter(F.year("o_orderdate") == 1997)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    c98 = {
        r.o_orderpriority: r.n
        for r in orders.filter(F.year("o_orderdate") == 1998)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for k, (surplus, common) in got.items():
        a, b = c97.get(k, 0), c98.get(k, 0)
        assert surplus == max(0, a - b), f"surplus mismatch for {k}"
        assert common == min(a, b), f"common mismatch for {k}"


def test_ivf_batch_probe_dial(spark, sf_dir):
    """Batched IVF probe: full probe width EQUALS the batched brute
    force (index integrity), and per-batch top-k recall is monotone in
    n_probes (the recall/cost dial), with every returned score exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 4).select("vec_id", "embedding").collect()
    queries = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows
    )
    cands = emb.filter(F.col("vec_id") >= 4)
    idx = S.build_ivf_index(cands, "vec_id", "embedding", n_clusters=8, seed=42)
    brute = {
        (r.query_id, r.rnk): (r.vec_id, r.cos_sim)
        for r in S.batch_knn_topk(cands, "vec_id", "embedding", queries, k=5).collect()
    }
    exact = {
        r.vec_id: r.cos_sim
        for r in S.cosine_scores(
            cands, "vec_id", "embedding", queries[0][1]
        ).collect()
    }
    prev = -1.0
    for n_probes in (1, 2, 4, 8):
        got = S.ivf_batch_topk(idx, queries, k=5, n_probes=n_probes).collect()
        for r in got:
            if r.query_id == queries[0][0]:
                assert exact[r.vec_id] == r.cos_sim  # scores never approximated
        hits = sum(
            1 for r in got if brute.get((r.query_id, r.rnk)) == (r.vec_id, r.cos_sim)
        )
        recall = hits / len(brute)
        assert recall >= prev, f"recall fell widening probes to {n_probes}"
        prev = recall
    full = sorted((r.query_id, r.rnk, r.vec_id, r.cos_sim) for r in got)
    want = sorted((q, rk, v, c) for (q, rk), (v, c) in brute.items())
    assert full == want  # full sweep == batched brute force
    idx.unpersist()


def test_quantized_gram_matches_numpy_and_feeds_pca(spark, sf_dir):
    """Two-formulation pin for the Gram operator: the distributed
    int64 reduction equals a single-machine numpy Gram over collected
    vectors (exactly — integers), stays invariant under repartition,
    and the driver-side PCA consumer (eigh on the 64x64 triangle)
    yields a valid spectrum (symmetric PSD: all eigenvalues >= -tiny)."""
    import numpy as np

    from spacex_data_engineering_pipeline_spark.operators.cluster import QUANT
    from spacex_data_engineering_pipeline_spark.operators.linalg import quantized_gram

    emb = load_table(spark, sf_dir, "embeddings")
    rows = {
        (r.i, r.j): r.gram_q for r in quantized_gram(emb, "embedding").collect()
    }
    rows2 = {
        (r.i, r.j): r.gram_q
        for r in quantized_gram(emb.repartition(16), "embedding").collect()
    }
    assert rows == rows2  # partitioning-invariant exact reduction

    vecs = [r.embedding for r in emb.select("embedding").collect()]
    Q = np.floor(np.asarray(vecs, dtype=np.float64) * QUANT).astype(np.int64)
    G = Q.T @ Q
    iu = np.triu_indices(G.shape[0])
    want = {(int(a) + 1, int(b) + 1): int(v) for a, b, v in zip(*iu, G[iu])}
    assert rows == want

    # PCA consumer: dequantize, eigendecompose on the driver
    full = np.zeros_like(G, dtype=np.float64)
    for (i, j), v in rows.items():
        full[i - 1, j - 1] = full[j - 1, i - 1] = v / (QUANT * QUANT)
    evals = np.linalg.eigvalsh(full)
    assert evals.min() >= -1e-6 * max(1.0, evals.max())  # PSD spectrum


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 5), (4, "a", 20)],
        ["id", "key", "version"],
    )
    out = D.exact_dedup(df, ["key"], [F.col("version").desc(), F.col("id").asc()])
    rows = {r.key: r for r in out.collect()}
    assert len(rows) == 2
    assert rows["a"].id == 2 and rows["a"].version == 20  # highest version, lowest id
    assert rows["b"].id == 3


def test_multimodal_stub_contract(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    media = M.attach_binary_content(docs, "doc_id", "text")
    feats = {r.media_id: r for r in M.extract_features(media).collect()}
    src = {r.doc_id: r.text for r in docs.collect()}
    import hashlib

    for doc_id, text in src.items():
        raw = text.encode("utf-8")
        assert feats[doc_id].byte_len == len(raw)
        assert feats[doc_id].content_md5 == hashlib.md5(raw).hexdigest()
    with pytest.raises(NotImplementedError):
        M.decode_media(b"\x89PNG", "image/png")


def test_decode_media_ppm_and_wav():
    """decode_media really parses bytes: PPM with comments/odd
    whitespace, multi-chunk stereo WAV, and malformed payloads."""
    import struct

    import numpy as np

    # PPM: gradient pixels, comment line, multi-space separators
    w, h = 4, 3
    pixels = bytes(range(w * h * 3))
    ppm = b"P6\n# a comment\n 4  3\n255\n" + pixels
    img = M.decode_media(ppm, "image/ppm")
    assert img.shape == (h, w, 3) and img.dtype == np.uint8
    assert bytes(img.reshape(-1)) == pixels

    # WAV: stereo 16-bit PCM with a junk chunk before data
    samples = np.arange(-6, 6, dtype="<i2").reshape(-1, 2)  # 6 frames, 2ch
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", 4) + b"info"   # skipped chunk
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    out = M.decode_media(wav, "audio/wav")
    assert out.shape == (6, 2)
    assert np.array_equal(out, samples)

    with pytest.raises(ValueError):
        M.decode_media(b"P3\n1 1\n255\n000", "image/ppm")  # ASCII PPM
    with pytest.raises(ValueError):
        M.decode_media(b"RIFFxxxxNOPE", "audio/wav")

    # CRLF-terminated header (some writers): must decode with the
    # correct pixel offset, never shift by one and return wrong stats
    crlf = b"P6\r\n4 3\r\n255\r\n" + pixels
    img2 = M.decode_media(crlf, "image/ppm")
    assert bytes(img2.reshape(-1)) == pixels
    # header whose maxval runs straight into pixel data → error, and a
    # truncated pixel payload → error (not silently short stats)
    with pytest.raises(ValueError):
        M.decode_media(b"P6\n4 3\n255" + pixels, "image/ppm")
    with pytest.raises(ValueError):
        M.decode_media(b"P6\n4 3\n255\n" + pixels[:-1], "image/ppm")


def test_decode_image_stats_real_decode_and_fault_tolerance(spark, sf_dir):
    """The decode query path: payloads built JVM-side are genuinely
    parsed back (width/height/mean from the bytes), and a poisoned blob
    yields a NULL row, never a failed job."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").limit(8)
    media = M.attach_ppm_content(docs, "doc_id", "n_chars")
    stats = {r.media_id: r for r in M.decode_image_stats(media).collect()}
    for r in docs.select("doc_id", "n_chars").collect():
        s = stats[r.doc_id]
        assert (s.width, s.height) == (8, 8)
        assert s.mean_pixel == float(r.n_chars % 95 + 32)

    poisoned = media.withColumn(
        "content",
        F.when(F.col("media_id") % 2 == 0, F.col("content")).otherwise(
            F.lit(b"garbage")
        ),
    )
    rows = M.decode_image_stats(poisoned).collect()
    assert len(rows) == 8
    for r in rows:
        if r.media_id % 2 == 0:
            assert r.width == 8 and r.mean_pixel is not None
        else:
            assert r.width is None and r.mean_pixel is None


def _ppm_bytes(shades) -> bytes:
    """16×16 grayscale P6 payload from a 256-element shade list."""
    body = b"".join(bytes([s, s, s]) for s in shades)
    return b"P6\n16 16\n255\n" + body


def test_phash64_perturbation_and_separation():
    """The pHash contract on synthetic near-duplicate images: small
    pixel perturbations move FEW bits (recall pin: hamming ≤ 6 for a
    3-pixel ±2 shade edit), while unrelated patterned images are far
    apart (≥ 16 bits — DCT spectra decorrelate). Also pins the exact
    integer spec: hash of a fixed image is a CONSTANT (any basis/
    threshold/fold drift is a test failure, since the DuckDB oracle
    replays these exact bits)."""
    import random

    rng = random.Random(7)
    base = [32 + (5 * (i % 16) + 9 * (i // 16) + (i % 16) * (i // 16)) % 95
            for i in range(256)]
    h_base = M.phash64(M.decode_media(_ppm_bytes(base), "image/ppm"))
    # determinism pin: recompute from scratch
    assert h_base == M.phash64(M.decode_media(_ppm_bytes(list(base)), "image/ppm"))

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # near-duplicate: perturb 3 pixels by ±2 shades
    for trial in range(5):
        near = list(base)
        for _ in range(3):
            j = rng.randrange(256)
            near[j] = min(126, max(32, near[j] + rng.choice((-2, 2))))
        h_near = M.phash64(M.decode_media(_ppm_bytes(near), "image/ppm"))
        assert ham(h_base, h_near) <= 6, (trial, ham(h_base, h_near))

    # unrelated images: different pattern seeds → far hashes
    for seed in (11, 23, 37):
        other = [32 + (seed + 7 * (i % 16) + 3 * (i // 16)
                       + seed * (i % 16) * (i // 16)) % 95 for i in range(256)]
        h_other = M.phash64(M.decode_media(_ppm_bytes(other), "image/ppm"))
        assert ham(h_base, h_other) >= 16, (seed, ham(h_base, h_other))


def test_phash_near_dup_pairs_banding_recall(spark):
    """End-to-end banded pipeline recall: every hamming ≤ 3 pair MUST
    be found (4×16-bit pigeonhole ⇒ recall 1), and found pairs carry
    the exact verified distance. Uses a planted corpus: 6 perturbed
    copies of one base image + 6 unrelated images."""
    import random

    rng = random.Random(3)
    base = [32 + (5 * (i % 16) + 9 * (i // 16) + (i % 16) * (i // 16)) % 95
            for i in range(256)]
    payloads = [(0, _ppm_bytes(base))]
    for m in range(1, 7):  # light perturbations → near dups
        near = list(base)
        for _ in range(2):
            j = rng.randrange(256)
            near[j] = min(126, max(32, near[j] + 1))
        payloads.append((m, _ppm_bytes(near)))
    for m in range(7, 13):  # unrelated
        other = [32 + (m * 13 + 7 * (i % 16) + 3 * (i // 16)
                       + m * (i % 16) * (i // 16)) % 95 for i in range(256)]
        payloads.append((m, _ppm_bytes(other)))
    media = spark.createDataFrame(
        [(mid, b, "image/ppm", len(b)) for mid, b in payloads],
        "media_id long, content binary, format string, byte_len long",
    )
    sig = {r["media_id"]: r["phash"] for r in M.phash_bands(media).collect()}

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    truth = {
        (a, b): ham(sig[a], sig[b])
        for a in sig for b in sig if a < b and ham(sig[a], sig[b]) <= 3
    }
    assert truth, "planted corpus must contain hamming<=3 pairs"
    got = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in M.phash_near_dup_pairs(media, max_hamming=3).collect()
    }
    assert got == truth  # recall 1 by pigeonhole + exact distances
    # poisoned payloads drop out instead of failing the job
    poisoned = media.unionByName(
        spark.createDataFrame(
            [(99, b"garbage", "image/ppm", 7)],
            "media_id long, content binary, format string, byte_len long",
        )
    )
    got2 = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in M.phash_near_dup_pairs(poisoned, max_hamming=3).collect()
    }
    assert got2 == truth


def test_video_scene_cut_margin_and_stream_decode(spark):
    """The detection margin: within-scene motion (one moving pixel)
    stays at hamming ≤ 4; a pattern change lands ≥ 2× the threshold.
    The stream decoder is a real container walk: frames round-trip
    exactly, and a truncated tail frame fails loudly rather than
    desynchronizing silently."""
    import numpy as np

    def ppm(shades):
        return b"P6\n16 16\n255\n" + b"".join(bytes([s, s, s]) for s in shades)

    base = [32 + (5 * (i % 16) + 9 * (i // 16) + (i % 16) * (i // 16)) % 95
            for i in range(256)]
    alt = [32 + (7 + 11 * (i % 16) + 3 * (i // 16) + 2 * (i % 16) * (i // 16)) % 95
           for i in range(256)]
    frames = []
    for f in range(4):  # scene A with motion
        fr = list(base)
        fr[(3 + f) % 256] += 1
        frames.append(fr)
    for f in range(4, 8):  # scene B with motion
        fr = list(alt)
        fr[(3 + f) % 256] += 1
        frames.append(fr)
    stream = b"".join(ppm(fr) for fr in frames)

    decoded = M.decode_ppm_stream(stream)
    assert len(decoded) == 8
    for fr, arr in zip(frames, decoded):
        assert arr.shape == (16, 16, 3)
        assert [int(x) for x in arr[:, :, 0].reshape(-1)] == fr

    media = spark.createDataFrame(
        [(1, stream, "video/ppm-stream", len(stream))],
        "media_id long, content binary, format string, byte_len long",
    )
    rows = {r["frame_idx"]: (r["hamming"], r["is_cut"])
            for r in M.video_scene_cuts(media).collect()}
    assert set(rows) == set(range(1, 8))
    for f in range(1, 8):
        if f == 4:
            assert rows[f][1] == "Y"
            assert rows[f][0] >= 2 * M.VIDEO_CUT_HAMMING, rows[f]
        else:
            assert rows[f][1] == "N"
            assert rows[f][0] <= 4, (f, rows[f])

    # truncated tail frame: loud failure in the decoder, poisoned clip
    # silently dropped by the operator (job lives)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated"):
        M.decode_ppm_stream(stream[:-10])
    poisoned = media.unionByName(
        spark.createDataFrame(
            [(2, stream[:-10], "video/ppm-stream", len(stream) - 10)],
            "media_id long, content binary, format string, byte_len long",
        )
    )
    got = M.video_scene_cuts(poisoned).collect()
    assert {r["media_id"] for r in got} == {1}


def _wav_bytes(samples) -> bytes:
    """Mono 16-bit PCM RIFF/WAVE payload from an int sample list."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    body = (
        b"WAVEfmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_audio_fingerprint_perturbation_and_banding_recall(spark):
    """The audio robust-hash contract: small sample perturbations move
    few bits (hamming ≤ 4 for a ±2 edit on 5 samples), a uniform GAIN
    change moves NO bits (the across-band/time difference cancels
    scale), unrelated clips are far, and the banded pipeline finds
    every hamming ≤ 2 pair with recall 1 (3×16-bit pigeonhole)."""
    import random

    rng = random.Random(5)
    n = M.AUDIO_FRAME * M.AUDIO_FRAMES
    base = [((7 + 37 * t + 11 * ((t * t) % 97)) % 191) - 95 for t in range(n)]
    fp_base = M.audio_fingerprint48(base)
    # uniform gain: doubling every sample doubles every band value and
    # every difference — no sign can flip
    assert M.audio_fingerprint48([2 * s for s in base]) == fp_base

    def ham(a, b):
        return bin(a ^ b).count("1")

    for trial in range(5):
        near = list(base)
        for _ in range(5):
            j = rng.randrange(n)
            near[j] += rng.choice((-2, 2))
        assert ham(fp_base, M.audio_fingerprint48(near)) <= 4, trial
    for seed in (31, 59):
        other = [((seed + 29 * t + seed * ((t * t) % 97)) % 191) - 95
                 for t in range(n)]
        assert ham(fp_base, M.audio_fingerprint48(other)) >= 10, seed

    # banded pipeline recall over real decoded payloads
    payloads = [(0, _wav_bytes(base))]
    for m in range(1, 5):
        near = list(base)
        for _ in range(3):
            j = rng.randrange(n)
            near[j] += 1
        payloads.append((m, _wav_bytes(near)))
    for m in range(5, 9):
        other = [((m * 17 + 23 * t + m * ((t * t) % 97)) % 191) - 95
                 for t in range(n)]
        payloads.append((m, _wav_bytes(other)))
    media = spark.createDataFrame(
        [(mid, b, "audio/wav", len(b)) for mid, b in payloads],
        "media_id long, content binary, format string, byte_len long",
    )
    sig = {r["media_id"]: r["afp"] for r in
           M.audio_fingerprint_bands(media).collect()}
    truth = {
        (a, b): ham(sig[a], sig[b])
        for a in sig for b in sig if a < b and ham(sig[a], sig[b]) <= 2
    }
    assert truth, "planted corpus must contain hamming<=2 pairs"
    got = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in M.audio_near_dup_pairs(media, max_hamming=2).collect()
    }
    assert got == truth
    # a truncated clip yields a NULL fingerprint, never a failed job
    poisoned = media.unionByName(
        spark.createDataFrame(
            [(99, _wav_bytes([1] * 16), "audio/wav", 60)],
            "media_id long, content binary, format string, byte_len long",
        )
    )
    rows = {r["media_id"]: r["afp"]
            for r in M.audio_fingerprint_bands(poisoned).collect()}
    assert rows[99] is None and rows[0] == fp_base


def test_pair_operator_explicit_cache_release(spark, sf_dir):
    """Pair operators persist intermediates; the returned handle must
    free them on demand (release_caches()) — and stay correct after,
    since lineage is intact."""
    from spacex_data_engineering_pipeline_spark.operators import dedup as D

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = load_table(spark, sf_dir, "documents").limit(50)
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", "lang")
    first = pairs.collect()
    assert not cm.isEmpty(), "shingle table should be cache-registered"
    pairs.release_caches()
    assert cm.isEmpty(), "explicit release must drop the operator's blocks"
    assert pairs.collect() == first  # recomputes from lineage
    pairs.release_caches()  # idempotent


def test_approx_distinct_within_tolerance(spark, sf_dir):
    from spacex_data_engineering_pipeline_spark.plans.queries import QUERIES

    row = QUERIES["approx_distinct_users"](spark, sf_dir).first()
    exact = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert row["exact_users"] == exact
    assert row["approx_within_5pct"] is True
    # and the raw HLL estimate itself stays in bounds
    approx = (
        load_table(spark, sf_dir, "events")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("a"))
        .first()["a"]
    )
    assert abs(approx - exact) / exact < 0.05, f"approx {approx} vs exact {exact}"


def test_embedding_near_dup_exactness(spark, sf_dir):
    """LSH-bucketed near-dup pairs: every reported pair must carry the
    exact brute-force cosine, and no sub-threshold pair may appear."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.95).collect()
    if not pairs:
        # threshold may simply exclude everything at this SF — the
        # contract still holds (no false positives) but assert the
        # operator runs; ground-truth check below is vacuous.
        return
    from spacex_data_engineering_pipeline_spark.functions.vectors import cosine as cos_expr

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    truth = {
        (r.id_a, r.id_b): r.c
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("c", F.round(cos_expr(F.col("va"), F.col("vb")), 6))
        .filter(F.col("c") >= 0.95)
        .collect()
    }
    for r in pairs:
        assert truth.get((r.id_a, r.id_b)) == r.cos_sim


def test_embedding_near_dup_multiseed_recall(spark):
    """Multi-seed LSH union: ≥0.8 recall of true cos≥0.95 pairs on a
    synthetic corpus where every near-dup is a perturbed copy of a base
    vector (the single-seed pipeline keeps only ~0.4-0.5 of them)."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n_base = 32, 60
    base = rng.normal(size=(n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows, truth = [], set()
    vecs = {}
    for i, v in enumerate(base):
        vecs[i] = v
        # perturb along a random orthogonal direction to a target angle
        d = rng.normal(size=dim)
        d -= d.dot(v) * v
        d /= np.linalg.norm(d)
        target_cos = rng.uniform(0.955, 0.99)
        w = target_cos * v + np.sqrt(1 - target_cos**2) * d
        vecs[i + n_base] = w
    ids = sorted(vecs)
    M = np.stack([vecs[i] for i in ids])
    sims = M @ M.T
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if round(sims[a][b], 6) >= 0.95:
                truth.add((ids[a], ids[b]))
    assert len(truth) >= n_base  # every (base, perturbed) pair qualifies
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in ids], "vec_id long, embedding array<double>"
    )
    found = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup_pairs(df, "vec_id", "embedding", 0.95).collect()
    }
    assert not found - truth, "LSH must emit no false positives"
    recall = len(found & truth) / len(truth)
    assert recall >= 0.8, f"multi-seed recall {recall:.2f} < 0.8 ({len(found)}/{len(truth)})"


def test_ml_minhash_agrees_with_native(spark, sf_dir):
    """The MLlib MinHashLSH formulation must find the same high-
    similarity pairs as the native-expression pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    native = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_near_dup_pairs(
            docs, "doc_id", "text", min_jaccard_micro=900_000
        ).collect()
    }
    ml = {
        (r.doc_a, r.doc_b): r.jaccard_micro
        for r in D.minhash_near_dup_pairs_ml(docs, "doc_id", "text").collect()
    }
    high_ml = {p for p, jm in ml.items() if jm >= 900_000}
    assert native == high_ml, (
        f"native-only: {native - high_ml}, ml-only: {high_ml - native}"
    )


def test_multimodal_frame_sampling(spark, sf_dir):
    import hashlib

    docs = load_table(spark, sf_dir, "documents").limit(3)
    media = M.attach_binary_content(docs, "doc_id", "text")
    frames = M.sample_frames(media, n_frames=4).collect()
    src = {r.doc_id: r.text.encode("utf-8") for r in docs.collect()}
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    for media_id, content in src.items():
        rows = sorted(by_media[media_id], key=lambda r: r.frame_idx)
        assert 1 <= len(rows) <= 4
        step = max(1, len(content) // 4)
        for r in rows:
            expected = content[r.frame_idx * step : r.frame_idx * step + step]
            assert bytes(r.frame_bytes) == expected
            assert r.frame_md5 == hashlib.md5(expected).hexdigest()
    # resize: byte_len clamped, content truncated
    resized = {r.media_id: r for r in M.resize_stub(media, 16).collect()}
    for media_id, content in src.items():
        assert bytes(resized[media_id].content) == content[:16]
        assert resized[media_id].byte_len == min(16, len(content))


def test_ivf_topk_subset_of_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    query = [
        float(x)
        for x in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()
        .embedding
    ]
    index = S.build_ivf_index(emb, "vec_id", "embedding", n_clusters=8, seed=42)
    try:
        ivf = S.ivf_topk(index, query, k=10, n_probes=3)
        got = {r.vec_id: r.cos_sim for r in ivf.collect()}
        assert len(got) == 10
        brute = {
            r.vec_id: r.cos_sim
            for r in S.cosine_scores(emb, "vec_id", "embedding", query).collect()
        }
        # exact scores inside probed lists
        for vid, cos in got.items():
            assert brute[vid] == cos
        # recall sanity: probing 3/8 clusters should still catch most of
        # the true top-10 (labels cluster the space)
        true_top = sorted(brute.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        overlap = len(set(got) & {vid for vid, _ in true_top})
        assert overlap >= 5, f"IVF recall too low: {overlap}/10"
        # full sweep == brute force: the index is an exact partition of
        # the corpus (nothing lost or duplicated by assignment)
        full = [(r.vec_id, r.cos_sim) for r in S.ivf_topk(index, query, k=10, n_probes=8).collect()]
        assert full == [(vid, cos) for vid, cos in true_top]
    finally:
        index.unpersist()


def test_ivf_save_load_partition_pruned(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    query = [
        float(x)
        for x in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()
        .embedding
    ]
    built = S.build_ivf_index(emb, "vec_id", "embedding", n_clusters=8, seed=42)
    try:
        built.save(str(tmp_path / "ivf"))
        expected = [(r.vec_id, r.cos_sim) for r in S.ivf_topk(built, query, k=10, n_probes=3).collect()]
    finally:
        built.unpersist()

    loaded = S.load_ivf_index(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    probe = S.ivf_topk(loaded, query, k=10, n_probes=3)
    assert [(r.vec_id, r.cos_sim) for r in probe.collect()] == expected
    # cluster is a partition column of the saved layout, so the probe's
    # isin filter must be pruned at scan time, not post-scan
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cluster" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]


def test_asof_join_semantics(spark):
    from spacex_data_engineering_pipeline_spark.operators.asof import asof_join
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (2, 5, "p3"), (3, 7, "p4")],
        "k long, t long, pid string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r_at_10"), (1, 15, "r_at_15"), (2, 6, "r_after")],
        "k long, t long, rv string",
    )
    out = {
        r.pid: r.rv
        for r in asof_join(
            left, right, on=["k"], left_time="t", right_time="t"
        ).collect()
    }
    assert out["p1"] == "r_at_10"   # equal timestamp matches (<=)
    assert out["p2"] == "r_at_15"   # latest at-or-before wins
    assert out["p3"] is None        # right row is strictly after
    assert out["p4"] is None        # key absent on the right

    # exact (key, time) ties on the right resolve by the tiebreak
    dup = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b")], "k long, t long, rv string"
    )
    got = asof_join(
        left.filter("pid = 'p2'"), dup, on=["k"],
        left_time="t", right_time="t", right_tiebreak=F.col("rv"),
    ).collect()[0]
    assert got.rv == "b", "last-by-tiebreak must win deterministically"


def test_asof_join_single_shuffle(spark):
    """The union+window plan must shuffle ONCE on the key — no join
    node, no per-key cross product."""
    from spacex_data_engineering_pipeline_spark.operators.asof import asof_join

    left = spark.range(100).selectExpr("id % 5 AS k", "id AS t", "id AS pid")
    right = spark.range(50).selectExpr("id % 5 AS k", "id AS t", "id AS rv")
    plan = (
        asof_join(left, right, on=["k"], left_time="t", right_time="t")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_interval_join_semantics(spark):
    from spacex_data_engineering_pipeline_spark.operators.rangejoin import (
        interval_join,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "in"),
         (1, "2024-01-01 11:00:00", "at_hi"),      # hi is exclusive
         (1, "2024-01-01 09:00:00", "at_lo"),      # lo is inclusive
         (2, "2024-01-01 10:00:00", "wrong_key")],
        "k long, t string, tag string",
    ).selectExpr("k", "CAST(t AS TIMESTAMP_NTZ) AS t", "tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", "2024-01-01 11:00:00", "s1"),
         (3, "2024-01-01 09:00:00", "2024-01-01 11:00:00", "other_key")],
        "k long, lo string, hi string, sid string",
    ).selectExpr(
        "k", "CAST(lo AS TIMESTAMP_NTZ) AS lo", "CAST(hi AS TIMESTAMP_NTZ) AS hi", "sid"
    )
    got = {
        r.tag: r.sid
        for r in interval_join(
            left, right, on=["k"], point="t", lo="lo", hi="hi", bucket_seconds=600
        ).collect()
    }
    assert got == {"in": "s1", "at_lo": "s1"}, got

    # overlapping intervals: the point matches EACH container exactly once
    overlapping = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", "2024-01-01 12:00:00", "a"),
         (1, "2024-01-01 09:30:00", "2024-01-01 10:30:00", "b")],
        "k long, lo string, hi string, sid string",
    ).selectExpr(
        "k", "CAST(lo AS TIMESTAMP_NTZ) AS lo", "CAST(hi AS TIMESTAMP_NTZ) AS hi", "sid"
    )
    rows = interval_join(
        left.filter("tag = 'in'"), overlapping,
        on=["k"], point="t", lo="lo", hi="hi", bucket_seconds=600,
    ).collect()
    assert sorted(r.sid for r in rows) == ["a", "b"]


def test_interval_join_is_hash_join(spark):
    """The bucketized formulation must plan as a hash equi-join —
    never BroadcastNestedLoopJoin (the naive range-predicate plan)."""
    from spacex_data_engineering_pipeline_spark.operators.rangejoin import (
        interval_join,
    )

    left = spark.range(1000).selectExpr(
        "id % 7 AS k", "timestamp_seconds(1700000000 + id * 60) AS t", "id"
    )
    right = spark.range(100).selectExpr(
        "id % 7 AS k",
        "timestamp_seconds(1700000000 + id * 600) AS lo",
        "timestamp_seconds(1700000000 + id * 600 + 1800) AS hi",
        "id AS rid",
    )
    plan = (
        interval_join(left, right, on=["k"], point="t", lo="lo", hi="hi",
                      bucket_seconds=1800)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan


# -- round-2 corpus ops: clusters, shards, PII scrub -------------------------


def test_connected_components_transitive_chain(spark):
    """A~B~C chained near-dups must land in ONE component (the failure
    mode of pair-list dedup), and isolated vertices stay singletons."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "src long, dst long",
    )
    vertices = spark.createDataFrame([(v,) for v in [1, 2, 3, 10, 11, 20, 21, 22, 23, 99]], "id long")
    got = {
        r.vertex: r.component
        for r in D.connected_components(edges, "src", "dst", vertices=vertices).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20, 99: 99}


def test_connected_components_long_path_converges(spark):
    """A pure path graph needs multiple propagation rounds — the loop
    must keep iterating past round one and still hit the fixpoint."""
    n = 12
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    got = {r.vertex: r.component for r in D.connected_components(edges, "src", "dst").collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_export_shards_roundtrip(spark, sf_dir, tmp_path):
    import os

    from spacex_data_engineering_pipeline_spark.operators import shard as SH

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    SH.export_shards(docs, "doc_id", 8, out)

    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == [f"shard={k}" for k in range(8)]
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # deterministic assignment: every row sits in pmod(doc_id, 8)
    mismatched = back.filter(F.pmod("doc_id", F.lit(8)) != F.col("shard")).count()
    assert mismatched == 0
    # one file per shard (coalesced write)
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d}: {files}"
    # partition-pruned single-shard read returns exactly that slice
    one = SH.read_shard(spark, out, 3)
    assert one.count() == docs.filter(F.pmod("doc_id", F.lit(8)) == 3).count()
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_scrub_pii_redacts_and_counts(spark):
    from spacex_data_engineering_pipeline_spark.functions.text import scrub_pii

    rows = [
        (1, "mail me at jane.doe+x@example.org or visit https://ex.com/a?b=1 now"),
        (2, "call +1 (555) 123-4567 from 10.0.0.1 please"),
        (3, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    scrubbed, counts = scrub_pii(F.col("text"))
    out = {
        r.id: r
        for r in df.select(
            "id",
            scrubbed.alias("clean"),
            *[c.alias(f"n_{k}") for k, c in counts.items()],
        ).collect()
    }
    assert "<EMAIL>" in out[1].clean and "<URL>" in out[1].clean
    assert "jane.doe" not in out[1].clean and "ex.com" not in out[1].clean
    assert out[1].n_email == 1 and out[1].n_url == 1
    assert "<PHONE>" in out[2].clean and "<IPV4>" in out[2].clean
    assert out[2].n_phone == 1 and out[2].n_ipv4 == 1
    assert out[3].clean == rows[2][1]  # untouched
    assert out[3].n_email == out[3].n_url == out[3].n_phone == out[3].n_ipv4 == 0


def test_pii_scrub_audit_planted_recall(spark, sf_dir):
    """The graded entry plants exactly one PII span per kind by doc_id
    arithmetic (the base corpus carries zero organic matches — verified
    by sweep); the scrub must find each planted span (recall 1.0 per
    kind), never fire on unplanted docs (precision), and leave no raw
    span text behind."""
    from spacex_data_engineering_pipeline_spark.plans.queries import QUERIES

    out = QUERIES["pii_scrub_audit"](spark, sf_dir)
    m7 = F.col("doc_id") % 7
    agg = out.agg(
        F.sum(F.when(m7.isin(0, 4), F.col("n_email") - 1).otherwise(F.col("n_email"))).alias("email_err"),
        F.sum(F.when(m7 == 1, F.col("n_url") - 1).otherwise(F.col("n_url"))).alias("url_err"),
        F.sum(F.when(m7.isin(2, 4), F.col("n_phone") - 1).otherwise(F.col("n_phone"))).alias("phone_err"),
        F.sum(F.when(m7 == 3, F.col("n_ipv4") - 1).otherwise(F.col("n_ipv4"))).alias("ipv4_err"),
        F.sum(F.col("scrubbed").rlike("@example|https://|\\(555\\)| host 10\\.[0-9]").cast("long")).alias("leftover"),
    ).first()
    assert agg["email_err"] == 0 and agg["url_err"] == 0
    assert agg["phone_err"] == 0 and agg["ipv4_err"] == 0
    assert agg["leftover"] == 0


# -- round-2b: prefix sums / packing, bucketing, decontamination -------------


def test_global_offset_matches_single_window(spark, sf_dir):
    """The two-phase distributed prefix sum must equal the naive
    single-reducer global window, at several partition counts (including
    more partitions than rows would ever need)."""
    from pyspark.sql import Window

    from spacex_data_engineering_pipeline_spark.operators import pack as PK

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.col("n_chars").alias("v"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    expected = {
        r.doc_id: r.off
        for r in docs.select(
            "doc_id", F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long").alias("off")
        ).collect()
    }
    for n_parts in (1, 7, 32):
        got = {
            r.doc_id: r.off
            for r in PK.with_global_offset(
                docs, "doc_id", "v", out_col="off", n_partitions=n_parts
            ).collect()
        }
        assert got == expected, f"n_partitions={n_parts}"


def test_pack_sequences_chunking(spark):
    """Chunk boundaries: packs cut every seq_len tokens of the
    concatenated stream; a doc starting mid-pack straddles without
    shifting later docs."""
    from spacex_data_engineering_pipeline_spark.operators import pack as PK

    rows = [(1, 100), (2, 100), (3, 100), (4, 20), (5, 1)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        r.doc_id: (r.start_offset, r.pack_id, r.offset_in_pack)
        for r in PK.pack_sequences(df, "doc_id", "n_tok", seq_len=128).collect()
    }
    assert got == {
        1: (0, 0, 0),
        2: (100, 0, 100),   # starts in pack 0, straddles into 1
        3: (200, 1, 72),
        4: (300, 2, 44),
        5: (320, 2, 64),
    }


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with NO Exchange on either side — the write-time shuffle is the
    whole point of the layout."""
    from spacex_data_engineering_pipeline_spark.operators import bucketing as B

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        B.write_bucketed(
            cust, "t_cust_b", ["c_custkey"], 4, sort_cols=["c_custkey"],
            path=str(tmp_path / "cust"),
        )
        B.write_bucketed(
            orders.withColumnRenamed("o_custkey", "c_custkey"),
            "t_ord_b", ["c_custkey"], 4, sort_cols=["c_custkey"],
            path=str(tmp_path / "ord"),
        )
        # force the sort-merge path so shuffle elimination is observable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = B.colocated_join(spark, "t_cust_b", "t_ord_b", ["c_custkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and the result is the same join Spark would compute any other way
        assert joined.count() == orders.join(
            cust, orders["o_custkey"] == cust["c_custkey"]
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_cust_b")
        spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_benchmark_contamination_semantics(spark):
    """Only docs sharing ≥min_shared distinct n-grams with ANY benchmark
    doc are flagged; counts are distinct-gram / distinct-bench-doc."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "he saw the quick brown fox jumps far away"),   # 3 shared 5-grams? no — 1
         (2, "pack my box with five dozen liquor jugs exactly"),  # long overlap
         (3, "completely unrelated words nothing shared here at all")],
        "doc_id long, text string",
    )
    got = {
        r.doc: (r.n_shared_grams, r.n_bench_docs)
        for r in D.benchmark_contamination(corpus, bench, "doc_id", "text", n=5).collect()
    }
    assert 3 not in got
    assert got[1] == (1, 1)   # "the quick brown fox jumps"
    assert got[2] == (4, 1)   # 4 sliding 5-grams of the 8-word overlap
    # raising the threshold drops the single-gram hit
    got2 = {
        r.doc
        for r in D.benchmark_contamination(
            corpus, bench, "doc_id", "text", n=5, min_shared=2
        ).collect()
    }
    assert got2 == {2}


def test_token_chunks_edges(spark):
    """Chunk windows: stride overlap, short tail, single-token and empty
    docs (empty yields NO rows, not an empty chunk)."""
    from spacex_data_engineering_pipeline_spark.functions.text import with_token_chunks

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    rows = with_token_chunks(df, "text", chunk_tokens=3, stride=2).collect()
    got = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.chunk_n_tokens) for r in rows}
    assert got == {
        (1, 0): ("a b c", 3),
        (1, 1): ("c d e", 3),
        (1, 2): ("e", 1),
        (2, 0): ("x", 1),
    }


def test_pq_codes_and_recall(spark, sf_dir):
    """PQ contract: codes are structurally valid and seeded-reproducible;
    ADC top-10 recalls most of the exact-L2 top-10 on real embeddings."""
    import numpy as np

    from spacex_data_engineering_pipeline_spark.operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    idx = PQ.build_pq_index(emb, "vec_id", "embedding", n_subq=32, n_centroids=16, seed=7)
    try:
        rows = idx.codes.collect()
        assert all(len(r.code) == 32 and all(0 <= c < 16 for c in r.code) for r in rows)
        # seeded determinism
        idx2 = PQ.build_pq_index(
            emb, "vec_id", "embedding", n_subq=32, n_centroids=16, seed=7, persist=False
        )
        assert np.array_equal(idx.codebooks, idx2.codebooks)

        q = [list(r[0]) for r in emb.filter(F.col("vec_id") == 3).select("embedding").collect()][0]
        approx = [r.vec_id for r in PQ.pq_topk(idx, q, k=10).collect()]
        # exact L2 ground truth, driver-side (test scale only)
        all_vecs = {r.vec_id: np.asarray(r.embedding, dtype="float64") for r in emb.collect()}
        qv = np.asarray(q)
        exact = sorted(all_vecs, key=lambda i: ((all_vecs[i] - qv) ** 2).sum())[:10]
        recall = len(set(approx) & set(exact)) / 10
        assert exact[0] == 3 and 3 in approx  # the query's own vector must dominate
        assert recall >= 0.6, f"ADC recall@10 too low: {recall} ({approx} vs {exact})"
        # shortlist + exact rerank recovers the exact top-k in order
        reranked = [
            r.vec_id for r in PQ.pq_topk_rerank(idx, emb, "embedding", q, k=10).collect()
        ]
        assert reranked == exact, f"{reranked} vs {exact}"
    finally:
        idx.unpersist()


def test_heavy_hitters_matches_bruteforce(spark, sf_dir):
    """Sketch-candidates + exact-verify must equal the brute-force
    vocabulary aggregation bit for bit (no-false-negative guarantee)."""
    from spacex_data_engineering_pipeline_spark.functions.text import words
    from spacex_data_engineering_pipeline_spark.operators.sketch import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(words(F.col("text"))).alias("w")).select(
        F.lower(F.col("w")).alias("term")
    )
    got = {(r.term, r.cnt, r.share_micro) for r in heavy_hitters(toks, "term", 20_000).collect()}
    total = toks.count()
    brute = {
        (r.term, r.cnt, r.share_micro)
        for r in toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 1_000_000 >= total * 20_000)
        .withColumn(
            "share_micro", F.floor(F.col("cnt") * 1_000_000 / total).cast("long")
        )
        .collect()
    }
    assert got == brute and len(got) > 0


def test_ivf_append_then_probe(spark, sf_dir, tmp_path):
    """Index lifecycle: build on a prefix of the corpus, save, APPEND the
    remainder against the saved centroids (no retrain), reload — a
    full-sweep probe must equal brute force over the WHOLE corpus, and
    the appended batch must only have touched batch-sized data."""
    emb = load_table(spark, sf_dir, "embeddings")
    first, rest = emb.filter(F.col("vec_id") < 400), emb.filter(F.col("vec_id") >= 400)

    idx = S.build_ivf_index(first, "vec_id", "embedding", n_clusters=8, seed=11, persist=False)
    path = str(tmp_path / "ivf")
    idx.save(path)
    n = S.append_to_ivf_index(spark, path, rest, "vec_id", "embedding")
    assert n == rest.count() > 0

    loaded = S.load_ivf_index(spark, path, "vec_id", "embedding")
    assert loaded.assigned.count() == emb.count()
    q = [list(r[0]) for r in emb.filter(F.col("vec_id") == 450).select("embedding").collect()][0]
    # full sweep (all clusters probed) ≡ brute force incl. appended rows
    swept = [r.vec_id for r in S.ivf_topk(loaded, q, k=5, n_probes=8).collect()]
    brute = [r.vec_id for r in S.brute_force_topk(emb, "vec_id", "embedding", q, 5).collect()]
    assert swept == brute and 450 in swept


def test_connected_components_warns_on_iteration_budget(spark):
    """A diameter larger than max_iter must WARN, not silently return
    half-merged labels."""
    import warnings

    edges = spark.createDataFrame([(i, i + 1) for i in range(8)], "src long, dst long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        D.connected_components(edges, "src", "dst", max_iter=2)
        assert any("max_iter" in str(w.message) for w in caught)
    # and with budget to spare, no warning fires
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        D.connected_components(edges, "src", "dst", max_iter=20)
        assert not any("max_iter" in str(w.message) for w in caught)


def test_ivfpq_full_sweep_equals_bruteforce(spark, sf_dir):
    """IVF-PQ integrity contract: probing EVERY cluster with a
    corpus-covering shortlist and exact rerank must equal brute-force
    squared-L2 top-k in order — any vector lost or duplicated by the
    assign+encode pass flips the result. Also: seeded builds are
    bit-reproducible and codes are structurally valid."""
    import numpy as np

    from spacex_data_engineering_pipeline_spark.operators import ivfpq as IVFPQ

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IVFPQ.build_ivfpq_index(
        emb, "vec_id", "embedding", n_clusters=8, n_subq=8, n_centroids=16, seed=7
    )
    try:
        rows = idx.postings.collect()
        n = emb.count()
        assert len(rows) == n
        assert all(
            0 <= r.cluster < 8 and len(r.code) == 8 and all(0 <= c < 16 for c in r.code)
            for r in rows
        )
        # seeded reproducibility must survive a different physical layout:
        # the training sample is the first sample_cap rows BY ID, not
        # whichever rows a bare limit() happened to grab first — so a
        # repartitioned (cluster-shaped) input yields identical quantizers
        idx2 = IVFPQ.build_ivfpq_index(
            emb.repartition(7), "vec_id", "embedding",
            n_clusters=8, n_subq=8, n_centroids=16, seed=7, persist=False,
        )
        assert np.array_equal(idx.centroids, idx2.centroids)
        assert np.array_equal(idx.codebooks, idx2.codebooks)

        q = [list(r[0]) for r in emb.filter(F.col("vec_id") == 3).select("embedding").collect()][0]
        all_vecs = {r.vec_id: np.asarray(r.embedding, dtype="float64") for r in emb.collect()}
        qv = np.asarray(q)
        exact = sorted(all_vecs, key=lambda i: ((all_vecs[i] - qv) ** 2).sum())[:10]

        full = [
            r.vec_id
            for r in IVFPQ.ivfpq_topk(
                idx, emb, "embedding", q, k=10,
                n_probes=8, shortlist_factor=(n // 10) + 1,
            ).collect()
        ]
        assert full == exact, f"{full} vs {exact}"

        # partial-probe recall floor: the actual ANN operating point
        part = [
            r.vec_id
            for r in IVFPQ.ivfpq_topk(
                idx, emb, "embedding", q, k=10, n_probes=3, shortlist_factor=4
            ).collect()
        ]
        recall = len(set(part) & set(exact)) / 10
        assert 3 in part, "the query's own vector must be found"
        assert recall >= 0.5, f"IVF-PQ recall@10 too low: {recall} ({part} vs {exact})"
    finally:
        idx.unpersist()


def test_ivfpq_save_load_partition_pruned_probe(spark, sf_dir, tmp_path):
    """A saved IVF-PQ index must reopen to the identical search result,
    and a probe over the saved postings must partition-prune to exactly
    the probed cluster directories (the 100 TB contract: a 2-cluster
    probe lists 2 directories of byte codes, not the corpus)."""
    from spacex_data_engineering_pipeline_spark.operators import ivfpq as IVFPQ

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IVFPQ.build_ivfpq_index(
        emb, "vec_id", "embedding", n_clusters=8, n_subq=8, n_centroids=16, seed=7
    )
    try:
        q = [list(r[0]) for r in emb.filter(F.col("vec_id") == 3).select("embedding").collect()][0]
        mem = [r.vec_id for r in IVFPQ.ivfpq_topk(idx, emb, "embedding", q, k=5, n_probes=3).collect()]

        path = str(tmp_path / "ivfpq_idx")
        idx.save(path)
        loaded = IVFPQ.load_ivfpq_index(spark, path)
        import numpy as np

        assert np.array_equal(loaded.centroids, idx.centroids)
        assert np.array_equal(loaded.codebooks, idx.codebooks)
        disk = [r.vec_id for r in IVFPQ.ivfpq_topk(loaded, emb, "embedding", q, k=5, n_probes=3).collect()]
        assert disk == mem

        probed = loaded.probe_clusters(q, 3)
        shortlist = IVFPQ.ivfpq_shortlist(loaded, q, n_shortlist=20, n_probes=3)
        plan = shortlist._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters")[1].split("]")[0] if "PartitionFilters" in plan else ""
        assert "cluster" in pf, f"probe must prune on the cluster partition: {plan[:600]}"
        assert sorted(set(r.cluster for r in loaded.postings.filter(
            F.col("cluster").isin(probed)).select("cluster").distinct().collect()
        )) == sorted(probed)
    finally:
        idx.unpersist()


def test_scd2_merge_paths_null_safety_and_idempotence(spark):
    """SCD2 merge: changed keys close+reopen, identical updates are
    no-ops (including NULL==NULL under eqNullSafe), new keys insert,
    history rows pass through untouched — and re-applying the same
    batch is a fixed point."""
    import datetime as dt

    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.operators.scd import (
        latest_update_per_key,
        scd2_merge,
    )

    ddl = "k long, attr string, eff_from timestamp_ntz, eff_to timestamp_ntz, is_current boolean"
    j1 = dt.datetime(2024, 1, 1)
    m1 = dt.datetime(2024, 3, 1)
    dim = spark.createDataFrame(
        [
            (1, "a0", j1, m1, False),   # history (must pass through)
            (1, "a1", m1, None, True),  # current, will change
            (2, "b1", j1, None, True),  # current, identical update
            (3, None, j1, None, True),  # current NULL attr, NULL update
        ],
        schema=ddl,
    )
    updates = spark.createDataFrame(
        [(1, "a2"), (2, "b1"), (3, None), (4, "d1")], schema="k long, attr string"
    )
    t = dt.datetime(2024, 6, 1)
    merged = scd2_merge(
        dim, updates, ["k"], ["attr"], batch_ts=F.lit("2024-06-01 00:00:00").cast("timestamp_ntz")
    )
    got = {tuple(r) for r in merged.collect()}
    expected = {
        (1, "a0", j1, m1, False),
        (1, "a1", m1, t, False),
        (1, "a2", t, None, True),
        (2, "b1", j1, None, True),
        (3, None, j1, None, True),
        (4, "d1", t, None, True),
    }
    assert got == expected

    again = scd2_merge(
        merged, updates, ["k"], ["attr"], batch_ts=F.lit("2024-06-01 00:00:00").cast("timestamp_ntz")
    )
    assert {tuple(r) for r in again.collect()} == expected

    multi = spark.createDataFrame(
        [(9, "x", 1), (9, "y", 3), (9, "z", 2)], schema="k long, attr string, ts int"
    )
    latest = latest_update_per_key(multi, ["k"], "ts").collect()
    assert [(r.k, r.attr) for r in latest] == [(9, "y")]


def test_snapshot_diff_classifies_and_null_safe(spark):
    """CDC snapshot diff: insert/update/delete classified; NULL→NULL is
    NOT an update (null-safe); unchanged keys are dropped."""
    from spacex_data_engineering_pipeline_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], schema="k long, v string"
    )
    new = spark.createDataFrame(
        [(2, "b2"), (3, None), (4, "d"), (5, "e")], schema="k long, v string"
    )
    got = {(r.k, r.change_type, r.old_v, r.new_v) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        (1, "delete", "a", None),
        (2, "update", "b", "b2"),
        (5, "insert", None, "e"),
    }


def test_asof_join_forward_boundary_and_tiebreak(spark):
    """Forward as-of: earliest right at-or-after the left time; exact
    boundary (rt == lt) matches; equal-time right rows pick the
    smallest tiebreak; no future right row -> NULL extension."""
    from pyspark.sql import functions as F

    import pytest

    from spacex_data_engineering_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 25), (2, 5)], schema="k long, lt long"
    )
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 10, 101), (1, 20, 102), (1, 30, 103)],
        schema="k long, rt long, rid long",
    )
    got = {
        (r.k, r.lt, r.rid)
        for r in asof_join(
            left, right, ["k"], "lt", "rt",
            right_tiebreak=F.col("rid"), direction="forward",
        ).collect()
    }
    assert got == {(1, 10, 100), (1, 25, 103), (2, 5, None)}

    with pytest.raises(ValueError):
        asof_join(left, right, ["k"], "lt", "rt", direction="sideways")


def test_asof_join_tolerance_null_extends(spark):
    """A match farther than the tolerance NULL-extends; within it
    matches normally — both directions, numeric and timestamp times."""
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100), (1, 200)], schema="k long, lt long")
    right = spark.createDataFrame(
        [(1, 95, 7), (1, 260, 8)], schema="k long, rt long, rid long"
    )
    back = {
        (r.lt, r.rid)
        for r in asof_join(
            left, right, ["k"], "lt", "rt", tolerance=F.lit(10)
        ).collect()
    }
    assert back == {(100, 7), (200, None)}  # 200-95=105 > 10 -> NULL

    fwd = {
        (r.lt, r.rid)
        for r in asof_join(
            left, right, ["k"], "lt", "rt",
            direction="forward", tolerance=F.lit(80),
        ).collect()
    }
    assert fwd == {(100, None), (200, 8)}  # 260-100=160 > 80; 260-200=60 ok

    import datetime as dt

    t = dt.datetime(2024, 1, 1, 12, 0)
    lts = spark.createDataFrame([(1, t)], schema="k long, lt timestamp_ntz")
    rts = spark.createDataFrame(
        [(1, t - dt.timedelta(minutes=45), 9)], schema="k long, rt timestamp_ntz, rid long"
    )
    got = asof_join(
        lts, rts, ["k"], "lt", "rt",
        tolerance=F.expr("INTERVAL 30 MINUTES"),
    ).collect()
    assert got[0].rid is None  # 45 min > 30 min tolerance


def test_prefix_filtered_jaccard_exact_and_prunes(spark):
    """Prefix filtering is EXACT (same pairs as the full inverted
    index at the same threshold — the PPJoin theorem, not a recall
    dial) while indexing strictly fewer postings."""
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.functions.text import with_word_ngrams
    from spacex_data_engineering_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, "s"),
        (2, base + " extra", "s"),                      # near-dup of 1
        (3, "completely different words in this one doc", "s"),
        (4, base.replace("quick", "slow"), "s"),        # another near-dup
        (5, "completely different words in this one doc", "s"),  # exact dup of 3
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    full = {
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", "source", n=3, min_jaccard_micro=400_000
        ).collect()
    }
    pref = {
        tuple(r)
        for r in ngram_jaccard_pairs_prefix(
            docs, "doc_id", "text", "source", n=3, min_jaccard_micro=400_000
        ).collect()
    }
    assert pref == full and len(full) >= 2  # non-vacuous: dups found

    # the scale claim: prefix postings strictly fewer than full postings
    grams = with_word_ngrams(docs, "text", 3, out_col="g", distinct=True)
    n_full = grams.select(F.sum(F.size("g"))).first()[0]
    t = 400_000
    n_prefix = grams.select(
        F.sum(
            F.size("g")
            - ((F.size("g").cast("long") * t + 999_999 -
                (F.size("g").cast("long") * t + 999_999) % 1_000_000) / 1_000_000)
            .cast("long")
            + 1
        )
    ).first()[0]
    assert n_prefix < n_full


def test_decode_bmp_padding_bottomup_bgr():
    import struct

    import numpy as np

    from spacex_data_engineering_pipeline_spark.operators.multimodal import (
        decode_media,
    )

    # 3×2 image; row stride pads 9 bytes → 12. Bottom-up storage: the
    # file's FIRST row is the image's BOTTOM row. Pixels written BGR.
    w, h = 3, 2
    top = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]      # red green blue
    bottom = [(10, 20, 30), (40, 50, 60), (70, 80, 90)]
    stride = (w * 3 + 3) & ~3
    rows = b""
    for row in (bottom, top):  # bottom-up
        line = b"".join(bytes((b, g, r)) for (r, g, b) in row)
        rows += line + b"\x00" * (stride - len(line))
    data_off = 14 + 40
    header = (
        b"BM"
        + struct.pack("<IHHI", data_off + len(rows), 0, 0, data_off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
    )
    img = decode_media(header + rows, "image/bmp")
    assert img.shape == (2, 3, 3)
    assert [tuple(px) for px in img[0]] == top      # top row first
    assert [tuple(px) for px in img[1]] == bottom
    assert img.dtype == np.uint8

    # corrupted payloads raise, never return wrong arrays
    import pytest

    with pytest.raises(ValueError):
        decode_media(b"XX" + (header + rows)[2:], "image/bmp")
    with pytest.raises(ValueError):
        decode_media((header + rows)[:-5], "image/bmp")


def test_hash_sample_append_invariance(spark):
    # sampling is a pure per-key function: sample(A ∪ B) == sample(A) ∪
    # sample(B) — the property that makes incremental re-sampling of a
    # growing corpus churn-free
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.operators.sampling import (
        hash_bernoulli_sample,
    )

    a = spark.createDataFrame([(f"a{i}",) for i in range(400)], ["k"])
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], ["k"])
    u = a.unionByName(b)
    s_u = {r["k"] for r in hash_bernoulli_sample(u, "k", 0.25, "s").collect()}
    s_a = {r["k"] for r in hash_bernoulli_sample(a, "k", 0.25, "s").collect()}
    s_b = {r["k"] for r in hash_bernoulli_sample(b, "k", 0.25, "s").collect()}
    assert s_u == s_a | s_b


def test_video_shot_near_dup_banding_recall(spark):
    """Perturbed-RE-ENCODE recall (verdict r10 task 5): a clip and its
    jittered re-encode (every frame gets light pixel noise) produce
    shot signatures that DRIFT a few bits — the exact signature
    equi-join (video_shot_dedup_pairs) finds nothing, while the banded
    pipeline pairs every cross-clip shot at its true distance. Also
    pins banding recall 1 at hamming ≤ 3 by pigeonhole against the
    signature-level truth, and exact-dup pairs (hamming 0) still
    surface through banding."""
    import random

    def ppm(shades):
        return b"P6\n16 16\n255\n" + b"".join(bytes([s, s, s]) for s in shades)

    rng = random.Random(17)
    base = [32 + (5 * (i % 16) + 9 * (i // 16) + (i % 16) * (i // 16)) % 95
            for i in range(256)]
    alt = [32 + (7 + 11 * (i % 16) + 3 * (i // 16) + 2 * (i % 16) * (i // 16)) % 95
           for i in range(256)]

    def clip(jitter: int, seed: int) -> bytes:
        r = random.Random(seed)
        frames = []
        for f in range(8):
            fr = list(base if f < 4 else alt)
            fr[(3 + f) % 256] += 1  # within-scene motion
            for _ in range(jitter):  # re-encode noise
                j = r.randrange(256)
                fr[j] = min(126, max(32, fr[j] + r.choice((-2, 2))))
            frames.append(fr)
        return b"".join(ppm(fr) for fr in frames)

    unrelated = b"".join(
        ppm([32 + (41 + 13 * (i % 16) + 5 * (i // 16)
                   + 3 * (i % 16) * (i // 16)) % 95 for i in range(256)])
        for _ in range(8)
    )
    media = spark.createDataFrame(
        [
            (1, clip(0, 0), "video/ppm-stream", 1),
            (2, clip(10, 99), "video/ppm-stream", 1),  # jittered re-encode
            (3, clip(0, 0), "video/ppm-stream", 1),    # exact re-upload
            (4, unrelated, "video/ppm-stream", 1),
        ],
        "media_id long, content binary, format string, byte_len long",
    )

    sigs = {
        (r.media_id, r.shot_id): r.sig
        for r in M.video_shot_signatures(media).collect()
    }
    assert {m for m, _ in sigs} == {1, 2, 3, 4}

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # the re-encode drifted the signatures: exact equi-join is blind to it
    exact = {
        (r.media_a, r.shot_a, r.media_b, r.shot_b)
        for r in M.video_shot_dedup_pairs(media).collect()
    }
    drifted = {
        (sa, sb)
        for (m1, sa), v1 in sigs.items() if m1 == 1
        for (m2, sb), v2 in sigs.items() if m2 == 2
        if 0 < ham(v1, v2) <= 6
    }
    assert drifted, "jitter must drift signatures without losing them"
    for sa, sb in drifted:
        assert (1, sa, 2, sb) not in exact

    got = {
        (r.media_a, r.shot_a, r.media_b, r.shot_b): r.hamming
        for r in M.video_shot_near_dup_pairs(media, max_hamming=6).collect()
    }
    # banding recovers every drifted re-encode pair at its true distance
    for sa, sb in drifted:
        assert got[(1, sa, 2, sb)] == ham(sigs[(1, sa)], sigs[(2, sb)])
    # exact re-uploads still pair (hamming 0) and unrelated clips don't
    assert any(h == 0 and a == 1 and b == 3 for (a, _, b, _), h in got.items())
    assert not any(4 in (a, b) for (a, _, b, _) in got)

    # recall 1 at hamming ≤ 3 (pigeonhole over 4×16-bit bands)
    truth3 = {
        (m1, s1, m2, s2): ham(v1, v2)
        for (m1, s1), v1 in sigs.items()
        for (m2, s2), v2 in sigs.items()
        if m1 < m2 and ham(v1, v2) <= 3
    }
    got3 = {
        (r.media_a, r.shot_a, r.media_b, r.shot_b): r.hamming
        for r in M.video_shot_near_dup_pairs(media, max_hamming=3).collect()
    }
    assert got3 == truth3


def test_knn_graph_auto_parity_and_refusal(spark, sf_dir):
    """The crossover policy is engine behavior (verdict r10 task 6):
    auto ≡ the chosen arm in every regime. Dispatch thresholds pin the
    measured decade-probe points; the forced-IVF arm must equal a
    direct IVF call with the derived √N/probe-mass dial; beyond
    ivf_max_rows the refusal names the persisted-index alternative."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.filter(F.col("embedding").isNotNull()).count()

    # policy table
    assert S.knn_graph_auto_plan(n) == ("exact", {})
    arm, params = S.knn_graph_auto_plan(100_000)
    assert arm == "ivf"
    assert params["n_clusters"] == math.isqrt(100_000)
    assert params["n_probe"] == round(math.isqrt(100_000) * 0.125)
    assert S.knn_graph_auto_plan(3_000_000)[0] == "refuse"

    def rows(df):
        return sorted(
            (r.vec_id, r.rnk, r.neighbor, r.cos_sim) for r in df.collect()
        )

    # exact regime: auto ≡ knn_graph
    assert rows(S.knn_graph_auto(emb, "vec_id", "embedding", k=5)) == rows(
        S.knn_graph(emb, "vec_id", "embedding", k=5, n_blocks=8)
    )

    # forced IVF regime: auto ≡ knn_graph_ivf at the derived dial
    arm, params = S.knn_graph_auto_plan(n, exact_max_rows=100)
    assert arm == "ivf"
    auto_ivf = rows(
        S.knn_graph_auto(emb, "vec_id", "embedding", k=5, exact_max_rows=100)
    )
    direct_ivf = rows(
        S.knn_graph_ivf(
            emb, "vec_id", "embedding", k=5,
            n_clusters=params["n_clusters"], n_probe=params["n_probe"],
        )
    )
    assert auto_ivf == direct_ivf

    # refusal regime: explicit, names the lifecycle alternative
    with pytest.raises(ValueError, match="persisted IVF index"):
        S.knn_graph_auto(
            emb, "vec_id", "embedding", k=5,
            exact_max_rows=10, ivf_max_rows=20,
        )


def test_pack_sequences_bestfit_invariants_and_efficiency(spark, sf_dir):
    """Boundary-respecting best-fit packing (verdict r10 task 7):
    every doc lands in exactly one pack, no pack exceeds capacity
    (unless it is a singleton oversize doc), a single-group run equals
    a pure-Python best-fit-decreasing reference, and the corpus-wide
    pack count stays inside the classic BFD guarantee
    (≤ 11/9·OPT + 1 bins per group, summed) with measured efficiency
    pinned."""
    import math

    from spacex_data_engineering_pipeline_spark.functions import text as T
    from spacex_data_engineering_pipeline_spark.operators import pack as PK

    cap = 256
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.token_count(F.col("text")).cast("long").alias("n_tok")
    )
    rows = {r.doc_id: r.n_tok for r in docs.collect()}

    packed = PK.pack_sequences_bestfit(
        docs, "doc_id", "n_tok", seq_len=cap, n_groups=8
    ).collect()
    # every doc exactly once, token counts preserved
    assert sorted(r.doc_id for r in packed) == sorted(rows)
    assert all(r.n_tok == rows[r.doc_id] for r in packed)
    # capacity respected (oversize docs would be singletons)
    loads: dict[int, list[int]] = {}
    for r in packed:
        loads.setdefault(r.pack_id, []).append(r.n_tok)
    for pid, ls in loads.items():
        assert sum(ls) <= cap or len(ls) == 1, (pid, ls)

    # BFD guarantee per group, summed: n_bins ≤ 11/9·OPT + 1
    total = sum(rows.values())
    opt_lb = math.ceil(total / cap)  # global lower bound on OPT
    n_bins = len(loads)
    assert n_bins <= math.ceil(11 / 9 * opt_lb) + 8, (n_bins, opt_lb)
    # measured efficiency: ≥ 80% of capacity used corpus-wide
    assert total / (n_bins * cap) >= 0.80, (total, n_bins)

    # single-group parity with a pure-Python BFD reference
    one = {
        r.doc_id: r.pack_id
        for r in PK.pack_sequences_bestfit(
            docs, "doc_id", "n_tok", seq_len=cap, n_groups=1
        ).collect()
    }

    def bfd_reference():
        bins: list[int] = []
        assign = {}
        for doc_id, ln in sorted(rows.items(), key=lambda t: (-t[1], t[0])):
            best = None
            for i, load in enumerate(bins):
                if load + ln <= cap and (best is None or load > bins[best]):
                    best = i
            if best is None:
                bins.append(ln)
                assign[doc_id] = len(bins) - 1
            else:
                bins[best] += ln
                assign[doc_id] = best
        return assign

    assert one == bfd_reference()

    # a doc longer than cap opens (and keeps) its own pack
    odd = spark.createDataFrame(
        [(1, 300), (2, 100), (3, 100), (4, 50)], "doc_id long, n_tok long"
    )
    opacked = {
        r.doc_id: r.pack_id
        for r in PK.pack_sequences_bestfit(
            odd, "doc_id", "n_tok", seq_len=cap, n_groups=1
        ).collect()
    }
    assert opacked[1] not in {opacked[2], opacked[3], opacked[4]}
    # 100+100+50 fit one pack together
    assert opacked[2] == opacked[3] == opacked[4]
