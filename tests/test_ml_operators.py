"""MLlib-backed operators: KMeans clustering, TF-IDF naming, PCA 3-D,
LSH/IVF ANN with recall against the exact oracle."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from vector_knowledge_base_spark.operators.ann import (
    build_ivf,
    ivf_topk,
    lsh_model,
    lsh_topk,
    recall_at_k,
)
from vector_knowledge_base_spark.operators.clustering import (
    adaptive_k,
    apply_cluster_labels,
    hdbscan_parity_cluster,
    kmeans_cluster,
    name_clusters_tfidf,
)
from vector_knowledge_base_spark.operators.projection import project_3d, transform_query
from vector_knowledge_base_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def test_adaptive_k_tiers():
    assert adaptive_k(30) == 3
    assert adaptive_k(100) == 8
    assert adaptive_k(10_000) == 10


def test_kmeans_clusters(spark, emb):
    labels = kmeans_cluster(emb, k=10)
    assert labels.count() == emb.count()
    n = labels.select("cluster").distinct().count()
    assert 2 <= n <= 10
    # labeled ids are the corpus ids
    assert labels.join(emb, "vec_id").count() == emb.count()


def test_kmeans_maxiter_label_agreement(spark, emb):
    """The default exploration-grade fit (max_iter=12) must stay close
    to the fully-converged MLlib default (20): the cheaper fit is a
    deliberate, guarded trade-off (ADVICE r3), not silent label drift.
    Agreement is measured after best-effort cluster-id alignment
    (greedy max-overlap matching — KMeans ids are arbitrary)."""
    a = kmeans_cluster(emb, k=8, seed=42, max_iter=12).withColumnRenamed(
        "cluster", "ca"
    )
    b = kmeans_cluster(emb, k=8, seed=42, max_iter=20).withColumnRenamed(
        "cluster", "cb"
    )
    joined = a.join(b, "vec_id")
    n = joined.count()
    overlap = {
        (r["ca"], r["cb"]): r["n"]
        for r in joined.groupBy("ca", "cb").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # greedy max-overlap matching of cluster ids
    matched, used_a, used_b = 0, set(), set()
    for (ca, cb), cnt in sorted(overlap.items(), key=lambda kv: -kv[1]):
        if ca not in used_a and cb not in used_b:
            matched += cnt
            used_a.add(ca)
            used_b.add(cb)
    assert matched / n >= 0.80, f"12-vs-20-iteration label agreement {matched / n:.2%}"


def test_kmeans_assignment_is_nearest_centroid(spark, emb):
    """Structural invariant: every point's assigned cluster is its
    nearest centroid. (The fixture's `label` column carries no geometric
    signal — within-label cosine ≈ across-label — so purity against it
    is not a meaningful check.)"""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select("vec_id", array_to_vector(F.col("embedding")).alias("features"))
    model = KMeans(k=5, seed=42, featuresCol="features").fit(vecs)
    cents = np.array([np.asarray(c) for c in model.clusterCenters()])
    assigned = model.transform(vecs).select("vec_id", "features", "prediction")
    for r in assigned.limit(100).collect():
        v = np.asarray(r.features.toArray())
        d = ((cents - v) ** 2).sum(axis=1)
        assert int(np.argmin(d)) == r.prediction


def test_hdbscan_parity_gated():
    with pytest.raises((NotImplementedError, Exception)):
        # hdbscan not installed in this container: must raise cleanly
        import hdbscan  # noqa: F401

        raise Exception("hdbscan unexpectedly installed")


def test_hdbscan_parity_stub(spark, emb):
    try:
        import hdbscan  # noqa: F401

        has = True
    except ImportError:
        has = False
    if not has:
        with pytest.raises(NotImplementedError):
            hdbscan_parity_cluster(emb)


def test_cluster_naming(spark):
    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    labels = kmeans_cluster(emb, k=5).withColumnRenamed("vec_id", "doc_id")
    dc = docs.join(labels, "doc_id")
    names = name_clusters_tfidf(dc)
    rows = {r.cluster: r for r in names.collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r.cluster_name and r.n_docs > 0
        # top-3 terms joined with ' & ', title-case
        parts = r.cluster_name.split(" & ")
        assert 1 <= len(parts) <= 3


def test_cluster_naming_sentinels(spark):
    df = spark.createDataFrame(
        [(-1, "noise text here"), (5, "lonely solitary document")],
        "cluster int, text string",
    )
    rows = {r.cluster: r.cluster_name for r in name_clusters_tfidf(df).collect()}
    assert rows[-1] == "Uncategorized"
    assert rows[5] == "Cluster 5"


def test_label_writeback(spark, emb):
    labels = kmeans_cluster(emb, k=5)
    out = apply_cluster_labels(emb, labels)
    assert out.where(F.col("cluster").isNull()).count() == 0
    assert out.count() == emb.count()


def test_pca_projection(spark, emb):
    coords, model = project_3d(emb)
    rows = coords.collect()
    assert len(rows) == emb.count()
    assert set(coords.columns) == {"vec_id", "x", "y", "z"}
    # non-degenerate: components have spread
    xs = [r.x for r in rows]
    assert max(xs) - min(xs) > 0.01
    # query transform is finite, 3 components
    q = emb.select("embedding").first()[0]
    t = transform_query(model, q)
    assert len(t) == 3 and all(math.isfinite(v) for v in t)


def test_pca_small_corpus_zero_pad(spark, emb):
    tiny = emb.limit(2)
    coords, _ = project_3d(tiny)
    rows = coords.collect()
    assert len(rows) == 2
    # k = min(3, n=2) = 2 → z zero-padded
    assert all(r.z == 0.0 for r in rows)


def test_lsh_recall(spark, emb):
    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    model, hashed = lsh_model(emb, bucket_length=1.0, num_hash_tables=4)
    approx = lsh_topk(model, hashed, q, k=10)
    r = recall_at_k(emb, approx, q, k=10)
    assert r >= 0.5, f"LSH recall@10 too low: {r}"


def test_ivf_recall(spark, emb):
    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    centroids, assigned = build_ivf(emb, n_partitions=8)
    approx = ivf_topk(centroids, assigned, q, k=10, n_probe=4)
    r = recall_at_k(emb, approx, q, k=10)
    assert r >= 0.7, f"IVF recall@10 too low: {r}"
    # probing fewer cells reads less of the corpus
    probed = assigned.where(F.col("ivf_cell").isin([0])).count()
    assert probed < assigned.count()


def test_pq_recall_and_compression(spark, emb):
    from vector_knowledge_base_spark.operators.ann import build_pq, pq_topk
    from vector_knowledge_base_spark.operators.knn import cosine_topk

    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    codebooks, codes = build_pq(emb, m=8, ksub=64)
    # codes really are m small ints (the 32x compression claim)
    row = codes.first()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 64 for c in row["codes"])
    # ADC shortlist + exact rerank: the production shape's recall floor
    shortlist = pq_topk(codebooks, codes, q, k=50).select("vec_id")
    rer = cosine_topk(emb.join(shortlist, "vec_id", "left_semi"), q, k=10)
    r = recall_at_k(emb, rer, q, k=10)
    assert r >= 0.6, f"PQ+rerank recall@10 too low: {r}"


def test_lsh_neardup_pairs_recall(spark, emb):
    """The LSH-bucketed near-dup join must recover most of the exact
    blocked-matmul pairs (no false positives by construction: the join
    re-checks the true distance)."""
    from vector_knowledge_base_spark.operators.ann import lsh_neardup_pairs
    from vector_knowledge_base_spark.operators.dedup import allpairs_cosine_blocked

    thr = 0.35
    exact = {
        (r[0], r[1])
        for r in allpairs_cosine_blocked(emb, threshold=thr, block_size=256)
        .select("vec_id_a", "vec_id_b")
        .collect()
    }
    approx_df = lsh_neardup_pairs(emb, threshold=thr)
    approx = {
        (r[0], r[1]) for r in approx_df.select("vec_id_a", "vec_id_b").collect()
    }
    assert exact, "fixture produced no exact near-dup pairs"
    # every approx pair is a true pair (score computed from true distance)
    strays = approx - exact
    assert len(strays) <= max(1, len(approx) // 50), strays  # >= boundary only
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"LSH near-dup recall too low: {recall}"


def test_ivf_adaptive_probe_and_recall(spark, emb):
    """Adaptive probing: the probe set from the spread rule must (a) be
    a strict subset of cells for a mid-cell query, (b) contain the
    nearest cell, (c) keep recall at-or-above the fixed n_probe=4
    baseline at equal-or-less scanned volume when the cutoff admits
    fewer cells."""
    import numpy as np

    from vector_knowledge_base_spark.operators.ann import ivf_topk_adaptive

    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    centroids, assigned = build_ivf(emb, n_partitions=8)
    topk, probe = ivf_topk_adaptive(centroids, assigned, q, k=10, alpha=0.35)
    qv = np.asarray(list(q))
    dists = np.sqrt(((centroids - qv) ** 2).sum(axis=1))
    assert int(np.argmin(dists)) in probe          # nearest cell always probed
    assert 1 <= len(probe) < len(centroids)        # strict subset
    r = recall_at_k(emb, topk, q, k=10)
    assert r >= 0.6, f"adaptive-IVF recall too low: {r}"
    # alpha=1.0 must probe everything -> exact result
    full, probe_all = ivf_topk_adaptive(centroids, assigned, q, k=10, alpha=1.0)
    assert len(probe_all) == len(centroids)
    assert recall_at_k(emb, full, q, k=10) == 1.0
    assigned.unpersist()


def test_pq_save_load_roundtrip(spark, emb, tmp_path):
    """PQ codebook persistence: load_pq(save_pq(cb)) must reproduce the
    codebooks bit-exactly, and encoding against the LOADED codebooks
    must equal encoding against the fitted ones (the serving contract:
    codes written yesterday remain valid today)."""
    import numpy as np

    from vector_knowledge_base_spark.operators.ann import (
        build_pq,
        load_pq,
        pq_encode,
        save_pq,
    )

    codebooks, codes = build_pq(emb, m=8, ksub=16)
    path = str(tmp_path / "pq_model")
    save_pq(codebooks, path)
    loaded = load_pq(path)
    assert loaded is not None
    assert np.array_equal(loaded, codebooks)
    recoded = pq_encode(loaded, emb)
    orig = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    redo = {r["vec_id"]: list(r["codes"]) for r in recoded.collect()}
    assert orig == redo
    assert load_pq(str(tmp_path / "nope")) is None


def test_pq_shortlist_rerank_equals_exact(spark, emb):
    """With a shortlist covering the corpus, two-stage PQ serving must
    return EXACTLY the exact top-k (the property the driver-green
    pq_shortlist_rerank_topk query stakes at sf0.01)."""
    from vector_knowledge_base_spark.operators.ann import (
        build_pq,
        pq_shortlist_rerank,
    )
    from vector_knowledge_base_spark.operators.knn import cosine_topk

    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    codebooks, codes = build_pq(emb, m=8, ksub=16)
    got = pq_shortlist_rerank(
        codebooks, codes, emb, q, k=10, shortlist=emb.count()
    ).collect()
    want = cosine_topk(emb, q, k=10).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in want
    ]


def test_ivfpq_exhaustive_reduces_to_exact(spark, emb):
    """IVF-PQ composition sanity (r6): probing EVERY cell with a
    shortlist covering the corpus must return exactly the exact top-k —
    the rerank sees all rows, so any disagreement means the probe
    filter or the semi-join dropped rows it shouldn't."""
    from vector_knowledge_base_spark.operators.ann import (
        build_ivfpq,
        ivfpq_topk,
    )
    from vector_knowledge_base_spark.operators.knn import cosine_topk

    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    centroids, codebooks, index = build_ivfpq(emb, n_cells=8, m=8, ksub=16)
    got = ivfpq_topk(
        centroids, codebooks, index, emb, q,
        k=10, n_probe=len(centroids), shortlist=emb.count(),
    ).collect()
    want = cosine_topk(emb, q, k=10).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in want
    ]


def test_ivfpq_save_load_roundtrip_serves_identically(spark, emb, tmp_path):
    """Persisted IVF-PQ serving contract: load_ivfpq(save_ivfpq(...))
    must serve the SAME top-k as the in-memory index (codes stored
    cell-partitioned; the probe becomes directory pruning), and the
    missing-path probe returns None."""
    from vector_knowledge_base_spark.operators.ann import (
        build_ivfpq,
        ivfpq_topk,
        load_ivfpq,
        save_ivfpq,
    )

    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    centroids, codebooks, index = build_ivfpq(emb, n_cells=4, m=8, ksub=16)
    path = str(tmp_path / "ivfpq")
    save_ivfpq(centroids, codebooks, index, path)
    loaded = load_ivfpq(spark, path)
    assert loaded is not None
    c2, cb2, index2 = loaded
    import numpy as np

    assert np.array_equal(c2, centroids) and np.array_equal(cb2, codebooks)
    want = ivfpq_topk(
        centroids, codebooks, index, emb, q, k=10, n_probe=2, shortlist=100
    ).collect()
    got = ivfpq_topk(
        c2, cb2, index2, emb, q, k=10, n_probe=2, shortlist=100
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in want
    ]
    assert load_ivfpq(spark, str(tmp_path / "nope")) is None


def test_ivfpq_adc_matches_numpy_decomposition(spark, emb):
    """The in-plan ADC score (bias[cell] + Σ_j table[j, code_j]) must
    equal the numpy computation of dot(q, centroid) + dot(q_j,
    codebook_j[code_j]) for every row — pinning the literal-array
    indexing (1-based element_at, flat j*ksub+c layout) against an
    independent derivation."""
    import numpy as np

    from vector_knowledge_base_spark.operators.ann import build_ivfpq

    q = np.asarray(
        emb.where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    centroids, codebooks, index = build_ivfpq(emb, n_cells=4, m=8, ksub=16)
    m, ksub, dsub = codebooks.shape
    flat = [
        float(np.dot(q[j * dsub : (j + 1) * dsub], codebooks[j][c]))
        for j in range(m)
        for c in range(ksub)
    ]
    bias = [float(np.dot(q, centroids[c])) for c in range(len(centroids))]
    table, biases = F.lit(flat), F.lit(bias)
    adc = F.element_at(
        biases, (F.col("ivf_cell") + 1).cast("int")
    ) + F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(table, (j * ksub + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rows = index.select("vec_id", "ivf_cell", "codes", adc.alias("adc")).collect()
    for r in rows[:50]:
        want = bias[r["ivf_cell"]] + sum(
            flat[j * ksub + r["codes"][j]] for j in range(m)
        )
        assert abs(r["adc"] - want) < 1e-9, (r["vec_id"], r["adc"], want)


def test_opq_rotation_invariants(spark, emb):
    """OPQ (Ge et al. 2013): the learned rotation must be orthogonal
    (RRᵀ = I), the training objective must be monotonically
    non-increasing across alternating iterations (the warm-start +
    Procrustes guarantee), and the final quantization error must not
    exceed plain PQ's on the same sample (R = I is in OPQ's feasible
    set and iteration 1 IS plain PQ)."""
    import numpy as np

    from vector_knowledge_base_spark.operators.ann import build_opq

    R, codebooks, codes, history = build_opq(emb, m=8, ksub=16, iters=5)
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-8)
    assert all(
        history[i + 1] <= history[i] + 1e-9 for i in range(len(history) - 1)
    ), history
    # history[0] is computed with R = I — i.e. plain PQ's error
    assert history[-1] <= history[0] + 1e-9
    row = codes.first()
    assert len(row["codes"]) == 8 and all(0 <= c < 16 for c in row["codes"])


def test_opq_r_snapshots_prefix(spark, emb):
    """OPQ training is deterministic and strictly sequential, so the
    rotation snapshot after i iterations of a longer run must be
    BIT-identical to a fresh build_opq(iters=i) — the property the
    recall curve relies on to hand build_opq_ivfpq a prefix R instead
    of re-training (r14 optimization). Also pins that
    build_opq_ivfpq(pretransform=R3) reproduces the from-scratch
    build exactly (centroids, codebooks, index rows)."""
    import numpy as np

    from vector_knowledge_base_spark.operators.ann import (
        build_opq,
        build_opq_ivfpq,
    )

    snaps: list = []
    build_opq(emb, m=8, ksub=16, iters=4, r_snapshots=snaps)
    assert len(snaps) == 4
    r3, _cb3, _codes3, _h3 = build_opq(emb, m=8, ksub=16, iters=3)
    assert np.array_equal(snaps[2], r3)

    ra, ca, cba, ia = build_opq_ivfpq(emb, n_cells=8, m=8, opq_iters=3)
    rb, cb_, cbb, ib = build_opq_ivfpq(
        emb, n_cells=8, m=8, opq_iters=3, pretransform=snaps[2]
    )
    assert np.array_equal(ra, rb)
    assert np.array_equal(ca, cb_)
    assert np.array_equal(cba, cbb)
    rows_a = sorted(
        (r["vec_id"], r["ivf_cell"], tuple(r["codes"])) for r in ia.collect()
    )
    rows_b = sorted(
        (r["vec_id"], r["ivf_cell"], tuple(r["codes"])) for r in ib.collect()
    )
    assert rows_a == rows_b


def test_opq_shortlist_rerank_equals_exact(spark, emb):
    """With a covering shortlist, rotated-space ADC + exact rerank must
    return EXACTLY the exact top-k — same contract as the PQ form
    (rotation preserves inner products of co-rotated vectors, so a
    broken R or a query rotated on one side only mismatches)."""
    from vector_knowledge_base_spark.operators.ann import (
        build_opq,
        opq_shortlist_rerank,
    )
    from vector_knowledge_base_spark.operators.knn import cosine_topk

    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    R, codebooks, codes, _ = build_opq(emb, m=8, ksub=16, iters=3)
    got = opq_shortlist_rerank(
        R, codebooks, codes, emb, q, k=10, shortlist=emb.count()
    ).collect()
    want = cosine_topk(emb, q, k=10).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in want
    ]


def test_quality_scores_after_observation(spark):
    """Regression: scoring must survive a session on which an
    Observation has been registered. model.transform's UDF closure
    captures the training-summary DataFrame -> SparkSession ->
    ObservationManager (not serializable once an observation exists),
    which made the quality-classifier query fail ONLY when the
    Observation test had run first in the same session. The native
    broadcast-coefficient scorer has no session reference in any task
    closure — this test pins that property."""
    from pyspark.sql import Observation

    from vector_knowledge_base_spark.operators.quality_model import (
        quality_scores,
        train_quality_model,
        weak_labels,
    )

    obs = Observation("qm_regression_obs")
    observed = spark.range(10).observe(obs, F.count(F.lit(1)).alias("n"))
    assert observed.count() == 10
    assert obs.get["n"] == 10  # observation is now registered on the session

    docs = load_table(spark, SF, "documents")
    labeled = weak_labels(docs)
    model, buckets = train_quality_model(labeled)
    scores = quality_scores(model, buckets)
    row = scores.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("agr"),
        F.min("quality_prob").alias("lo"),
        F.max("quality_prob").alias("hi"),
    ).first()
    assert row["n"] == docs.count()
    assert row["agr"] >= 0.8  # the separable weak rule is learnable
    assert 0.0 <= row["lo"] <= row["hi"] <= 1.0


def test_quality_scorer_plan_is_native(spark):
    """The scoring plan must contain no Python/Scala UDF and no
    model.transform artifacts: scan -> broadcast coef join -> hash
    aggregate, fully codegen (the 100 TB scoring shape)."""
    from vector_knowledge_base_spark.operators.quality_model import (
        quality_scores,
        train_quality_model,
        weak_labels,
    )
    from vector_knowledge_base_spark.plans.inspect import explain_str

    docs = load_table(spark, SF, "documents")
    model, buckets = train_quality_model(weak_labels(docs))
    plan = explain_str(quality_scores(model, buckets))
    assert "BatchEvalPython" not in plan, plan
    assert "UDF(" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_exact_nn_blocked_matches_single_pass(spark):
    """Block decomposition must be invisible: per-cell winners merged
    across cells equal a single-pass exact NN ranking (score desc,
    id asc tie-break), regardless of block boundaries."""
    import numpy as np

    from vector_knowledge_base_spark.operators.dedup import exact_nn_blocked

    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    scores = np.round(mat @ mat.T, 6)
    np.fill_diagonal(scores, -np.inf)
    j = np.argmax(scores, axis=1)  # ids sorted asc -> argmax = smallest-id tie
    want = {
        int(ids[i]): (int(ids[j[i]]), float(scores[i, j[i]]))
        for i in range(len(ids))
    }
    for bs in (7, 50, 10_000):  # awkward, small, single-block
        got = {
            r["vec_id"]: (r["nn_id"], r["score"])
            for r in exact_nn_blocked(emb, block_size=bs).collect()
        }
        assert got == want, f"block_size={bs}"


def test_ann_probe_recall_curve_monotone(spark):
    """The IVF operating curve must be monotone: scanned fraction and
    recall both non-decreasing in n_probe, recall exactly 1.0 at full
    probe (all cells == exact search)."""
    from vector_knowledge_base_spark import queries as q

    rows = sorted(
        q.QUERIES["ann_probe_recall_curve"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r["n_probe"],
    )
    fracs = [r["scanned_frac"] for r in rows]
    recalls = [r["recall_at_10"] for r in rows]
    assert fracs == sorted(fracs)
    assert recalls == sorted(recalls)
    assert rows[-1]["recall_at_10"] == 1.0
    assert rows[-1]["scanned_frac"] == 1.0


def test_audio_metadata_real_wav_parse(spark):
    """WAV RIFF parsing is REAL (no stub): constructed fixtures parse to
    their construction parameters; corrupt input yields an error row,
    never a task failure."""
    from vector_knowledge_base_spark.operators.multimodal import (
        audio_metadata,
        wav_bytes,
    )

    files = spark.createDataFrame(
        [
            ("ok.wav", bytearray(wav_bytes(22050, 2, 16, 11025))),
            ("trunc.wav", bytearray(wav_bytes(22050, 2, 16, 11025)[:20])),
            ("junk.bin", bytearray(b"\x00\x01\x02")),
        ],
        "path string, content binary",
    )
    got = {r["path"]: r for r in audio_metadata(files).collect()}
    ok = got["ok.wav"]
    assert (ok["n_channels"], ok["sample_rate"], ok["bits_per_sample"]) == (2, 22050, 16)
    assert ok["duration_ms"] == 500 and ok["error"] is None
    assert got["trunc.wav"]["error"] is not None
    assert got["junk.bin"]["error"] is not None


def test_image_pixel_stats_real_bmp_decode(spark):
    """BMP pixel decode is REAL: constructed fixtures decode to their
    construction pixels (bottom-up rows, stride padding, BGR order all
    exercised); top-down (negative height) variants decode identically;
    truncated/unsupported input yields error rows, never task failures."""
    import struct

    from vector_knowledge_base_spark.operators.multimodal import (
        bmp_bytes,
        image_pixel_stats,
        parse_bmp_pixels,
    )

    grid = [[(10, 20, 30), (40, 50, 60), (70, 80, 90)]]
    raw = bmp_bytes(grid)
    got = parse_bmp_pixels(raw)
    assert (got["width"], got["height"]) == (3, 1)
    assert (got["mean_r"], got["mean_g"], got["mean_b"]) == (40.0, 50.0, 60.0)

    # top-down variant: negate the height field; with one row the pixel
    # data is identical, so the decode must agree
    topdown = bytearray(raw)
    struct.pack_into("<i", topdown, 22, -1)
    assert parse_bmp_pixels(bytes(topdown)) == got

    # stride padding: width 1 (3 bytes padded to 4) round-trips exactly
    g2 = [[(1, 2, 3)], [(201, 202, 203)]]
    got2 = parse_bmp_pixels(bmp_bytes(g2))
    assert (got2["mean_r"], got2["mean_g"], got2["mean_b"]) == (101.0, 102.0, 103.0)

    # error rows through the Spark operator, not task failures
    bad = [
        ("trunc.bmp", bytearray(raw[:30])),
        ("png.bin", bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 60)),
    ]
    files = spark.createDataFrame(bad, "path string, content binary")
    rows = {r["path"]: r for r in image_pixel_stats(files).collect()}
    assert rows["trunc.bmp"]["error"] is not None
    assert rows["png.bin"]["error"] is not None


def test_opq_ivfpq_exhaustive_reduces_to_exact(spark, emb):
    """OPQ→IVF-PQ composition (r6 continuation): with every cell probed
    and a corpus-covering shortlist, serving must return exactly the
    exact top-k computed on RAW vectors — pinning that (a) the corpus
    and query are rotated consistently, (b) the rotated-space ADC
    shortlist feeds a raw-space rerank correctly (inner products are
    rotation-invariant), and (c) no row is lost across the pretransform."""
    from vector_knowledge_base_spark.operators.ann import (
        build_opq_ivfpq,
        opq_ivfpq_topk,
    )
    from vector_knowledge_base_spark.operators.knn import cosine_topk

    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    R, centroids, codebooks, index = build_opq_ivfpq(
        emb, n_cells=8, m=8, ksub=16, opq_iters=2
    )
    got = opq_ivfpq_topk(
        R, centroids, codebooks, index, emb, q,
        k=10, n_probe=len(centroids), shortlist=emb.count(),
    ).collect()
    want = cosine_topk(emb, q, k=10).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in want
    ]


def test_opq_ivfpq_pruned_recall(spark, emb):
    """At pruned settings (7/8 cells, 75% shortlist) the rotated
    composition must keep recall ≥ 0.7 against exact top-10 — same bar
    the un-rotated ivfpq_serving_invariants driver row holds at all
    three SFs."""
    from vector_knowledge_base_spark.operators.ann import (
        build_opq_ivfpq,
        opq_ivfpq_topk,
    )
    from vector_knowledge_base_spark.operators.knn import cosine_topk

    n = emb.count()
    q = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    R, centroids, codebooks, index = build_opq_ivfpq(
        emb, n_cells=8, m=8, ksub=16, opq_iters=2
    )
    approx = opq_ivfpq_topk(
        R, centroids, codebooks, index, emb, q,
        k=10, n_probe=7, shortlist=max(50, int(0.75 * n)),
    )
    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    got = {r["vec_id"] for r in approx.collect()}
    assert len(exact & got) >= 7


def test_rotate_embeddings_preserves_inner_products(spark, emb):
    """The pretransform itself: pairwise inner products of co-rotated
    vectors equal the raw ones (orthogonality, applied distributively)."""
    import numpy as np

    from vector_knowledge_base_spark.operators.ann import (
        build_opq,
        rotate_embeddings,
    )

    R, *_ = build_opq(emb, m=8, ksub=16, iters=1)
    raw = {
        r["vec_id"]: np.array(r["embedding"])
        for r in emb.limit(5).collect()
    }
    rot = {
        r["vec_id"]: np.array(r["embedding"])
        for r in rotate_embeddings(emb.limit(5), R).collect()
    }
    for a in raw:
        for b in raw:
            assert abs(
                float(raw[a] @ raw[b]) - float(rot[a] @ rot[b])
            ) < 1e-9


def test_opq_beats_pq_on_anisotropic(spark):
    """VERDICT r6 #5: on a correlated (anisotropic) corpus — the
    geometry OPQ exists for — the learned rotation must deliver
    recall >= plain PQ at EQUAL code bytes, and strictly lower
    training reconstruction MSE. (On the hash-uniform testdata both
    are indistinguishable; this fixture is the regime that separates
    them.)"""
    from pyspark.sql import functions as F

    from vector_knowledge_base_spark.operators.ann import (
        anisotropic_embeddings,
        pq_opq_recall_curve,
    )

    ids = spark.range(0, 400).select(F.col("id").alias("vec_id"))
    emb = anisotropic_embeddings(ids).localCheckpoint(eager=True)
    rows = pq_opq_recall_curve(emb, budgets=(8,), n_queries=4)
    recall = {(r[0], r[1]): r[2] for r in rows}
    mse = {(r[0], r[1]): r[3] for r in rows}
    assert recall[(32, "opq")] >= recall[(32, "pq")], rows
    assert mse[(32, "opq")] < mse[(32, "pq")], rows
    # the covariance really is anisotropic — in its EIGENVALUES, not
    # the per-axis variances (the dense rotation deliberately mixes
    # those: that misalignment is exactly what OPQ corrects)
    import numpy as np

    mat = np.array(
        [r["embedding"] for r in emb.limit(200).collect()], dtype=np.float64
    )
    eig = np.linalg.eigvalsh(np.cov(mat.T))
    assert eig.max() / max(eig.min(), 1e-12) > 20.0
    axis_var = mat.var(axis=0)
    assert axis_var.max() / axis_var.min() < 20.0  # skew hidden from axes


def test_limit_prefix_stable_on_materialized_frame(spark):
    """``pq_opq_recall_curve`` collects ONE ``limit()`` sample and
    slices it for every consumer (``train_full[:4096]``), which is
    value-identical to per-consumer collects only if ``limit()`` on a
    materialized frame returns the same partition-order prefix every
    time. Pinned: two collects of the same limit are byte-identical,
    and a shorter limit is a prefix of a longer one — across several
    partitions."""
    import numpy as np

    from vector_knowledge_base_spark.operators.ann import (
        anisotropic_embeddings,
    )

    ids = spark.range(0, 400, numPartitions=4).select(
        F.col("id").alias("vec_id")
    )
    emb = anisotropic_embeddings(ids).localCheckpoint(eager=True)
    assert emb.rdd.getNumPartitions() > 1

    def sample(n):
        return np.array(
            emb.select("embedding").limit(n).toPandas()["embedding"].tolist(),
            dtype=np.float64,
        )

    a, b = sample(250), sample(250)
    assert a.shape == (250, b.shape[1])
    assert a.tobytes() == b.tobytes()
    short = sample(120)
    assert short.tobytes() == a[:120].tobytes()


def test_ivf_batch_topk_matches_single_loop_and_exact(spark, emb):
    """r14: the batched IVF plan must answer every query exactly like
    the per-query ivf_topk loop at the SAME n_probe (same probe rule,
    rounding, tie-break), and at full coverage (n_probe=None) equal
    exact kNN per query — while scanning only the union of probed
    cells (asserted on the plan's pushed cell filter)."""
    from vector_knowledge_base_spark.operators.ann import ivf_batch_topk
    from vector_knowledge_base_spark.operators.knn import cosine_topk
    from vector_knowledge_base_spark.plans.inspect import explain_str

    centroids, assigned = build_ivf(emb, n_partitions=8)
    qrows = emb.where(F.col("vec_id") < 4).select(
        "vec_id", "embedding"
    ).orderBy("vec_id").collect()
    qdf = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
         for r in qrows],
        "query_id int, query_vec array<double>",
    )
    got = ivf_batch_topk(centroids, assigned, qdf, k=10, n_probe=2)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["score"])
        )
    for r in qrows:
        qv = [float(x) for x in r["embedding"]]
        want = [
            (row["vec_id"], row["score"])
            for row in ivf_topk(
                centroids, assigned, qv, k=10, n_probe=2
            ).collect()
        ]
        assert by_q[int(r["vec_id"])] == want, r["vec_id"]
    # full coverage == exact kNN per query
    full = ivf_batch_topk(centroids, assigned, qdf, k=10, n_probe=None)
    by_q = {}
    for r in full.collect():
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    for r in qrows:
        qv = [float(x) for x in r["embedding"]]
        want = [
            (row["vec_id"], row["score"])
            for row in cosine_topk(emb, qv, k=10).collect()
        ]
        assert by_q[int(r["vec_id"])] == want
    # probed regime scans a cell subset: the isin filter is in the plan
    txt = explain_str(got)
    assert "ivf_cell" in txt
    # empty batch
    empty = ivf_batch_topk(
        centroids, assigned, qdf.where(F.lit(False)), k=5
    )
    assert empty.count() == 0
    assigned.unpersist()
