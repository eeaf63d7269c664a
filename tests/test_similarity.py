"""Similarity-search tests: brute-force exactness vs numpy, LSH recall."""


import numpy as np
import pytest
from pyspark.sql import functions as F

from merchant_classification_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    hyperplane_signature,
    lsh_topk,
)

K = 5
N_QUERIES = 8


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def numpy_topk(emb_rows, k):
    ids = np.array([r.vec_id for r in emb_rows])
    mat = np.array([r.embedding for r in emb_rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    out = {}
    for qi in range(N_QUERIES):
        sims = mat @ mat[qi] / (norms * norms[qi])
        order = sorted(
            [(float(-s), int(i)) for s, i in zip(sims, ids) if i != qi]
        )[:k]
        out[qi] = [i for _, i in order]
    return out


def test_brute_force_matches_numpy(emb, queries):
    rows = emb.collect()
    expected = numpy_topk(rows, K)
    got_rows = brute_force_topk(emb, queries, k=K).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.vec_id)
    assert got == expected


def test_lsh_recall_reasonable(emb, queries):
    rows = emb.collect()
    expected = numpy_topk(rows, K)
    got_rows = lsh_topk(emb, queries, dim=64, k=K, bits=4, tables=8).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(got.get(q, set()) & set(v)) for q, v in expected.items())
    recall = hits / (K * N_QUERIES)
    assert recall > 0.5, f"LSH recall too low: {recall}"


def test_signature_deterministic(emb):
    a = emb.select(hyperplane_signature("embedding", 64, 12, seed=1).alias("s"))
    b = emb.select(hyperplane_signature("embedding", 64, 12, seed=1).alias("s"))
    assert [r.s for r in a.collect()] == [r.s for r in b.collect()]


def test_embedding_neardup_self_detection(spark, emb):
    """Duplicate a few vectors with tiny noise; the near-dup op must pair
    each copy with its source."""
    src = emb.where(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.col("embedding"),
        F.col("label"),
    )
    df = emb.unionByName(src)
    pairs = embedding_neardup_pairs(df, dim=64, threshold=0.999, bits=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    for i in range(3):
        assert (i, i + 100000) in got


def test_int8_bruteforce_recall(spark, sf_dir):
    from pyspark.sql import functions as F

    from merchant_classification_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_int8,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r.query_id, r.vec_id) for r in brute_force_topk(emb, qs, k=10).collect()
    }
    quant = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk_int8(emb, qs, k=10).collect()
    }
    # int8 quantization on 64-dim unit-ish vectors barely moves cosine:
    # demand near-perfect agreement with the fp64 exact scan
    assert len(exact & quant) / len(exact) >= 0.9


def test_with_recall_at_k_annotation(emb, queries):
    """recall_at_k rides on the approx output: exact-vs-exact recall is
    1.0 everywhere; LSH recall matches a hand computation per query and
    clears the driver queries' evidence floor on average."""
    from merchant_classification_spark.operators.similarity import with_recall_at_k

    exact = brute_force_topk(emb, queries, k=K)
    self_rec = with_recall_at_k(exact, exact).collect()
    assert self_rec and all(r.recall_at_k == 1.0 for r in self_rec)

    approx = lsh_topk(emb, queries, dim=64, k=K, bits=4, tables=16)
    got = with_recall_at_k(approx, exact).collect()
    exact_sets: dict[int, set] = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets: dict[int, set] = {}
    for r in got:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in got:
        hand = len(approx_sets[r.query_id] & exact_sets[r.query_id]) / K
        assert r.recall_at_k == pytest.approx(hand)
    per_q = {r.query_id: r.recall_at_k for r in got}
    assert sum(per_q.values()) / len(per_q) >= 0.8


def test_ivf_portable_deterministic_and_recall(emb, queries):
    """The portable-quantizer IVF: partition-independent results (the
    whole point of the deterministic fit), sane recall, and the fit
    sample/KMeans replay agrees with a pure-Python recomputation."""
    from merchant_classification_spark.operators.similarity import (
        _deterministic_kmeans,
        deterministic_fit_sample,
        ivf_topk_portable,
    )

    a = ivf_topk_portable(
        emb, queries, k=K, n_centroids=8, n_probe=4, fit_target=64
    ).collect()
    b = ivf_topk_portable(
        emb.repartition(7), queries, k=K, n_centroids=8, n_probe=4, fit_target=64
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # recall vs exact
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=K).collect()
    }
    hits = sum((r.query_id, r.vec_id) in exact for r in a)
    assert hits / len(exact) > 0.5
    # fit sample replay: every stride-th id, id order, float64-exact
    rows = sorted(
        (r.vec_id, [float(x) for x in r.embedding]) for r in emb.collect()
    )
    n = len(rows)
    stride = max(1, n // 64)
    want = [v for i, v in rows if i % stride == 0][:64]
    got = deterministic_fit_sample(emb, 64)
    assert got == want
    # same sample -> bit-identical centroids on a second call
    assert _deterministic_kmeans(want, 8) == _deterministic_kmeans(got, 8)


def test_deterministic_kmeans_properties():
    from merchant_classification_spark.operators.similarity import (
        _deterministic_kmeans,
    )

    vecs = [[float(i % 5), float(i % 3)] for i in range(30)]
    c = _deterministic_kmeans(vecs, 4, iters=5)
    assert len(c) == 4 and all(len(x) == 2 for x in c)
    # k > n clamps
    assert len(_deterministic_kmeans(vecs[:3], 8)) == 3
    import pytest as _pt

    with _pt.raises(ValueError):
        _deterministic_kmeans([], 4)
    # a NaN/inf fit vector is named by row, not fitted into a NaN centroid
    with _pt.raises(ValueError, match="fit vector 0 has a NaN"):
        _deterministic_kmeans([[float("nan"), 2.0], [1.0, 1.0]], 2, 5)
    with _pt.raises(ValueError, match="fit vector 2 has a NaN or infinite"):
        _deterministic_kmeans([[0.0, 0.0], [1.0, 1.0], [1.0, float("-inf")]], 2)


def test_semantic_dedup_matches_naive_replay(spark, emb):
    """semantic_dedup_portable vs a from-scratch numpy replay of the
    declared semantics (same fit sample, same Lloyd's fit, exists-based
    outranked-by-τ-close-neighbor drop): keep flags, cells, and
    centroid distances must match row-for-row."""
    from merchant_classification_spark.operators.similarity import (
        _deterministic_kmeans,
        semantic_dedup_portable,
    )

    tau, k_cells, fit_target, iters = 0.4, 8, 256, 10
    out = {
        r.vec_id: (r.cell, r.centroid_d2, r.keep)
        for r in semantic_dedup_portable(
            emb,
            threshold=tau,
            n_centroids=k_cells,
            fit_target=fit_target,
            max_iter=iters,
        ).collect()
    }

    rows = sorted(
        emb.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    stride = max(1, len(X) // fit_target)
    fit = [list(X[i]) for i in range(len(X)) if ids[i] % stride == 0][
        :fit_target
    ]
    C = np.array(_deterministic_kmeans(fit, k_cells, iters))
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cell = d2.argmin(axis=1)
    cd2 = d2.min(axis=1)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    n_dropped = 0
    for i in range(len(X)):
        dup = any(
            (cd2[j] > cd2[i] or (cd2[j] == cd2[i] and ids[j] < ids[i]))
            and S[i, j] >= tau
            for j in range(len(X))
            if j != i and cell[j] == cell[i]
        )
        n_dropped += dup
        got_cell, got_d2, got_keep = out[int(ids[i])]
        assert got_cell == cell[i] + 1  # Spark cells are 1-based
        assert got_keep == (not dup)
        assert abs(got_d2 - cd2[i]) < 1e-9
    # the probe threshold must exercise a real mix on this corpus
    assert 0 < n_dropped < len(X)

    # kept-set property: of any τ-close same-cell pair, one outranks the
    # other and drops — so no two KEPT vectors are τ-close in a cell
    kept = [i for i in range(len(X)) if out[int(ids[i])][2]]
    for a in kept:
        for b in kept:
            if a < b and cell[a] == cell[b]:
                assert S[a, b] < tau


def test_semantic_dedup_exact_duplicates_keep_one(spark):
    """A group of identical vectors collapses to ONE kept row (the
    lowest id — equal centroid distances tie-break by id), regardless
    of partitioning."""
    from merchant_classification_spark.operators.similarity import (
        semantic_dedup_portable,
    )

    base = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    rows = []
    for g, v in enumerate(base):
        for c in range(3):  # 3 identical copies per group
            rows.append((g * 10 + c, v))
    df = spark.createDataFrame(
        rows, ["vec_id", "embedding"]
    ).repartition(7)
    out = semantic_dedup_portable(
        df, threshold=0.99, n_centroids=3, fit_target=9
    )
    kept = sorted(r.vec_id for r in out.where("keep").collect())
    assert kept == [0, 10, 20]
    assert out.count() == 9


def test_hard_negative_topk_vs_numpy(spark):
    """Hard negatives: nearest wrong-label neighbors only, self excluded
    via its own label, NULL labels never pair, ranks total-ordered."""
    import numpy as np

    from merchant_classification_spark.operators.similarity import (
        hard_negative_topk,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(20, 8)).astype("float64")
    labels = [i % 3 for i in range(18)] + [None, None]
    rows = [
        (i, [float(x) for x in vecs[i]], labels[i]) for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    qs = df.where("vec_id < 4").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec", "label AS query_label"
    )
    out = hard_negative_topk(df, qs, k=5).collect()

    norms = np.linalg.norm(vecs, axis=1)
    for qid in range(4):
        got = sorted(
            [(r.rank, r.vec_id, r.vec_label, r.cosine_sim) for r in out if r.query_id == qid]
        )
        sims = []
        for j in range(20):
            if labels[j] is None or labels[j] == labels[qid]:
                continue  # same-label (incl. self) and NULL-label never pair
            c = float(vecs[qid] @ vecs[j] / (norms[qid] * norms[j]))
            sims.append((-c, j))
        want = [
            (rank + 1, j, labels[j]) for rank, (_, j) in enumerate(sorted(sims)[:5])
        ]
        assert [(r, v, l) for r, v, l, _ in got] == want
        # hardest negative first, monotone down the ranks
        for a, b in zip(got, got[1:]):
            assert a[3] >= b[3]
