"""Product-quantization ANN (operators/similarity.py pq_topk_portable)
and cluster-balanced subsampling (cluster_balanced_sample): codebook
determinism, Python-replay parity of codes/ADC, recall floor vs the
exact-L2 twin, and partitioning-invariance of the admitted sample."""

import math
import random

import pytest
from pyspark.sql import functions as F

from merchant_classification_spark.operators.similarity import (
    _deterministic_kmeans,
    _fit_pq_codebooks,
    adc_distance,
    brute_force_topk_l2,
    cluster_balanced_sample,
    deterministic_fit_sample,
    pq_encode,
    pq_lut,
    pq_topk_portable,
)

DIM = 16
N_SUB = 4
N_CODES = 8


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(7)
    # 8 loose clusters so PQ/IVF have real structure to find
    centers = [[rng.uniform(-3, 3) for _ in range(DIM)] for _ in range(8)]
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [c[j] + rng.gauss(0, 0.4) for j in range(DIM)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def fitted(vectors):
    fit = deterministic_fit_sample(vectors, 128)
    return fit, _fit_pq_codebooks(fit, N_SUB, N_CODES)


def test_codebook_fit_deterministic_and_shaped(fitted):
    fit, books = fitted
    again = _fit_pq_codebooks(fit, N_SUB, N_CODES)
    assert books == again
    assert len(books) == N_SUB
    assert all(len(b) == N_CODES for b in books)
    assert all(len(c) == DIM // N_SUB for b in books for c in b)


def test_codebook_fit_rejects_bad_split(fitted):
    fit, _ = fitted
    with pytest.raises(ValueError):
        _fit_pq_codebooks(fit, 5, N_CODES)  # 16 % 5 != 0
    with pytest.raises(ValueError):
        _fit_pq_codebooks([], N_SUB, N_CODES)


def test_pq_fit_empty_frame_raises(spark, vectors):
    from merchant_classification_spark.operators.similarity import pq_fit

    with pytest.raises(
        ValueError, match="fit sample must be a non-empty list of vectors"
    ):
        pq_fit(vectors.limit(0), n_subspaces=N_SUB)


def test_pq_fit_single_row_caps_centroids_and_codes(spark, vectors):
    """One fit vector: k-means caps k at the sample size, so the index
    has exactly one coarse cell and one code per subspace, each equal
    to the vector itself (or its slice)."""
    from merchant_classification_spark.operators.similarity import pq_fit

    one = vectors.where(F.col("vec_id") == 0)
    v = one.first()["embedding"]
    coarse, books = pq_fit(one, n_centroids=4, n_subspaces=N_SUB, n_codes=4)
    assert coarse == [list(v)]
    ds = DIM // N_SUB
    assert books == [[list(v[m * ds:(m + 1) * ds])] for m in range(N_SUB)]


def _py_code(v, book):
    best, best_d = 1, None
    for j, c in enumerate(book):
        d = 0.0
        for a, b in zip(v, c):
            d = d + (a - b) * (a - b)
        if best_d is None or d < best_d:
            best, best_d = j + 1, d
    return best


def _encoded(df, coarse, books):
    return {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in pq_encode(df, coarse, books).collect()
    }


def _replayed(rows, coarse, books):
    ds = DIM // N_SUB
    return {
        i: (
            _py_code(v, coarse),
            [_py_code(v[m * ds:(m + 1) * ds], books[m]) for m in range(N_SUB)],
        )
        for i, v in rows.items()
    }


@pytest.fixture(scope="module")
def coarse(fitted):
    return _deterministic_kmeans(fitted[0], 8, 10)


@pytest.fixture(scope="module")
def rows(vectors):
    return {r["vec_id"]: list(r["embedding"]) for r in vectors.collect()}


def test_codes_match_python_replay(spark, vectors, fitted, coarse, rows):
    _, books = fitted
    got = _encoded(vectors.where(F.col("vec_id") < 50), coarse, books)
    want = _replayed({i: rows[i] for i in range(50)}, coarse, books)
    assert {i: c for i, (_, c) in got.items()} == {
        i: c for i, (_, c) in want.items()
    }


def test_adc_matches_python_replay(spark, vectors, fitted, coarse, rows):
    _, books = fitted
    ds = DIM // N_SUB
    q = [0.5] * DIM
    got = (
        pq_encode(vectors.where(F.col("vec_id") < 20), coarse, books)
        .select(
            "vec_id",
            adc_distance(
                pq_lut(F.array(*[F.lit(x) for x in q]), books),
                F.col("codes"),
                N_SUB,
            ).alias("adc"),
        )
        .collect()
    )
    assert len(got) == 20
    for r in got:
        v = rows[r["vec_id"]]
        acc = 0.0
        for m in range(N_SUB):
            code = _py_code(v[m * ds:(m + 1) * ds], books[m])
            cent = books[m][code - 1]
            d = 0.0
            for i in range(ds):
                t = q[m * ds + i] - cent[i]
                d = d + t * t
            acc = acc + d
        assert r["adc"] == acc, r["vec_id"]


def test_pq_topk_refined_recall_and_determinism(spark, vectors):
    qs = vectors.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    approx = pq_topk_portable(
        vectors, qs, k=5, n_centroids=8, n_probe=3,
        n_subspaces=N_SUB, n_codes=N_CODES, fit_target=128,
        refine_factor=8,
    )
    exact = brute_force_topk_l2(vectors, qs, k=5)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert len(a) == 8 * 5 and len(e) == 8 * 5
    recall = len(a & e) / len(e)
    # tight clusters collapse onto identical codes, so pure ADC cannot
    # rank within a cluster; the refine stage re-ranks the pool exactly
    assert recall >= 0.8, recall

    # partitioning-invariant: same rows, same ranks, same doubles
    again = pq_topk_portable(
        vectors.repartition(13), qs, k=5, n_centroids=8, n_probe=3,
        n_subspaces=N_SUB, n_codes=N_CODES, fit_target=128,
        refine_factor=8,
    )
    rows1 = sorted(map(tuple, approx.collect()))
    rows2 = sorted(map(tuple, again.collect()))
    assert rows1 == rows2


def test_pq_topk_adc_only_mode(spark, vectors):
    qs = vectors.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    raw = pq_topk_portable(
        vectors, qs, k=5, n_centroids=8, n_probe=3,
        n_subspaces=N_SUB, n_codes=N_CODES, fit_target=128,
        refine_factor=None,
    )
    rows = raw.collect()
    assert raw.columns == ["query_id", "vec_id", "adc_d2", "rank"]
    assert len(rows) == 4 * 5
    # ADC distances are non-negative and ranks honor (adc_d2, vec_id)
    per_q = {}
    for r in rows:
        assert r["adc_d2"] >= 0.0
        per_q.setdefault(r["query_id"], []).append(r)
    for members in per_q.values():
        members.sort(key=lambda r: r["rank"])
        keys = [(r["adc_d2"], r["vec_id"]) for r in members]
        assert keys == sorted(keys)
    with pytest.raises(ValueError):
        pq_topk_portable(vectors, qs, refine_factor=0)


def test_exact_l2_twin_is_exact(spark, vectors):
    qs = vectors.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = brute_force_topk_l2(vectors, qs, k=3).collect()
    data = {r["vec_id"]: list(r["embedding"]) for r in vectors.collect()}
    for qid in range(3):
        qv = data[qid]
        scored = sorted(
            (
                (sum((a - b) ** 2 for a, b in zip(v, qv)), i)
                for i, v in data.items()
                if i != qid
            ),
        )[:3]
        want = [i for _, i in scored]
        have = [
            r["vec_id"]
            for r in sorted(
                (r for r in got if r["query_id"] == qid),
                key=lambda r: r["rank"],
            )
        ]
        assert have == want, qid
        for r in got:
            if r["query_id"] == qid:
                assert not math.isnan(r["l2_d2"])


def test_cluster_balanced_sample_caps_and_stability(spark, vectors):
    out = cluster_balanced_sample(
        vectors, per_cell=12, n_centroids=8, fit_target=128
    )
    rows = out.collect()
    # cap respected, ranks dense from 1
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        rks = sorted(m["rk"] for m in members)
        assert rks == list(range(1, len(rks) + 1))
        assert len(members) <= 12
        # cell_total consistent within the cell and >= admitted count
        totals = {m["cell_total"] for m in members}
        assert len(totals) == 1
        assert totals.pop() >= len(members)
    # totals over all cells cover the corpus
    tot = {r["cell"]: r["cell_total"] for r in rows}
    assert sum(tot.values()) == 400
    # admitted set is a pure row function — layout-invariant
    again = cluster_balanced_sample(
        vectors.repartition(17), per_cell=12, n_centroids=8, fit_target=128
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_cluster_balanced_sample_rejects_bad_cap(spark, vectors):
    with pytest.raises(ValueError):
        cluster_balanced_sample(vectors, per_cell=0)


def test_kmeans_subspace_slices_match_manual(fitted):
    fit, books = fitted
    ds = DIM // N_SUB
    for m in range(N_SUB):
        manual = _deterministic_kmeans(
            [v[m * ds:(m + 1) * ds] for v in fit], N_CODES, 10
        )
        assert books[m] == manual


def test_persisted_index_search_matches_one_shot(spark, vectors, tmp_path):
    """The deployment shape: pq_fit -> pq_encode -> write codes to
    parquet -> reload -> pq_search must equal the inlined
    pq_topk_portable bit-for-bit (the index round-trips losslessly:
    ints and small ints only)."""
    from merchant_classification_spark.operators.similarity import (
        pq_encode,
        pq_fit,
        pq_search,
    )

    qs = vectors.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    kwargs = dict(n_centroids=8, n_subspaces=N_SUB, n_codes=N_CODES,
                  fit_target=128)
    coarse, books = pq_fit(vectors, **kwargs)
    path = str(tmp_path / "pq_index")
    pq_encode(vectors, coarse, books).write.parquet(path)
    index = spark.read.parquet(path)

    via_index = pq_search(
        index, vectors, coarse, books, qs, k=5, n_probe=3, refine_factor=8
    )
    one_shot = pq_topk_portable(
        vectors, qs, k=5, n_probe=3, refine_factor=8, **kwargs
    )
    assert sorted(map(tuple, via_index.collect())) == sorted(
        map(tuple, one_shot.collect())
    )

    # ADC-only search never needs the raw table: passing an EMPTY data
    # frame must still work (the refine fetch is the only consumer)
    empty = vectors.limit(0)
    adc_only = pq_search(
        index, empty, coarse, books, qs, k=5, n_probe=3, refine_factor=None
    )
    assert adc_only.count() == 6 * 5


def test_arrow_encode_bit_identical_to_native(
    spark, vectors, fitted, coarse, rows
):
    """The Arrow encode kernel's every cell and code equals the
    pure-Python left-assoc fold with first-min ties — the order of the
    native expression fold the oracle's SQL replays — under any
    partitioning of the input."""
    _, books = fitted
    want = _replayed(rows, coarse, books)
    assert _encoded(vectors, coarse, books) == want
    assert _encoded(vectors.repartition(7), coarse, books) == want
    assert len(want) == 400


@pytest.mark.parametrize(
    "vec, what",
    [
        (None, "is null"),
        ([0.5] * (DIM - 1), f"has {DIM - 1} values, expected {DIM}"),
        ([float("nan")] + [0.5] * (DIM - 1), "has a NaN or infinite value"),
        ([0.5] * (DIM - 1) + [float("inf")], "has a NaN or infinite value"),
        ([None] + [0.5] * (DIM - 1), "has a NaN or infinite value"),
    ],
    ids=["null", "ragged", "nan", "inf", "null-element"],
)
def test_encode_rejects_degenerate_vector(
    spark, vectors, fitted, coarse, vec, what
):
    """A vector with no nearest centroid fails the encode with a named
    error instead of a raw numpy IndexError or a silent code."""
    _, books = fitted
    bad = spark.createDataFrame(
        [(1000, vec)], "vec_id long, embedding array<double>"
    )
    msg = f"ValueError: pq_encode: vec_id 1000 {what}"
    with pytest.raises(Exception, match=msg):
        pq_encode(vectors.limit(5).unionByName(bad), coarse, books).collect()


def test_index_append_row_identical_to_full_reencode(spark, vectors, fitted, tmp_path):
    """Incremental maintenance contract: init-encode batch 0 +
    pq_index_append of a delta batch 1, read back through
    read_pq_index, must equal a FULL re-encode of the grown corpus
    row-for-row (codes are pure per-row maps of (vector, literals), so
    the merged layout is bit-identical, not just set-equal). Replay of
    the same append (the at-least-once retry hazard) must not
    duplicate rows — per-partition overwrite."""
    import os

    from merchant_classification_spark.operators.similarity import (
        pq_encode,
        pq_index_append,
        pq_index_write,
        read_pq_index,
    )

    fit, books = fitted
    coarse = _deterministic_kmeans(fit, 8, 10)
    base = vectors.where(F.col("vec_id") < 300)
    delta = vectors.where(F.col("vec_id") >= 300)
    index_path = os.path.join(str(tmp_path), "index")

    pq_index_write(pq_encode(base, coarse, books), index_path, batch_id=0)
    for _ in range(2):  # second pass = the crash-replay of batch 1
        pq_index_append(delta, coarse, books, index_path, batch_id=1)

    merged = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in read_pq_index(spark, index_path).collect()
    }
    full = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in pq_encode(vectors, coarse, books).collect()
    }
    assert merged == full
    assert read_pq_index(spark, index_path).count() == 400  # no dup rows
