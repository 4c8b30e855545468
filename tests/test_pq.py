"""Product-quantization ANN tier (operators/pq.py): determinism,
recall vs the cosine brute-force ground truth, zero-quantization-error
exactness, byte accounting, and the IVFADC composition with the IVF
coarse quantizer."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.operators import pq
from pythondataingestionprocess_spark.operators import similarity as sim


def _clustered_df(spark, n=400, k=8, dim=32, seed=11):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((k, dim)) * 10
    rows = [
        (i, [float(x) for x in centers[i % k] + rng.standard_normal(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_fit_and_encode_deterministic(spark):
    df = _clustered_df(spark)
    cb1 = pq.pq_fit(df, m=4, ksub=16, max_iter=3)
    cb2 = pq.pq_fit(df, m=4, ksub=16, max_iter=3)
    assert cb1.shape == (4, 16, 8)
    assert np.array_equal(cb1, cb2)
    codes1 = sorted(
        tuple(r["pq_code"]) for r in pq.pq_encode(df, cb1).collect()
    )
    codes2 = sorted(
        tuple(r["pq_code"]) for r in pq.pq_encode(df, cb2).collect()
    )
    assert codes1 == codes2
    assert all(len(c) == 4 for c in codes1)


def test_pq_recall_on_planted_near_duplicates(spark):
    """The retrieval contract, measured where distances are GRADED:
    each query has 5 planted near-duplicates (query + small noise)
    inside a near-orthogonal random corpus — the true top-5 is
    unambiguous and separated by a wide margin, exactly the regime PQ
    serves (find the close ones, not order a tie plateau). ADC over
    4-smallint codes must recover nearly all of them.

    (A first test draft used the IVF suite's 8-cluster corpus and
    scored against exact cosine top-5: recall was ~0.2 — NOT a bug;
    all 50 cluster-mates quantize to near-identical codes, so ADC
    top-5 there measures tie-ordering by id, which PQ does not
    promise. See test_pq_cluster_mates_dominate for what it does
    promise on that corpus.)"""
    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.standard_normal(32)]) for i in range(400)
    ]
    # plant 5 near-dups of each query id 0..7 at ids 1000+
    planted = []
    vid = 1000
    base = {r[0]: np.array(r[1]) for r in rows[:8]}
    for qid in range(8):
        for _ in range(5):
            planted.append(
                (vid, [float(x) for x in base[qid] + 0.05 * rng.standard_normal(32)])
            )
            vid += 1
    df = spark.createDataFrame(
        rows + planted, "vec_id long, embedding array<float>"
    )
    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    brute = sim.knn_bruteforce(
        df, df.filter(F.col("vec_id") < 8), k=5
    ).select("query_id", "neighbor_id")

    cb = pq.pq_fit(df, m=4, ksub=16, max_iter=5)
    codes = pq.pq_encode(df, cb)
    approx = pq.pq_search(codes, queries, cb, k=5, exclude_self=True).select(
        F.col("q_id").alias("query_id"), F.col("vec_id").alias("neighbor_id")
    )
    n_true = brute.count()
    n_hit = brute.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    assert n_true == 40
    assert n_hit / n_true >= 0.9, f"PQ recall {n_hit / n_true}"


def test_pq_cluster_mates_dominate(spark):
    """What PQ DOES promise on a blocky clustered corpus: everything
    ADC ranks into the top-k is a true cluster-mate (codes separate
    clusters cleanly even when they cannot order within one)."""
    df = _clustered_df(spark)
    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cb = pq.pq_fit(df, m=4, ksub=16, max_iter=5)
    codes = pq.pq_encode(df, cb)
    got = pq.pq_search(codes, queries, cb, k=5, exclude_self=True).collect()
    assert len(got) == 40
    for r in got:
        assert r["vec_id"] % 8 == r["q_id"] % 8, (
            f"query {r['q_id']} retrieved cross-cluster {r['vec_id']}"
        )


def test_pq_adc_exact_when_corpus_is_the_codebook(spark):
    """Zero quantization error pins the ADC math: build the codebook
    DIRECTLY from unit-norm subspace blocks scaled by 1/sqrt(m), so
    every block concatenation is unit-norm as a full vector — each
    corpus vector IS its own reconstruction, encode is a clean argmin,
    and ADC equals the true squared-L2. Top-1 for a query equal to a
    corpus vector must be that vector at distance ~0, and all other
    ADC distances must equal the exact pairwise distances."""
    rng = np.random.default_rng(3)
    blocks = rng.standard_normal((2, 4, 4))
    blocks /= np.sqrt((blocks * blocks).sum(axis=2, keepdims=True))
    cb = blocks / np.sqrt(2.0)  # m=2 → full vectors are unit-norm
    rows = []
    vid = 0
    for c0 in range(4):
        for c1 in range(4):
            v = np.concatenate([cb[0, c0], cb[1, c1]])
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes = pq.pq_encode(df, cb)
    q = df.filter(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    got = {
        r["vec_id"]: r["adc_dist"]
        for r in pq.pq_search(codes, q, cb, k=16).collect()
    }
    assert min(got, key=got.get) == 5
    assert got[5] == pytest.approx(0.0, abs=1e-6)
    full = np.array([r[1] for r in rows])
    for vid2, dist in got.items():
        exact = float(((full[5] - full[vid2]) ** 2).sum())
        assert dist == pytest.approx(exact, abs=1e-6), vid2


def test_pq_rejects_bad_shapes(spark):
    df = _clustered_df(spark, n=20)
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_fit(df, m=5, ksub=4)
    with pytest.raises(ValueError, match="need >="):
        pq.pq_fit(df, m=4, ksub=64)


def test_pq_fit_tolerates_zero_vector(spark):
    """A single all-zero embedding (an empty document) must not kill
    the whole fit with ANSI DIVIDE_BY_ZERO inside the SQL
    re-normalization: a directionless vector drops out of the codebook
    update."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(64)]
    rows.append((64, [0.0] * 16))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq.pq_fit(df, m=4, ksub=8, max_iter=2)
    assert cb.shape == (4, 8, 4)
    assert np.isfinite(cb).all()  # a zero vector must not NaN-poison


def test_ivf_pq_oracle_tie_margins_are_ulp_safe():
    """The IVF/PQ full oracles depend on cross-engine
    argmin/rank agreement under ~1-ulp float divergence (numpy GEMM vs
    DuckDB sequential folds). This certificate MEASURES the distance
    plateaus on the driver correctness corpus (sf0.01) with a pure
    numpy replay of both pipelines and asserts every ranking-relevant
    gap is >= 1e-9 — ~7 orders of magnitude above the ulp class — or
    an EXACT plateau between bit-identical inputs (same embedding /
    same code sequence), which both engines break identically via the
    id tiebreak. If this test ever fails at a new SF, the expected
    driver signature is a hash mismatch on embedding_ann_ivf /
    embedding_ann_pq with row counts equal: re-run this margin scan
    there before suspecting the operators."""
    import hashlib

    import numpy as np
    import pandas as pd

    MARGIN = 1e-9

    df = pd.read_parquet("/root/testdata/sf0.01/embeddings.parquet")
    ids = df["vec_id"].to_numpy()
    X = np.stack(df["embedding"].to_numpy()).astype(np.float64)
    order = np.argsort([hashlib.md5(str(int(v)).encode()).hexdigest()
                        for v in ids], kind="stable")

    def gaps_ok(d, keys, n_check=None):
        """Sorted-adjacent gaps: each must exceed MARGIN or be an
        exact plateau between identical keys."""
        idx = np.lexsort((np.arange(len(d)), d))
        d_sorted, k_sorted = d[idx], [keys[i] for i in idx]
        upto = len(d) - 1 if n_check is None else min(n_check, len(d) - 1)
        for i in range(upto):
            gap = d_sorted[i + 1] - d_sorted[i]
            if gap < MARGIN:
                assert gap == 0.0 and k_sorted[i] == k_sorted[i + 1], (
                    f"near-tie inside the ulp danger zone: gap={gap!r}")

    # ---- IVF: 16 md5-seeded centroids, |c|^2 - 2 v.c assignment ----
    C = X[order[:16]]
    d_all = (C * C).sum(1)[None, :] - 2.0 * X @ C.T       # (n, 16)
    for row, v in zip(d_all, X):
        gaps_ok(row, [tuple(c) for c in C])               # argmin + probe rank
    # candidate cosine ranking for the 10 queries
    assigned = np.argmin(d_all, axis=1)
    norms = np.sqrt((X * X).sum(1))
    for q in range(10):
        qi = np.where(ids == q)[0][0]
        probe = set(np.argsort(d_all[qi], kind="stable")[:4])
        cand = [i for i in range(len(ids))
                if assigned[i] in probe and ids[i] != q]
        cos = np.array([X[qi] @ X[i] / (norms[qi] * norms[i])
                        for i in cand])
        gaps_ok(-cos, [tuple(X[i]) for i in cand], n_check=6)

    # ---- PQ: normalize, md5 seeds, 8x8 codebooks, encode + ADC ----
    nn = np.where(norms == 0, 1.0, norms)
    U = X / nn[:, None]
    seeds = U[order[:16]]
    codes = np.empty((len(ids), 8), dtype=np.int64)
    for s in range(8):
        us, cs = U[:, s * 8:(s + 1) * 8], seeds[:, s * 8:(s + 1) * 8]
        d_enc = (cs * cs).sum(1)[None, :] - 2.0 * us @ cs.T
        for row in d_enc:
            gaps_ok(row, [tuple(c) for c in cs])          # encode argmin
        codes[:, s] = np.argmin(d_enc, axis=1)
    for q in range(10):
        qi = np.where(ids == q)[0][0]
        lut = np.stack([((U[qi, s * 8:(s + 1) * 8][None, :]
                          - seeds[:, s * 8:(s + 1) * 8]) ** 2).sum(1)
                        for s in range(8)])               # (8, 16)
        adc = np.array([sum(lut[s, codes[i, s]] for s in range(8))
                        for i in range(len(ids))])
        gaps_ok(adc, [tuple(codes[i]) for i in range(len(ids))], n_check=6)
