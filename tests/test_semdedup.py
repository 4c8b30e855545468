"""SemDeDup (operators/semdedup.py): deterministic md5 centroid pick,
expression-based assignment parity with numpy argmin, the paper's
low-centroid-similarity keep-rule, clique vs chain drop semantics,
cluster-scoping (cross-cluster dups survive — the paper's accepted
approximation), and the full-corpus planted-duplicate screen."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from pythondataingestionprocess_spark.operators.semdedup import (
    assign_clusters,
    md5_centroids,
    semdedup_dropped,
)

SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows], SCHEMA
    )


def test_md5_centroids_deterministic_pick(spark):
    rows = [(i, [float(i), 1.0]) for i in range(20)]
    df = _df(spark, rows)
    got = md5_centroids(df, k=4)
    expect_ids = sorted(
        range(20), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:4]
    assert [int(v[0]) for _, v in got] == expect_ids
    assert [c for c, _ in got] == [0, 1, 2, 3]


def test_assignment_matches_numpy_argmin(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    cents = [(c, [float(x) for x in rng.normal(size=8)]) for c in range(5)]
    df = _df(spark, [(i, list(v)) for i, v in enumerate(vecs)])
    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(df, cents).collect()
    }
    c_mat = np.array([v for _, v in cents], dtype=np.float64)
    for i, v in enumerate(vecs):
        d = ((v.astype(np.float64)[None, :] - c_mat) ** 2).sum(axis=1)
        assert got[i] == int(d.argmin()), f"vec {i}"


def test_exact_copy_clique_keeps_lowest_rank_only(spark):
    # centroid at e0; three bit-identical copies -> equal cos_c, id
    # tie-break keeps the lowest id; both others name it as dup_of.
    base = [1.0, 0.2, 0.0, 0.0]
    rows = [(10, base), (11, base), (12, base), (99, [0.0, 0.0, 1.0, 0.0])]
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])]
    dropped = {
        r["vec_id"]: r["dup_of"]
        for r in semdedup_dropped(_df(spark, rows), cents).collect()
    }
    assert dropped == {11: 10, 12: 10}


def test_paper_keep_rule_prefers_low_centroid_similarity(spark):
    # a is MORE central than b (higher cos to the centroid); the pair
    # is above threshold, so the paper keeps the edge example b --
    # even though a has the lower id.
    a = [1.0, 0.05, 0.0, 0.0]
    b = [1.0, 0.12, 0.0, 0.0]
    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    cos_ab = np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
    assert cos_ab > 0.995
    dropped = semdedup_dropped(
        _df(spark, [(1, a), (2, b)]), cents, threshold=0.995
    ).collect()
    assert [(r["vec_id"], r["dup_of"]) for r in dropped] == [(1, 2)]


def test_chain_drops_both_tails(spark):
    # a~b and b~c above threshold but a~c below: the one-pass screen
    # drops b AND c (component convention, documented as more
    # aggressive than sequential greedy), and c's dup_of names b even
    # though b itself dropped.
    theta1, theta2 = 0.0, 0.06,
    a = [np.cos(theta1), np.sin(theta1), 0.0, 0.0]
    b = [np.cos(theta2 / 2), np.sin(theta2 / 2), 0.0, 0.0]
    c = [np.cos(theta2), np.sin(theta2), 0.0, 0.0]
    t = 0.9995
    assert np.dot(a, b) >= t and np.dot(b, c) >= t and np.dot(a, c) < t
    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    # ranks: cos_c(a) is highest (a most central). Keep-rank ASC by
    # cos_c: c (least central) ranks FIRST, then b, then a.
    dropped = {
        r["vec_id"]: r["dup_of"]
        for r in semdedup_dropped(
            _df(spark, [(1, a), (2, b), (3, c)]), cents, threshold=t
        ).collect()
    }
    # c keeps (best rank); b dominated by c; a dominated by b only
    # (cos(a,c) < t), so a's dup_of is the dropped row b.
    assert dropped == {2: 3, 1: 2}


def test_cross_cluster_duplicates_survive(spark):
    # identical vectors equidistant-split by centroid choice cannot
    # happen (identical -> identical assignment); force the miss with
    # two NEAR-duplicates straddling a centroid boundary instead.
    a = [1.0, 0.03, 0.0, 0.0]
    b = [1.0, -0.03, 0.0, 0.0]
    assert np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)) > 0.995
    cents = [(0, [1.0, 0.1, 0.0, 0.0]), (1, [1.0, -0.1, 0.0, 0.0])]
    got = semdedup_dropped(
        _df(spark, [(1, a), (2, b)]), cents, threshold=0.995
    ).collect()
    assert got == []  # different cells are never compared (paper §3)


def test_gemm_assigner_matches_expression_assigner(spark):
    # the large-k Arrow kernel and the literal expression share the
    # argmin-(d, cid) contract: identical clusters AND centroid
    # cosines (to float tolerance) on random data
    rng = __import__("numpy").random.default_rng(11)
    vecs = rng.normal(size=(60, 8)).astype("float32")
    cents = [(c, [float(x) for x in rng.normal(size=8)]) for c in range(6)]
    df = _df(spark, [(i, list(v)) for i, v in enumerate(vecs)])
    expr = {
        r["vec_id"]: (r["cluster"], r["cos_c"])
        for r in assign_clusters(df, cents, assigner="expr").collect()
    }
    gemm = {
        r["vec_id"]: (r["cluster"], r["cos_c"])
        for r in assign_clusters(df, cents, assigner="gemm").collect()
    }
    assert set(expr) == set(gemm)
    for i in expr:
        assert expr[i][0] == gemm[i][0], f"cluster mismatch vec {i}"
        assert expr[i][1] == pytest.approx(gemm[i][1], abs=1e-12)


def test_gemm_cos_is_batch_shape_invariant():
    """The keep-rank cos_c must be bit-identical for the same row no
    matter which Arrow batch shape it rode in. BLAS GEMM violates this
    (OpenBLAS picks different kernels by M — measured ~7e-15 per-row
    drift between M=64 and M=100), which once flipped the (cos, id)
    tie between a bit-identical copy pair whose batches differed in
    size. The kernel recomputes the
    selected-centroid dot with numpy's fixed-order row reduction; this
    pins that property by driving the raw pandas_udf function on the
    same vector embedded in batches of many different sizes/positions."""
    import pandas as pd

    from pythondataingestionprocess_spark.operators.semdedup import (
        _assign_gemm_udf,
    )

    rng = np.random.default_rng(7)
    cents = [(c, [float(x) for x in rng.normal(size=64)]) for c in range(16)]
    fn = _assign_gemm_udf(cents).func  # raw function, no Spark needed
    v = rng.normal(size=64).astype("float32")
    ref = None
    for m in (1, 2, 3, 7, 64, 100, 1000):
        for pos in sorted({0, m // 2, m - 1}):
            batch = rng.normal(size=(m, 64)).astype("float32")
            batch[pos] = v
            out = fn(pd.Series(list(batch)))
            got = (out["c"].iloc[pos], out["cos"].iloc[pos])
            if ref is None:
                ref = got
            assert got == ref, f"shape-dependent assignment at m={m} pos={pos}"


def test_gemm_dedup_output_matches_expression(spark, sf_dir):
    # the full dedup verdict is assigner-invariant on a planted corpus
    from pythondataingestionprocess_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    corpus = emb.select("vec_id", "embedding").unionAll(
        copies.select("vec_id", "embedding")
    )
    cents = md5_centroids(emb, k=16)
    a = {
        (r["vec_id"], r["dup_of"])
        for r in semdedup_dropped(corpus, cents, assigner="expr").collect()
    }
    b = {
        (r["vec_id"], r["dup_of"])
        for r in semdedup_dropped(corpus, cents, assigner="gemm").collect()
    }
    assert a == b and len(a) > 0


def test_zero_norm_vectors_null_cos_in_both_assigners(spark):
    """The expr path's try_divide yields NULL on a
    zero-norm vector; the gemm kernel must mirror that (NaN would sort
    above every double in the keep-rank and diverge the dropped set)."""
    rows = [(1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0])]
    cents = [(0, [1.0, 0.0, 0.0])]
    for assigner in ("expr", "gemm"):
        got = {
            r["vec_id"]: r["cos_c"]
            for r in assign_clusters(
                _df(spark, rows), cents, assigner=assigner
            ).collect()
        }
        assert got[1] is None, f"{assigner}: zero-norm cos must be NULL"
        assert got[2] == pytest.approx(1.0)


def test_nan_component_stays_nan_in_both_assigners(spark):
    """A NaN embedding COMPONENT must give
    cos_c = NaN under BOTH assigners (expr: try_divide(NaN, NaN) is
    NaN — divisor nonzero; gemm must not coerce NaN to NULL), or the
    keep-rank orders diverge (NaN sorts above every double, NULL rows
    fall out of the pair predicate)."""
    import math

    rows = [(1, [float("nan"), 1.0, 0.0]), (2, [1.0, 0.0, 0.0])]
    cents = [(0, [1.0, 0.0, 0.0])]
    for assigner in ("expr", "gemm"):
        got = {
            r["vec_id"]: (r["cluster"], r["cos_c"])
            for r in assign_clusters(
                _df(spark, rows), cents, assigner=assigner
            ).collect()
        }
        assert got[1][1] is not None and math.isnan(got[1][1]), (
            f"{assigner}: NaN component must stay NaN, got {got[1][1]!r}"
        )
        assert got[2][1] == pytest.approx(1.0)
    # and the two assigners agree on the NaN row's cluster too
    e = assign_clusters(_df(spark, rows), cents, assigner="expr").collect()
    g = assign_clusters(_df(spark, rows), cents, assigner="gemm").collect()
    assert {r["vec_id"]: r["cluster"] for r in e} == {
        r["vec_id"]: r["cluster"] for r in g
    }


def test_unknown_assigner_rejected(spark):
    with pytest.raises(ValueError, match="unknown assigner"):
        assign_clusters(_df(spark, [(1, [1.0, 0.0])]), [(0, [1.0, 0.0])],
                        assigner="nope")


def test_registered_oracle_parity_on_sf0001(spark, sf_dir):
    """Full parity of the registered dedup_semantic_semdedup oracle
    (plans/llm_heavy.py) against the Spark plan at sf0.001 — planted
    copy groups of 2 and 3, canonical (vec_id, dup_of) set equality."""
    import duckdb

    from pythondataingestionprocess_spark.plans import REGISTRY

    spec = REGISTRY["dedup_semantic_semdedup"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    oracle = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    got = {
        (r["vec_id"], r["dup_of"])
        for r in spec.fn(spark, sf_dir).collect()
    }
    assert got == oracle
    # groups of 3 resolve in one pass: both later copies name the base
    # (plants sit at +1e12/+2e12, clear of every real id)
    assert all(b == a % 1000000000000 for a, b in got)
    assert any(a >= 2000000000000 for a, _ in got)


def test_planted_corpus_screen(spark, sf_dir):
    from pythondataingestionprocess_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    corpus = emb.select("vec_id", "embedding").unionAll(
        copies.select("vec_id", "embedding")
    )
    cents = md5_centroids(emb, k=16)
    dropped = semdedup_dropped(corpus, cents).collect()
    n_planted = copies.count()
    # every planted copy is bit-identical to its base -> same cell,
    # cos 1.0 -> dropped, dup_of = the base id (lower id wins the
    # equal-cos_c tie). The noise corpus is near-orthogonal -> no
    # false drops.
    assert {r["vec_id"]: r["dup_of"] for r in dropped} == {
        i + 1000000: i for i in range(0, n_planted * 10, 10)
    }
