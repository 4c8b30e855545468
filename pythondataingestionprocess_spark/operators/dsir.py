"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023, arXiv:2302.03169): pick raw-corpus examples that look
like a small TARGET corpus by importance weighting in a hashed n-gram
feature space, then resampling.

The published pipeline: (1) hash each document's unigrams+bigrams into
m buckets; (2) fit bag-of-ngrams multinomials p (target) and q (raw)
over the buckets, add-one smoothed; (3) per raw document, the
importance log-weight is sum over its n-gram occurrences of
``log p[bucket] - log q[bucket]``; (4) resample k documents with
Gumbel-top-k on the log-weights. This module implements (1)-(3); the
callers select on the weights themselves (a top-k boundary is a
cross-engine knife-edge, so the registered face emits weights only).

Distributed shape:

- **featurize** — map-side only: tokenize, build unigram+bigram
  strings, bucket each through md5 (portable across engines; xxhash64
  has no DuckDB twin). No shuffle.
- **fit** — one bucket-grain aggregate per distribution: m-row
  results (m ~ 1e3-1e4), the legitimate driver-sized state of the
  method (DSIR itself ships these as two m-vectors).
- **weigh** — zero-shuffle scoring: the m log-ratios fold into a
  LITERAL array and each doc reduces its own bucket list through
  ``element_at`` + sum (whole-stage codegen).

Reference parity note: the reference system has no corpus-selection
surface — this module is part of the driver-mandated LLM-training-
pipeline family, built on the published DSIR design.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _bucket(expr: Column, m: int) -> Column:
    return F.conv(F.substring(F.md5(expr), 1, 8), 16, 10).cast("long") % m


def featurize(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 1024,
    bigrams: bool = True,
) -> DataFrame:
    """``(id_col, buckets array<long>)`` — one bucket per n-gram
    OCCURRENCE (multiplicities matter to the multinomial). Lowercased
    whitespace tokens; bigrams joined with a space.

    Tokenization splits on ASCII ``\\s+`` (Java regex default), NOT
    Unicode whitespace — a deliberate oracle-parity constraint: the
    DuckDB oracle replays the same featurization and RE2's ``\\s`` is
    ASCII-only, so both engines must hash NBSP-joined web-text words
    as single n-grams or the driver hash check diverges. This differs
    from ``operators/bpe.py``'s ``(?U)\\s+`` (which follows the BPE
    paper's pre-tokenization and has a pure-Python parity reference
    instead of a SQL oracle). Hashed n-gram importance weights are
    robust to this boundary choice (DSIR §3.1 uses the feature space
    only through bucket counts); unify on Unicode whitespace only if
    the oracle moves off RE2."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    uni = F.transform(toks, lambda t: _bucket(t, m))
    feats = uni
    if bigrams:
        n = F.size(toks)
        bi = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(0), n - F.lit(2)),
                lambda i: _bucket(
                    F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
                    m,
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        feats = F.concat(uni, bi)
    return df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col), feats.alias("buckets"))


def bucket_log_dist(bucketed: DataFrame, m: int, alpha: float = 1.0) -> DataFrame:
    """``(bucket, logp)`` — m rows, add-alpha smoothed multinomial over
    bucket occurrences: ``log((c_b + alpha) / (N + alpha*m))``. Buckets
    with zero occurrences still get a row (the smoothing floor).
    Literally the one-batch composition of the incremental pieces —
    ``bucket_counts`` (mergeable state) → ``log_dist_from_counts``."""
    return log_dist_from_counts(bucket_counts(bucketed), m, alpha)


def bucket_counts(bucketed: DataFrame) -> DataFrame:
    """``(bucket, c)`` — the UN-smoothed occurrence counts, the
    mergeable per-batch state of the method (counts are a commutative
    monoid; smoothing and the log happen once at read time,
    ``log_dist_from_counts``). Same incremental discipline as the
    boilerplate screen's line-frequency state: ship batch states,
    fold, derive the distribution — never re-scan the corpus."""
    return (
        bucketed.select(F.explode("buckets").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def merge_bucket_counts(*states: DataFrame) -> DataFrame:
    """Fold per-batch count states (associative + commutative: union →
    re-sum). The result is bit-identical to ``bucket_counts`` over the
    concatenated batches — counts are exact integers, so unlike float
    folds there is no order sensitivity to document."""
    it = iter(states)
    out = next(it)
    for s in it:
        out = out.unionAll(s)
    return out.groupBy("bucket").agg(F.sum("c").alias("c"))


def log_dist_from_counts(counts: DataFrame, m: int, alpha: float = 1.0) -> DataFrame:
    """``(bucket, logp)`` from a (possibly folded) count state — the
    read-time half of the incremental split; ``bucket_log_dist`` is
    literally featurize → bucket_counts → this."""
    spark = counts.sparkSession
    total = counts.agg(F.sum("c").alias("n"))
    return (
        spark.range(m)
        .select(F.col("id").alias("bucket"))
        .join(F.broadcast(counts), "bucket", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            F.log(
                (F.coalesce("c", F.lit(0)).cast("double") + F.lit(float(alpha)))
                / (F.coalesce("n", F.lit(0)).cast("double") + F.lit(float(alpha * m)))
            ).alias("logp"),
        )
    )


def log_ratio_vector(
    target_dist: DataFrame, raw_dist: DataFrame, m: int
) -> list[float]:
    """The m log-ratios ``log p_target - log q_raw`` as a Python list —
    the method's driver-sized state (two m-vectors in the paper)."""
    rows = (
        target_dist.select("bucket", F.col("logp").alias("lp"))
        .join(raw_dist.select("bucket", F.col("logp").alias("lq")), "bucket")
        .select("bucket", (F.col("lp") - F.col("lq")).alias("r"))
        .collect()
    )
    out = [0.0] * m
    for r in rows:
        out[r["bucket"]] = r["r"]
    return out


def dsir_logweights(
    bucketed: DataFrame, log_ratio: list[float], id_col: str = "doc_id"
) -> DataFrame:
    """``(id_col, n_feats, logw)`` — zero-shuffle scoring: the doc's
    bucket list folds through a literal log-ratio array. Small-m form
    (the literal rides the plan)."""
    arr = F.array(*[F.lit(float(x)) for x in log_ratio])
    return bucketed.select(
        F.col(id_col),
        F.size("buckets").cast("long").alias("n_feats"),
        F.aggregate(
            F.transform(F.col("buckets"), lambda b: F.element_at(arr, (b + 1).cast("int"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("logw"),
    )


def importance_logratio_expected(
    target_counts: dict[int, int],
    raw_counts: dict[int, int],
    m: int,
    alpha: float = 1.0,
) -> list[float]:
    """Pure-Python twin of fit + ratio for tests: same smoothing, same
    log, no Spark."""
    nt = sum(target_counts.values())
    nr = sum(raw_counts.values())
    out = []
    for b in range(m):
        lp = math.log((target_counts.get(b, 0) + alpha) / (nt + alpha * m))
        lq = math.log((raw_counts.get(b, 0) + alpha) / (nr + alpha * m))
        out.append(lp - lq)
    return out
