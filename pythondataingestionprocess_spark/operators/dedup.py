"""Deduplication operators for document corpora (BASELINE.json north
star; engine-added beyond the reference, whose only dedup is the
exact-tuple anti-join at database_utils.py:128-145 — reproduced by
the ingest pipeline's anti-join).

Scale design:

- **exact / fingerprint**: hash-groupBy on a digest key — one shuffle
  of (digest, id), never the payload. At 100 TB group by md5 of the
  normalized text, not by the text itself.
- **MinHash-LSH**: the O(n²) pair space is cut to per-band hash
  buckets: signature (k hashes) → b bands of r rows → candidates are
  pairs sharing ≥1 band bucket → exact-Jaccard verify on candidates
  only. Shuffles are on (band, band_hash) — bounded by bucket sizes,
  not corpus size. b=16,r=4 keeps the false-candidate rate ~1e-3 at
  background similarity 0.1 while recall at j≥0.8 is ~99.98%.
- **SimHash**: 64-bit signature; near-dups share a 16-bit chunk
  (pigeonhole for hamming ≤ 3 per 4 chunks) → bucket join, then exact
  hamming filter via bit_count(xor).

All pure column expressions + joins; no Python in the hot path
(except one Arrow-vectorized matmul for hyperplane buckets).

Algorithms are the published classics: MinHash resemblance sketching
(Broder, "On the resemblance and containment of documents", 1997),
LSH banding (Indyk & Motwani 1998; Gionis, Indyk & Motwani, VLDB
1999), SimHash random-projection fingerprints (Charikar, STOC 2002)
as deployed for web-scale near-dup at Google (Manku, Jain & Das
Sarma, WWW 2007).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.functions.text import (
    doc_fingerprint,
    shingles_of_tokens,
    tokens,
)
from pythondataingestionprocess_spark.operators.parallel import rebalance_scan

_MERSENNE_31 = (1 << 31) - 1
_RANGE_31 = 1 << 31


def minhash_params(num_hashes: int = 64, seed: int = 42) -> list[tuple[int, int]]:
    """Fixed affine-hash family (a, b) pairs — deterministic across
    runs and engines."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_hashes)
    ]


# In-bucket all-pairs expansion over a sorted `ids` array (id_a < id_b).
# Kept as SQL text; F.expr() requires an active session, so it is built
# lazily inside bucket_candidate_pairs.
_PAIR_SQL = (
    "flatten(transform(sequence(1, size(ids) - 1), "
    "i -> transform(slice(ids, i + 1, size(ids) - i), "
    "j -> struct(ids[i - 1] AS id_a, j AS id_b))))"
)


def bucket_candidate_pairs(
    banded: DataFrame, id_col: str, bucket_keys: tuple[str, ...], cap: int
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from LSH bucket membership rows,
    with per-bucket expansion bounded by ``cap`` (an uncapped
    ``collect_list`` is a 100 TB scale-killer: a degenerate
    hyper-common bucket, e.g. an empty-text or boilerplate cluster,
    would materialize one gigarow).

    - size ≤ cap: in-bucket all-pairs via sorted ``collect_list`` —
      max row width is ``cap`` ids, quadratic only within the bucket.
    - size > cap: the full id list is NEVER materialized. The bucket
      star-expands to (bucket-min anchor, id) rows — linear candidate
      count, constant row width. For identical-content mega-clusters
      (the realistic cause: 10k copies of one page) every member
      verifies against the anchor at sim 1.0, so dedup connectivity is
      preserved exactly; for a borderline near-dup cluster that
      somehow exceeds ``cap``, cross-pairs beyond the anchor are a
      documented recall trade (same move as Manku et al.'s
      over-represented-table drop, WWW 2007).

    Bucket size and anchor come from window aggregates over the bucket
    key — ONE exchange of the membership rows (a sizes-agg + join-back
    would shuffle them twice), and the groupBy that follows reuses the
    window's partitioning; the two output branches share the exchange
    via ReusedExchange.
    """
    from pyspark.sql import Window as W

    keys = list(bucket_keys)
    w = W.partitionBy(*keys)
    tagged = banded.withColumn("_bsz", F.count(F.lit(1)).over(w)).withColumn(
        "_anchor", F.min(id_col).over(w)
    )
    small_pairs = (
        tagged.filter((F.col("_bsz") > 1) & (F.col("_bsz") <= cap))
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .select(F.explode(F.expr(_PAIR_SQL)).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
    )
    big_pairs = tagged.filter(
        (F.col("_bsz") > cap) & (F.col(id_col) != F.col("_anchor"))
    ).select(F.col("_anchor").alias("id_a"), F.col(id_col).alias("id_b"))
    return small_pairs.unionByName(big_pairs).distinct()


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs — the exploded form used by both
    exact-Jaccard and the LSH verify step. Tokenizes once per row
    (bound column) before gram expansion. The gram explode is
    CPU-dense — guarded against single-split scans
    (operators/parallel.py)."""
    return (
        rebalance_scan(df.select(id_col, text_col), id_col)
        .select(F.col(id_col), tokens(text_col).alias("_w"))
        .select(F.col(id_col), F.explode(shingles_of_tokens("_w", n)).alias("shingle"))
        .distinct()
    )


def _pair_overlap_counts(sh: DataFrame, id_col: str) -> DataFrame:
    """Shared skeleton of the exact pair screens: shared-shingle
    self-join → (id_a < id_b, n_common, size_a, size_b). Cost is
    bounded by shingle-bucket sizes (fine when no shingle is
    hyper-common; at 100 TB cap bucket size by dropping top-frequency
    shingles first, or feed LSH/prefix candidates instead). Each
    caller applies its own similarity metric on the counts."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    joined = a.join(b, ["shingle"]).filter(F.col("id_a") < F.col("id_b"))
    inter = joined.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common"))
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return inter.join(sz_a, "id_a").join(sz_b, "id_b")


def jaccard_pairs(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold.

    ``sh`` is the shingle_sets output. Exact O(shared-shingle)
    self-join — see :func:`_pair_overlap_counts` for the scale notes.
    """
    return (
        _pair_overlap_counts(sh, id_col)
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Pairs (id_a < id_b) with n-gram CONTAINMENT ≥ threshold, where
    containment = |A∩B| / min(|A|, |B|) — the asymmetric near-SUPERSET
    detector a Jaccard screen misses: a short doc pasted whole into a
    much longer one scores ~1.0 here while its Jaccard shrinks with
    the size gap (inter/union). Training-data pipelines need both
    screens — quote-expansion and boilerplate-wrapping duplicates are
    containment-shaped, not Jaccard-shaped.

    Same blocking/join skeleton as :func:`jaccard_pairs` (shared via
    :func:`_pair_overlap_counts`), so the same 100 TB notes apply:
    bound hot-shingle buckets or feed LSH candidates instead of the
    raw self-join."""
    return (
        _pair_overlap_counts(sh, id_col)
        .withColumn(
            "containment",
            F.col("n_common")
            / F.least(F.col("size_a"), F.col("size_b")).cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_cap: int = 1000,
    banded: DataFrame | None = None,
    doc_sh: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH banding + exact-Jaccard verify.

    Output equals the exact jaccard_pairs result whenever LSH recall
    covers the threshold (P[miss] ≈ (1-t^r)^b per pair; ~2e-4 even at
    t=0.8 with b=16, r=4) — verified against the exact oracle in t2.

    ``bucket_cap`` bounds per-bucket pair expansion (see
    bucket_candidate_pairs); buckets beyond it star-expand against the
    bucket's min id instead of materializing the id list.

    ``banded`` / ``doc_sh`` optionally supply the precomputed
    `_signatures_banded` / `shingle_array_table` frames for ``df``
    (MUST be built with the same shingle/hash parameters): the
    streaming screen computes them once per micro-batch and reuses
    them across within-screen, cross-store probe, and store append —
    the tokenize+shingle+minhash stage is the batch's dominant CPU
    cost and must run once per batch, not once per use.
    """
    # Signature via explode → 64 min-aggregates: one shuffle on id with
    # map-side partial mins, fully codegen'd. (An array-expression form
    # builds a 64-way nested transform that blows past the codegen
    # expression budget and re-hashes every shingle per hash function.)
    # No distinct() needed: min over the shingle multiset equals
    # min over the set — saves a full-corpus dedup shuffle.
    if banded is None:
        banded = _signatures_banded(
            df, id_col, text_col,
            shingle_n=shingle_n, num_hashes=num_hashes, bands=bands,
            seed=seed,
        )
    # Pair generation via bucket groupBy (NOT a self-join, which would
    # run the whole signature pipeline once per join side): one shuffle
    # on (band, band_hash), then in-bucket pair expansion — quadratic
    # only within a bucket, which LSH keeps small by construction and
    # bucket_cap bounds when it doesn't.
    candidates = bucket_candidate_pairs(
        banded, id_col, ("band", "band_hash"), bucket_cap
    )
    # Exact-verify candidates by attaching each side's distinct shingle
    # ARRAY and intersecting in-expression — candidates is orders of
    # magnitude smaller than the corpus, so two joins (AQE turns them
    # into broadcasts once the candidate size is known) beat a second
    # corpus-wide explode + shuffle-dedup + self-join cascade.
    if doc_sh is None:
        doc_sh = shingle_array_table(df, id_col, text_col, shingle_n)
    return verify_jaccard_pairs(
        candidates,
        doc_sh.withColumnRenamed(id_col, "id_a"),
        doc_sh.withColumnRenamed(id_col, "id_b"),
        "id_a",
        "id_b",
        threshold,
    )


def _signatures_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(id, band, band_hash) LSH bucket-membership rows — the shared
    signature stage of the self-join and incremental paths (explode →
    per-hash min aggregates → band hashes, one shuffle on id)."""
    # CPU-dense stage (shingle explode + 64 hashes/row): don't inherit
    # a single-split scan's task count — see operators/parallel.py.
    # Keyed on id, the shuffle replaces (not adds to) the groupBy(id)
    # exchange below.
    df = rebalance_scan(df.select(id_col, text_col), id_col)
    raw_sh = df.select(
        F.col(id_col), tokens(text_col).alias("_w")
    ).select(
        F.col(id_col), F.explode(shingles_of_tokens("_w", shingle_n)).alias("shingle")
    )
    return _banded_from_shingle_rows(
        raw_sh, id_col, num_hashes=num_hashes, bands=bands, seed=seed
    )


def banded_from_shingle_arrays(
    sh_df: DataFrame,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(id, band, band_hash) bucket membership derived from an EXISTING
    shingle-array table (shingle_array_table output) instead of raw
    text — min over the DISTINCT shingle set equals min over the
    multiset, so the result is row-identical to _signatures_banded
    while skipping a second tokenize+shingle pass (callers that need
    both frames build the array table once — typically persisted — and
    derive the buckets from it)."""
    rows = sh_df.select(
        F.col(id_col), F.explode("sh").alias("shingle")
    )
    return _banded_from_shingle_rows(
        rows, id_col, num_hashes=num_hashes, bands=bands, seed=seed
    )


def _banded_from_shingle_rows(
    raw_sh: DataFrame,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """Shared signature aggregation: (id, shingle) rows → 64 per-hash
    min aggregates → per-band hashes → posexplode to bucket rows."""
    rows_per_band = num_hashes // bands
    raw_sh = raw_sh.select(
        F.col(id_col),
        F.pmod(F.xxhash64("shingle"), F.lit(_RANGE_31)).alias("hx"),
    )
    params = minhash_params(num_hashes, seed)
    # Expression trees built as SQL text, not Column-by-Column: the
    # 64-agg + 16-band tree costs ~1.2 s of DRIVER time per query via
    # py4j Column construction vs ~0.1 s through the JVM SQL parser,
    # with an identical analyzed plan either way. Driver-side
    # build cost is constant in data size, so this matters for bench
    # latency, not the 100 TB story.
    sig_tbl = raw_sh.groupBy(id_col).agg(
        *[
            F.expr(
                f"min(pmod(hx * {a}L + {b}L, {_MERSENNE_31}L)) AS mh_{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
    )
    band_hashes = F.expr(
        "array(" + ", ".join(
            "xxhash64(concat_ws('_', '{j}', {parts}))".format(
                j=j,
                parts=", ".join(
                    f"cast(mh_{j * rows_per_band + i} as string)"
                    for i in range(rows_per_band)
                ),
            )
            for j in range(bands)
        ) + ")"
    )
    return sig_tbl.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "band_hash")
    )


def shingle_array_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, sh) with sh = the doc's DISTINCT shingle array — the
    compact verify-side representation (used to exact-Jaccard candidate
    pairs without re-reading text). At 100 TB this is the table a
    persistent dedup store keeps alongside the band buckets.
    Single-split-scan guarded like shingle_sets (the join it feeds
    shuffles on id anyway, so the keyed rebalance adds nothing)."""
    return rebalance_scan(df.select(id_col, text_col), id_col).select(
        F.col(id_col), tokens(text_col).alias("_w")
    ).select(
        F.col(id_col),
        F.array_distinct(shingles_of_tokens("_w", n)).alias("sh"),
    )


def verify_jaccard_pairs(
    candidates: DataFrame,
    sh_left: DataFrame,
    sh_right: DataFrame,
    left_id: str,
    right_id: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate id pairs against two
    shingle-array tables (columns (left_id, sh) / (right_id, sh));
    returns (left_id, right_id, jaccard ≥ threshold)."""
    pa = candidates.join(
        sh_left.select(F.col(left_id), F.col("sh").alias("_sh_l")), left_id
    )
    pb = pa.join(
        sh_right.select(F.col(right_id), F.col("sh").alias("_sh_r")), right_id
    )
    n_common = F.size(F.array_intersect("_sh_l", "_sh_r"))
    n_union = (F.size("_sh_l") + F.size("_sh_r") - n_common).cast("double")
    return (
        pb.withColumn("jaccard", n_common / n_union)
        .filter(F.col("jaccard") >= threshold)
        .select(left_id, right_id, "jaccard")
    )


def _cross_bucket_candidates(
    corpus_banded: DataFrame,
    new_banded: DataFrame,
    new_ids: DataFrame,
    id_col: str,
    bucket_keys: tuple[str, ...],
    cap: int,
) -> DataFrame:
    """(new_id, corpus_id) candidates of a new batch against an
    existing corpus, from the two sides' bucket-membership rows — the
    one per-bucket cap rule of every new-against-corpus probe (both
    incremental operators, and through them both streaming screens).

    1. The new side is read once: grouped to one row per bucket with
       its member ids, broadcast (at most batch × tables rows), and
       inner-joined to the corpus rows. The join both prunes the
       corpus to the probed buckets, so only those reach the ranking
       window, and carries each bucket's new ids to the pairs. Within
       a probed bucket the matched rows are its whole membership, so
       pruning first changes no kept id. Each ranked row carries its
       bucket's new-id array; for caps up to
       ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000) Spark
       plans a partial ``WindowGroupLimit`` that keeps at most ``cap``
       rows per bucket and map task before the window's shuffle.
    2. The new side's own ids (``new_ids``, one ``id_col`` column —
       read from the new rows, not their buckets, so the signature
       stage is not run again for them) are anti-joined out of the
       corpus side, broadcast: a corpus copy of a new id (a replayed
       stream batch whose store commit landed) is never a candidate
       and takes no cap place.
    3. The first ``cap`` distinct ids per bucket, ranked by id, are
       kept (``dense_rank``, so an id appended twice shares one
       place): a degenerate mega-bucket contributes at most ``cap``
       candidates per new doc, and its kept min-id members preserve
       dup connectivity (the anchor rule of bucket_candidate_pairs)."""
    from pyspark.sql import Window as W

    keys = list(bucket_keys)
    new = new_banded.groupBy(*keys).agg(F.collect_set(id_col).alias("_new_ids"))
    capped = (
        corpus_banded.select(id_col, *keys)
        .join(F.broadcast(new_ids.select(id_col)), id_col, "left_anti")
        .join(F.broadcast(new), keys)
        .withColumn(
            "_rn",
            F.dense_rank().over(W.partitionBy(*keys).orderBy(F.col(id_col))),
        )
        .filter(F.col("_rn") <= cap)
    )
    return (
        capped.select(
            F.explode("_new_ids").alias("new_id"), F.col(id_col).alias("corpus_id")
        )
        .filter(F.col("new_id") != F.col("corpus_id"))
        .distinct()
    )


def _candidate_payload(
    payload: DataFrame, candidates: DataFrame
) -> DataFrame:
    """The corpus payload (shingle arrays or vectors, keyed
    ``corpus_id``) semi-pruned to the candidate ids before the verify
    join: only ids move, and the verify join then shuffles the matched
    payloads alone — bounded by the batch, not the corpus, once the
    candidate side outgrows the broadcast threshold. The semi-join
    takes ``candidates`` whole, so its plan is the verify side's and
    the candidate stages run once (exchange reuse)."""
    return payload.join(candidates, "corpus_id", "left_semi")


def minhash_lsh_pairs_incremental(
    corpus: DataFrame | None,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_cap: int = 1000,
    corpus_banded: DataFrame | None = None,
    corpus_sh: DataFrame | None = None,
    new_banded: DataFrame | None = None,
    new_sh: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an existing corpus —
    the daily-ingest shape: dedup today's crawl against the full
    history without touching corpus×corpus pairs. Candidates come from
    a (band, band_hash) equi-join of the new batch's bucket membership
    against the corpus's (see :func:`_cross_bucket_candidates`: the
    corpus side is pruned to the new side's buckets, loses the new
    side's own ids, and keeps at most ``bucket_cap`` min-id members
    per bucket); the corpus shingle arrays are pruned to the candidate
    ids, then the candidates are exact-Jaccard verified.

    Output: (new_id, corpus_id, jaccard) with jaccard ≥ threshold and
    new_id != corpus_id. A corpus row whose id also appears in
    ``new_docs`` is never a candidate.

    The precomputed-frame inputs (each MUST be built with the same
    shingle/hash parameters) skip the per-side signature stage:
    ``corpus_banded`` / ``corpus_sh`` are the corpus side's
    `_signatures_banded` / `shingle_array_table` frames — at scale a
    precomputed index, built once and shared by every batch screened
    against it — and ``new_banded`` / ``new_sh`` the new side's, which
    the streaming screen computes once per micro-batch for its
    within-batch screen and store append too. ``corpus`` may be None
    when both corpus frames are given. Signatures are per-document, so
    the precomputed frames equal the inline ones row for row."""
    kw = dict(shingle_n=shingle_n, num_hashes=num_hashes, bands=bands, seed=seed)
    if corpus_banded is None:
        corpus_banded = _signatures_banded(corpus, id_col, text_col, **kw)
    if corpus_sh is None:
        corpus_sh = shingle_array_table(corpus, id_col, text_col, shingle_n)
    if new_banded is None:
        new_banded = _signatures_banded(new_docs, id_col, text_col, **kw)
    if new_sh is None:
        new_sh = shingle_array_table(new_docs, id_col, text_col, shingle_n)
    candidates = _cross_bucket_candidates(
        corpus_banded, new_banded, new_docs, id_col, ("band", "band_hash"),
        bucket_cap,
    )
    return verify_jaccard_pairs(
        candidates,
        new_sh.withColumnRenamed(id_col, "new_id"),
        _candidate_payload(
            corpus_sh.withColumnRenamed(id_col, "corpus_id"), candidates
        ),
        "new_id",
        "corpus_id",
        threshold,
    )


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, hi, lo) 64-bit SimHash per document as TWO 32-bit halves,
    via explode → 64 conditional-sum votes → bit assembly (one shuffle
    with map-side partial sums, all codegen — the corpus shape).

    The bit basis is the first/second 32 bits of md5(token) — a
    PORTABLE basis (xxhash64 has no DuckDB twin), and the two-halves
    representation keeps every value positive in a signed BIGINT so the
    oracle's bit arithmetic never fights sign extension: hamming =
    bit_count(lo⊕lo') + bit_count(hi⊕hi') on both engines. Docs with
    no tokens are dropped (the corpus guarantees non-empty text)."""
    m = F.md5("tok")
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).select(
        F.col(id_col),
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("th_hi"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("th_lo"),
    )
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("th_lo"), i).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"vl_{i}")
            for i in range(32)
        ],
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("th_hi"), i).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"vh_{i}")
            for i in range(32)
        ],
    )
    lo = sum(
        (
            F.when(F.col(f"vl_{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(32)
        ),
        start=F.lit(0).cast("long"),
    )
    hi = sum(
        (
            F.when(F.col(f"vh_{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(32)
        ),
        start=F.lit(0).cast("long"),
    )
    return votes.select(F.col(id_col), hi.alias("hi"), lo.alias("lo"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 12
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, bucketed on 16-bit
    chunks (any pair with hamming ≤ 3·(chunks-1) shares ≥1 chunk by
    pigeonhole; wider hamming budgets trade recall for bucket size).
    """
    sims = simhash_table(df, id_col, text_col)
    chunked = sims.select(
        id_col,
        "hi",
        "lo",
        F.posexplode(
            F.array(
                F.col("lo").bitwiseAND(F.lit(0xFFFF)),
                F.shiftright(F.col("lo"), 16).bitwiseAND(F.lit(0xFFFF)),
                F.col("hi").bitwiseAND(F.lit(0xFFFF)),
                F.shiftright(F.col("hi"), 16).bitwiseAND(F.lit(0xFFFF)),
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunked.select(
        F.col(id_col).alias("id_a"),
        F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"),
        "chunk_idx",
        "chunk",
    )
    b = chunked.select(
        F.col(id_col).alias("id_b"),
        F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"),
        "chunk_idx",
        "chunk",
    )
    hamming = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("long")
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hi_a", "lo_a", "hi_b", "lo_b")
        .distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def auto_lsh_bits(n: int, floor: int = 12, ceil: int = 30) -> int:
    """The bits~log2(corpus) rule as a function: ceil(log2(n)) + 9,
    clamped. Calibrated on the sf ladder (22k vectors → 24 bits = the
    measured sf1 sweet spot; 2k → 20; 220k → 27); the ceiling is 30
    because bucket ids ride ``array<int>`` (int32). Exact-duplicate
    recall is bit-width-independent (identical vectors share every
    bucket), so deeper tables only shed sub-threshold candidates."""
    import math

    return max(floor, min(ceil, math.ceil(math.log2(max(n, 2))) + 9))


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    dim: int = 64,
    bits_per_table: int | None = 12,
    n_tables: int = 8,
    seed: int = 7,
    bucket_cap: int = 1000,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: hyperplane-LSH candidate
    buckets (vectorized matmul) → exact-cosine verify. ``banded``
    optionally supplies precomputed ``hyperplane_bucket_rows`` for
    ``df`` (same dim/bits/tables/seed) — the matmul is the vector
    path's dominant cost and the streaming screen reuses one pass
    across within-screen, cross probe, and store append.

    Same bucket-groupBy shape as MinHash banding — quadratic only
    within buckets, one corpus pass for signatures. Recall: a pair at
    cos ≥ t survives with P[miss] = (1-(1-θ/π)^r)^T; at the dup end
    (cos→1) recall →1 deterministically (identical vectors share every
    bucket), which is what near-DUP detection needs.

    Unlike top-k ANN (shallow buckets, high recall at moderate cos),
    near-dup wants DEEP buckets: at cos ≥ 0.99, 12 bits × 8 tables
    gives per-pair miss ~1e-3 while keeping buckets near singleton —
    candidate volume scales ~n·n/2^bits, so shallow buckets explode
    quadratically on large corpora.

    Scale rule for ``bits_per_table``: grow it
    ~log2(corpus). Candidate volume is Σ bucket² — on a corpus with
    CLUSTER structure (sub-threshold near-neighbors), per-pair bucket
    collision is (1-θ/π)^bits for cluster angle θ, so each extra bit
    multiplies candidates by that base while EXACT-duplicate recall
    stays 1 at any width (identical vectors share every bucket) and
    the borderline-pair miss rises only inside (threshold, 1).
    Measured on the sf1 cert corpus (20k+2k vectors): 12 bits =
    ~20M verified candidates / 44 s wall; 24 bits = 9 s, identical
    output (the 2 000 planted exact-copy pairs).

    ``bits_per_table=None`` applies :func:`auto_lsh_bits` from one
    corpus count — the self-tuning form for ONE-SHOT batch dedup,
    where the scheme lives only for the job. The sizing count is one
    extra column-pruned scan of ``df``'s lineage; when
    the caller already knows the corpus size (table stats, snapshot
    manifests' n_rows), pass explicit bits and skip it. Persistent/incremental
    consumers (:func:`cosine_near_dup_pairs_incremental`, the
    streaming vector store) must keep EXPLICIT bits: an index's
    bucket scheme is part of its on-disk contract, and auto-resizing
    it on corpus growth would silently desynchronize store and probe
    (store and probe must share one bucket construction).
    """
    from pythondataingestionprocess_spark.functions.vectors import cosine
    from pythondataingestionprocess_spark.operators.similarity import (
        hyperplane_bucket_rows,
    )

    if bits_per_table is None:
        if banded is not None:
            raise ValueError(
                "bits_per_table=None (auto) cannot be combined with a "
                "precomputed `banded` — the caller already fixed the "
                "scheme that produced those bucket rows"
            )
        bits_per_table = auto_lsh_bits(df.count())
    if banded is None:
        banded = hyperplane_bucket_rows(
            df, id_col, vec_col,
            dim=dim, bits_per_table=bits_per_table, n_tables=n_tables,
            seed=seed,
        )
    candidates = bucket_candidate_pairs(banded, id_col, ("table", "bucket"), bucket_cap)
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", cosine("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def cosine_near_dup_pairs_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    dim: int = 64,
    bits_per_table: int = 12,
    n_tables: int = 8,
    seed: int = 7,
    bucket_cap: int = 1000,
    corpus_banded: DataFrame | None = None,
    new_banded: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup pairs between a NEW batch and the corpus —
    the daily-ingest twin of :func:`cosine_near_dup_pairs`, same shape
    as :func:`minhash_lsh_pairs_incremental`: corpus×corpus pairs are
    never regenerated; candidates come from a (table, bucket)
    equi-join of the new batch's hyperplane buckets against the
    corpus's under the shared :func:`_cross_bucket_candidates` rule
    (corpus pruned to the new side's buckets, the new side's own ids
    excluded, at most ``bucket_cap`` min-id members per bucket); the
    corpus vectors are pruned to the candidate ids, then the
    candidates are exact-cosine verified. The marginal cost per batch
    is one matmul over the batch plus batch-sized joins, independent
    of corpus growth.

    Output: (new_id, corpus_id, cos) with cos ≥ threshold and
    new_id != corpus_id; a corpus row whose id also appears in
    ``new_docs`` is never a candidate.

    ``corpus_banded`` / ``new_banded`` optionally supply either side's
    precomputed ``hyperplane_bucket_rows`` (MUST use the same
    dim/bits/tables/seed): at scale the corpus bucket table is built
    once at index time, and the streaming screen reuses the batch's
    one matmul across its within-batch screen and store append.
    ``corpus`` is then read only for its (id, vector) columns.
    """
    from pythondataingestionprocess_spark.functions.vectors import cosine
    from pythondataingestionprocess_spark.operators.similarity import (
        hyperplane_bucket_rows,
    )

    def banded(df: DataFrame) -> DataFrame:
        return hyperplane_bucket_rows(
            df, id_col, vec_col,
            dim=dim, bits_per_table=bits_per_table, n_tables=n_tables,
            seed=seed,
        )

    candidates = _cross_bucket_candidates(
        banded(corpus) if corpus_banded is None else corpus_banded,
        banded(new_docs) if new_banded is None else new_banded,
        new_docs, id_col, ("table", "bucket"), bucket_cap,
    )
    va = new_docs.select(F.col(id_col).alias("new_id"), F.col(vec_col).alias("va"))
    vb = _candidate_payload(
        corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("vb")),
        candidates,
    )
    return (
        candidates.join(va, "new_id")
        .join(vb, "corpus_id")
        .withColumn("cos", cosine("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("new_id", "corpus_id", "cos")
    )


def fingerprint_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the normalized-text md5 fingerprint."""
    return (
        df.select(F.col(id_col), doc_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def carve_blocks(
    df: DataFrame, id_col: str, text_col: str, block: int = 10
) -> DataFrame:
    """Cut docs into fixed ``block``-word blocks: (id, block_idx,
    block_text), empty docs dropped. The ONE carve both the batch
    retention operator and the streaming screen build on — a change
    to tokenization or the tail-block rule lands in both or neither.
    """
    words = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(id_col, F.split(F.trim(F.col(text_col)), r"\s+").alias("ws"))
    nb = F.ceil(F.size("ws") / F.lit(float(block))).cast("long")
    return (
        words.withColumn("block_idx", F.explode(F.sequence(F.lit(0), nb - 1)))
        .withColumn(
            "block_text",
            F.concat_ws(" ", F.slice(F.col("ws"), F.col("block_idx") * block + 1, block)),
        )
        .select(id_col, "block_idx", "block_text")
    )


def block_dedup_retention(
    df: DataFrame, id_col: str, text_col: str, block: int = 10
) -> DataFrame:
    """C4-style span-granular exact dedup (Raffel et al., JMLR 2020,
    §2.2 — C4 drops any repeated three-sentence span corpus-wide,
    keeping one occurrence): cut each doc into fixed ``block``-word
    blocks; a block survives iff it is the corpus-wide FIRST
    occurrence of its text under the (id, block_idx) total order.
    Returns per-doc retention: ``(id, n_blocks, n_kept, kept_chars)``.

    Scale: two shuffles — one keyed by block text (the dedup key; at
    100 TB swap in its 128-bit hash for a fixed-width key, same plan),
    one partial-aggregated back to doc grain. Window groups are sized
    by duplicate multiplicity, never corpus size; there is no join and
    no unbounded per-group state.
    """
    from pyspark.sql import Window as W

    blocks = carve_blocks(df, id_col, text_col, block)
    w = W.partitionBy("block_text").orderBy(id_col, "block_idx")
    ranked = blocks.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("rn") == 1, F.length("block_text")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )
