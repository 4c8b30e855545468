"""Repeated-span exact dedup — remove EVERY later occurrence of any
k-token span that appears more than once in the corpus (Lee et al.,
"Deduplicating Training Data Makes Language Models Better", ACL 2022:
exact substring dedup; they use 50-token spans over a suffix array).

Why next to corpus_block_dedup (plans/corpus_ops.py): block dedup
hashes FIXED-ALIGNED k-token blocks, so a repeated passage that starts
at a different word offset in each document hashes into different
blocks and survives. This operator hashes the span starting at EVERY
token position (stride 1), so unaligned repeats are caught — the
common case for license banners, quoted paragraphs, and templated
intros pasted mid-document.

Distributed shape (no suffix array — that is a single-machine
construction; the sliding-hash form is the shuffle-friendly
equivalent):

1. one pass turns each doc into (pos, k-gram hash) rows — the k-fold
   token blowup is bounded by ``k * corpus_tokens`` and happens
   map-side from the doc's own token array (F.transform over a
   sequence, no join);
2. one (gram-hash)-grain shuffle ranks occurrences by (doc_id, pos)
   — rank 1 is the kept occurrence, everything else is a removal
   START;
3. only the removal starts (the duplicated tail, tiny vs the corpus)
   are exploded into their k covered positions; a distinct + one
   doc-grain anti-join drops covered tokens and reassembles the
   survivors in order.

Single-pass approximation vs the suffix-array original: removals are
decided against the ORIGINAL corpus, so a span whose kept-first copy
itself sits inside text removed for a different span is still honored
as "kept" (no cascade re-resolution). Lee et al. §3.2 accept the same
relaxation for their parallel variant. NOT strictly idempotent:
removal can make previously-separated tokens adjacent, and if that
new adjacency happens to duplicate another k-span, a second pass
removes it too (tests pin both behaviors — no re-removal when no new
adjacency forms, and the cascade case converging on a later pass).
A caller that needs exact suffix-array semantics reruns it to a
fixpoint; each pass only shrinks the corpus, so that loop terminates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def repeated_span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """``(id_col, n_tokens, n_removed, text_col)`` per input doc:
    every k-token span occurring >1 time corpus-wide keeps only its
    first occurrence (order: doc id, then position); covered tokens of
    later occurrences are dropped and the survivors rejoin in order.
    Whitespace tokenization; docs with < k tokens pass through
    untouched (they contain no k-span)."""
    toks = docs.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("ws"),
    ).filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))

    # (doc, pos, gram hash) for every start position; map-side only
    starts = F.when(
        F.size("ws") >= k,
        F.sequence(F.lit(0), F.size("ws") - F.lit(k)),
    ).otherwise(F.array().cast("array<int>"))  # < k tokens: no k-span
    grams = toks.select(
        id_col,
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.md5(F.concat_ws(" ", F.slice("ws", s + 1, k))),
            )
        ).alias("pos", "g"),
    )

    occ = W.partitionBy("g").orderBy(id_col, "pos")
    marked = (
        grams.withColumn("rn", F.row_number().over(occ))
        .withColumn("n_occ", F.count(F.lit(1)).over(W.partitionBy("g")))
        .filter((F.col("n_occ") > 1) & (F.col("rn") > 1))
        .select(id_col, "pos")
    )
    # removal starts -> covered token positions (k-fold blowup of the
    # DUPLICATED TAIL only), dedup'd across overlapping spans
    covered = marked.select(
        id_col,
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
        ).alias("pos"),
    ).distinct()

    token_rows = toks.select(
        id_col, F.posexplode("ws").alias("pos", "tok")
    )
    kept = token_rows.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = toks.select(id_col, F.size("ws").alias("n_tokens"))
    return (
        docs.select(id_col)
        .join(totals, [id_col], "left")
        .join(rebuilt, [id_col], "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            (
                F.coalesce("n_tokens", F.lit(0))
                - F.coalesce("_n_kept", F.lit(0))
            ).alias("n_removed"),
            F.coalesce("_text", F.lit("")).alias(text_col),
        )
    )
