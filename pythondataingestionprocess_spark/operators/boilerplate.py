"""Line-frequency boilerplate removal — the CCNet/C4-style curation
pass that strips per-source headers, footers, nav bars, and cookie
banners BEFORE dedup and quality scoring (Wenzek et al., "CCNet",
LREC 2020 §3; Raffel et al. 2020 §2.2 drop boilerplate lines by
pattern — the frequency form generalizes it per source).

Why it must run per SOURCE: "Subscribe to our newsletter" is
boilerplate on the site that stamps it onto every page and content on
a page quoting it once. The signal is the line's DOCUMENT FREQUENCY
within its source: a line present in ≥ ``frac_threshold`` of a
source's docs (and ≥ ``min_docs`` absolutely, so two-doc sources
don't strip their shared first line by accident) is boilerplate
there.

Scale shape: two shuffles — one at (source, line-hash) grain to count
document frequency (map-side combinable; the distinct is per doc so a
line repeated inside one doc counts once), one back at doc grain to
reassemble the surviving lines in their original order. The
boilerplate line set is tiny (frequent lines per source), so the
screen join broadcasts; document text never rides a join — only
(doc_id, pos, line-hash) triples do, and the reassembly carries each
line's text exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def line_frequency_state(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Mergeable screen state from one batch: per-(source, line-hash)
    document frequency ``(source_col, line_key, line_df)`` plus the
    per-source doc count rows ``(source_col, line_key=NULL, line_df)``
    in the same frame — one table to store, one semilattice merge.
    Empty/whitespace lines are never evidence (matching
    strip_boilerplate); a line repeated inside one doc counts once."""
    lines = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    ).filter(F.trim(F.col("line")) != "")
    line_rows = lines.groupBy(
        F.col(source_col).alias("source"),
        F.md5(F.trim(F.col("line"))).alias("line_key"),
    ).agg(F.count_distinct(F.col(id_col)).alias("line_df"))
    doc_rows = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("line_df")
    ).select(
        "source",
        F.lit(None).cast("string").alias("line_key"),
        "line_df",
    )
    return line_rows.unionByName(doc_rows)


def boilerplate_lines_from_state(
    state: DataFrame,
    frac_threshold: float = 0.5,
    min_docs: int = 3,
) -> DataFrame:
    """The (source, line_key) boilerplate set the folded state implies
    — identical to what strip_boilerplate derives from a full corpus
    pass (pinned by tests). Tiny output (frequent lines per source):
    broadcastable into the anti-join screen."""
    n_docs = state.filter(F.col("line_key").isNull()).select(
        "source", F.col("line_df").alias("_n_docs")
    )
    return (
        state.filter(F.col("line_key").isNotNull())
        .join(n_docs, "source")
        .filter(
            (F.col("line_df") >= F.lit(min_docs))
            & (F.col("line_df") >= F.col("_n_docs") * F.lit(frac_threshold))
        )
        .select("source", "line_key")
    )


def strip_with_lines(
    docs: DataFrame,
    boilerplate: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Screen ``docs`` against a precomputed (source, line_key)
    boilerplate set — the apply side of the incremental face: the
    stored corpus-wide state decides, the batch only pays its own
    line-split + one broadcast anti-join + doc-grain reassembly."""
    lines = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("line_key", F.md5(F.trim(F.col("line"))))
    bl = boilerplate
    if "source" in bl.columns and source_col != "source":
        bl = bl.withColumnRenamed("source", source_col)
    kept = lines.join(
        F.broadcast(bl), [source_col, "line_key"], "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines_in"))
    return (
        docs.select(id_col, source_col)
        .join(rebuilt, [id_col], "left")
        .join(totals, [id_col], "left")
        .select(
            id_col,
            source_col,
            F.coalesce("_text", F.lit("")).alias(text_col),
            F.coalesce("n_lines_in", F.lit(0)).alias("n_lines_in"),
            (
                F.coalesce("n_lines_in", F.lit(0))
                - F.coalesce("_n_kept", F.lit(0))
            ).alias("n_lines_removed"),
        )
    )


def strip_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    frac_threshold: float = 0.5,
    min_docs: int = 3,
) -> DataFrame:
    """``(id_col, source_col, text_col, n_lines_in, n_lines_removed)``
    with boilerplate lines stripped and surviving lines rejoined in
    their original order. Empty/whitespace lines are never counted as
    boilerplate evidence (every doc has them, they would saturate any
    frequency threshold) and pass through as layout; a doc whose every
    CONTENT line was boilerplate keeps only that whitespace skeleton.

    Composed from the incremental-face pieces (one-batch state →
    threshold → screen), so the batch-fold path is definitionally the
    same screen; the fold identity across batches is what the tests
    pin."""
    state = line_frequency_state(docs, id_col, text_col, source_col)
    lines = boilerplate_lines_from_state(state, frac_threshold, min_docs)
    return strip_with_lines(docs, lines, id_col, text_col, source_col)
