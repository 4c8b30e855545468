"""Line-frequency boilerplate removal (operators/boilerplate.py):
per-source frequency thresholds, order-preserving reassembly, empty
lines never counted as evidence, cross-source isolation, and the
min_docs guard on tiny sources."""

from __future__ import annotations

import pytest

from pythondataingestionprocess_spark.operators.boilerplate import (
    strip_boilerplate,
)

SCHEMA = "doc_id long, source string, text string"
HDR = "ACME NEWS — subscribe to our newsletter"
FTR = "(c) 2024 ACME | cookie policy"


def _rows(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


@pytest.mark.slow
def test_strips_frequent_lines_per_source_preserving_order(spark):
    docs = spark.createDataFrame(
        [
            (1, "acme", f"{HDR}\nstory one line a\nstory one line b\n{FTR}"),
            (2, "acme", f"{HDR}\nanother story\n{FTR}"),
            (3, "acme", f"{HDR}\nthird story text\n{FTR}"),
            (4, "acme", f"{HDR}\nfourth story\nmiddle kept\n{FTR}"),
            # the other source QUOTES the header once — it is content
            (5, "blog", f"I saw a banner saying:\n{HDR}\nwild, right?"),
            (6, "blog", "unrelated post\nwith two lines"),
            (7, "blog", "third blog doc\nmore words"),
        ],
        SCHEMA,
    )
    got = _rows(strip_boilerplate(docs, min_docs=3, frac_threshold=0.5))
    assert got[1]["text"] == "story one line a\nstory one line b"
    assert got[2]["text"] == "another story"
    assert got[4]["text"] == "fourth story\nmiddle kept"
    assert got[1]["n_lines_in"] == 4 and got[1]["n_lines_removed"] == 2
    # the quoting source keeps the same line — frequency is per source
    assert HDR in got[5]["text"]
    assert got[5]["n_lines_removed"] == 0
    assert got[6]["text"] == "unrelated post\nwith two lines"


@pytest.mark.slow
def test_min_docs_guards_tiny_sources(spark):
    docs = spark.createDataFrame(
        [
            (1, "tiny", "shared opener\nbody one"),
            (2, "tiny", "shared opener\nbody two"),
        ],
        SCHEMA,
    )
    kept = _rows(strip_boilerplate(docs, min_docs=3, frac_threshold=0.5))
    assert kept[1]["text"].startswith("shared opener")
    stripped = _rows(strip_boilerplate(docs, min_docs=2, frac_threshold=0.5))
    assert stripped[1]["text"] == "body one"
    assert stripped[2]["text"] == "body two"


def test_empty_lines_are_layout_not_evidence(spark):
    docs = spark.createDataFrame(
        [
            (1, "s", "a\n\nbody 1\n\nz"),
            (2, "s", "a\n\nbody 2\n\nz"),
            (3, "s", "a\n\nbody 3\n\nz"),
            (4, "s", "a\n\nbody 4\n\nz"),
        ],
        SCHEMA,
    )
    got = _rows(strip_boilerplate(docs, min_docs=3, frac_threshold=0.5))
    # 'a' and 'z' are boilerplate; blank lines survive as layout
    assert got[1]["text"] == "\nbody 1\n"
    assert got[1]["n_lines_removed"] == 2


def test_fully_boilerplate_doc_keeps_only_whitespace_skeleton(spark):
    docs = spark.createDataFrame(
        [
            (1, "s", "promo line\nlegal line"),
            (2, "s", "promo line\nlegal line"),
            (3, "s", "promo line\nlegal line"),
            (4, "s", "promo line\nreal content here\nlegal line"),
        ],
        SCHEMA,
    )
    got = _rows(strip_boilerplate(docs, min_docs=3, frac_threshold=0.5))
    assert got[1]["text"] == ""
    assert got[1]["n_lines_removed"] == 2
    assert got[4]["text"] == "real content here"


def test_repeated_line_inside_one_doc_counts_once(spark):
    """Document frequency, not term frequency: a line spammed 10x in
    ONE doc must not cross a 3-doc threshold."""
    spam = "buy now " * 3
    docs = spark.createDataFrame(
        [
            (1, "s", "\n".join([spam] * 10)),
            (2, "s", "other text"),
            (3, "s", "more text"),
            (4, "s", "yet more"),
        ],
        SCHEMA,
    )
    got = _rows(strip_boilerplate(docs, min_docs=3, frac_threshold=0.5))
    assert got[1]["n_lines_removed"] == 0
    assert got[1]["text"].count(spam.strip()) == 10


def _corpus(spark):
    rows = []
    for i in range(1, 9):
        body = f"story number {i}\nunique line {i * 7}"
        ftr = f"\n{FTR}" if i % 2 == 0 else ""
        rows.append((i, "acme", f"{HDR}\n{body}{ftr}"))
    for i in range(9, 13):
        rows.append((i, "blog", f"post {i}\nBLOG FOOTER"))
    return spark.createDataFrame(rows, SCHEMA)


def test_batch_screen_with_stored_state(spark):
    """The daily-ingest shape: screen ONLY the new batch against the
    corpus-wide folded state — output rows equal the full recompute's
    rows for those docs."""
    from pythondataingestionprocess_spark.operators.boilerplate import (
        boilerplate_lines_from_state,
        line_frequency_state,
        strip_with_lines,
    )

    docs = _corpus(spark)
    batch = docs.filter("doc_id > 10")
    state = line_frequency_state(docs)
    lines = boilerplate_lines_from_state(state, 0.5, 3)
    got = {
        r["doc_id"]: r.asDict()
        for r in strip_with_lines(batch, lines).collect()
    }
    full = _rows(strip_boilerplate(docs, min_docs=3, frac_threshold=0.5))
    assert got == {d: full[d] for d in got}
