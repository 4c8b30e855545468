"""Repeated-span exact dedup (operators/spandedup.py): unaligned
cross-doc repeats are caught (the case fixed-block dedup misses),
first occurrence kept, overlapping spans merge, short docs pass
through, the convergence contract holds (no re-removal without
removal-created adjacency; cascades resolve on later passes), and the
registered DuckDB oracle (plans/corpus_ops.py
text_repeated_span_dedup) matches the Spark plan corpus-wide."""

from __future__ import annotations

from pythondataingestionprocess_spark.operators.spandedup import (
    repeated_span_dedup,
)

SCHEMA = "doc_id long, text string"

# a 6-token passage repeated across docs at DIFFERENT word offsets
PASSAGE = "licensed under creative commons attribution four"


def _rows(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_unaligned_cross_doc_repeat_removed_keep_first(spark):
    docs = spark.createDataFrame(
        [
            (1, f"{PASSAGE} alpha beta gamma delta"),
            # same passage, shifted by three tokens
            (2, f"one two three {PASSAGE} epsilon zeta"),
            (3, "totally unrelated words nobody repeats here at all"),
        ],
        SCHEMA,
    )
    got = _rows(repeated_span_dedup(docs, k=6))
    # doc 1 holds the first occurrence -> untouched
    assert got[1]["n_removed"] == 0
    assert got[1]["text"].startswith(PASSAGE)
    # doc 2 loses exactly the 6 passage tokens, neighbors survive
    assert got[2]["n_removed"] == 6
    assert got[2]["text"] == "one two three epsilon zeta"
    assert got[3]["n_removed"] == 0


def test_fixed_block_alignment_is_not_required(spark):
    """The motivating gap: with k=4 blocks, a 4-token repeat shifted
    by ONE token lands in different fixed blocks (block dedup keeps
    both); span dedup removes the later one regardless of offset."""
    rep = "w x y z"
    docs = spark.createDataFrame(
        [(1, f"{rep} a b c d"), (2, f"shift {rep} e f g")],
        SCHEMA,
    )
    got = _rows(repeated_span_dedup(docs, k=4))
    assert got[1]["n_removed"] == 0
    assert got[2]["n_removed"] == 4
    assert got[2]["text"] == "shift e f g"


def test_overlapping_spans_merge_not_double_count(spark):
    """A repeat LONGER than k marks overlapping k-spans; covered
    positions are distinct-merged so n_removed equals the span length,
    not occurrences x k."""
    long_rep = "a1 a2 a3 a4 a5 a6 a7 a8"  # 8 tokens, k=6 -> 3 starts
    docs = spark.createDataFrame(
        [(1, f"{long_rep} tail1 tail2"), (2, f"head {long_rep} tail3")],
        SCHEMA,
    )
    got = _rows(repeated_span_dedup(docs, k=6))
    assert got[2]["n_removed"] == 8
    assert got[2]["text"] == "head tail3"


def test_intra_doc_repeat_keeps_first(spark):
    docs = spark.createDataFrame(
        [(1, f"{PASSAGE} filler middle words here {PASSAGE}")],
        SCHEMA,
    )
    got = _rows(repeated_span_dedup(docs, k=6))
    assert got[1]["n_removed"] == 6
    assert got[1]["text"] == f"{PASSAGE} filler middle words here"


def test_short_and_empty_docs_pass_through(spark):
    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, ""), (3, None), (4, "   ")],
        SCHEMA,
    )
    got = _rows(repeated_span_dedup(docs, k=6))
    assert got[1] == {
        "doc_id": 1, "n_tokens": 2, "n_removed": 0, "text": "tiny doc"
    }
    for d in (2, 3, 4):
        assert got[d]["n_tokens"] == 0 and got[d]["n_removed"] == 0
        assert got[d]["text"] == ""


def test_second_pass_removes_nothing_without_new_adjacency(spark):
    """When removal creates no duplicate-forming adjacency (the common
    case), a second pass is a no-op."""
    docs = spark.createDataFrame(
        [
            (1, f"{PASSAGE} alpha beta gamma delta"),
            (2, f"one two three {PASSAGE} epsilon zeta"),
            (3, f"{PASSAGE} again somewhere else entirely okay"),
        ],
        SCHEMA,
    )
    once = repeated_span_dedup(docs, k=6)
    twice = repeated_span_dedup(
        once.select("doc_id", "text"), k=6
    )
    r1, r2 = _rows(once), _rows(twice)
    for d in r1:
        assert r2[d]["text"] == r1[d]["text"]
        assert r2[d]["n_removed"] == 0


def test_removal_created_adjacency_resolves_on_a_later_pass(spark):
    """The documented non-idempotence: removing a
    span can make its neighbors adjacent; if THAT k-gram duplicates
    another doc, a second pass removes it — run to fixpoint for exact
    suffix-array semantics. Pins the single-pass contract (removals
    judged against the ORIGINAL corpus) and the convergence."""
    docs = spark.createDataFrame(
        [
            (0, "q1 q2 pad1 pad2"),
            (1, "X Y"),
            (2, "X q1 q2 Y"),
        ],
        SCHEMA,
    )
    once = _rows(repeated_span_dedup(docs, k=2))
    # pass 1: doc 2 loses only 'q1 q2' (dup of doc 0); 'X Y' was not
    # adjacent in the ORIGINAL doc 2, so it survives this pass
    assert once[2]["text"] == "X Y" and once[2]["n_removed"] == 2
    # pass 2 sees the removal-created 'X Y' duplicate doc 1's
    twice = _rows(
        repeated_span_dedup(
            repeated_span_dedup(docs, k=2).select("doc_id", "text"), k=2
        )
    )
    assert twice[2]["text"] == "" and twice[2]["n_removed"] == 2
    # fixpoint: a third pass changes nothing
    third_in = repeated_span_dedup(
        repeated_span_dedup(docs, k=2).select("doc_id", "text"), k=2
    ).select("doc_id", "text")
    third = _rows(repeated_span_dedup(third_in, k=2))
    assert third[2]["text"] == "" and third[2]["n_removed"] == 0


# The registered oracle (plans/corpus_ops.py, text_repeated_span_dedup);
# the test reads the single registered copy.
def _span_oracle() -> str:
    from pythondataingestionprocess_spark.plans.corpus_ops import (
        _SPAN_DEDUP_ORACLE,
    )

    return _SPAN_DEDUP_ORACLE


def test_duckdb_oracle_parity_on_sf0001(spark, sf_dir):
    """Full-corpus parity of the registered oracle against the Spark
    plan at sf0.001 (natural repeats only — no planting), canonical
    row-set equality including the reassembled text."""
    import duckdb

    import pythondataingestionprocess_spark.catalog as cat

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    oracle = {
        (r[0], r[1], r[2], r[3])
        for r in con.execute(_span_oracle()).fetchall()
    }
    docs = cat.load_table(spark, sf_dir, "documents")
    got = {
        (r["doc_id"], r["n_tokens"], r["n_removed"], r["text"])
        for r in repeated_span_dedup(docs, k=10).collect()
    }
    assert got == oracle
    assert any(r[2] > 0 for r in got), "corpus has natural repeats"
