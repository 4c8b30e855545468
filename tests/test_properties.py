"""Property-based tests (SURVEY.md §5 strategy item 4): cleaning
functions over hypothesis-generated batches — null-safety, sign
handling, serial-date roundtrips. Each example ships a whole batch
through one Spark job to keep runtime sane."""

from __future__ import annotations

from datetime import date, timedelta

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.functions.cleaning import (
    normalize_null_markers,
    safe_float,
    signed_money,
)
from pythondataingestionprocess_spark.functions.dates import (
    excel_serial_to_date,
    parse_stmt_date,
)
from pythondataingestionprocess_spark.functions.text import rolling_hash

SET = settings(max_examples=5, deadline=None)


@SET
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=30))
def test_safe_float_comma_decimal_roundtrip(spark, xs):
    rows = [(i, f"{x}".replace(".", ",")) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "i long, s string")
    got = {r["i"]: r["v"] for r in df.select("i", safe_float("s").alias("v")).collect()}
    for i, x in enumerate(xs):
        assert got[i] == pytest.approx(x, rel=1e-12)


@SET
@given(st.lists(st.sampled_from(["None", "none", "NONE", "nan", "", "  ", "NaN", "ok", "0"]), min_size=1, max_size=20))
def test_null_markers_never_survive(spark, xs):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(xs)], "i long, s string")
    out = df.select("i", normalize_null_markers("s").alias("v")).collect()
    for r in out:
        if r["v"] is not None:
            assert r["v"].strip().lower() not in ("none", "nan", "")


@SET
@given(
    st.lists(
        st.tuples(st.integers(0, 999_999), st.integers(0, 99), st.booleans()),
        min_size=1,
        max_size=30,
    )
)
def test_signed_money_sign_and_magnitude(spark, items):
    rows = []
    for i, (whole, cents, neg) in enumerate(items):
        sign = "- " if neg else "+ "
        rows.append((i, f"{sign}${whole:,}.{cents:02d}", whole + cents / 100, neg))
    df = spark.createDataFrame([(i, s) for i, s, _, _ in rows], "i long, s string")
    got = {r["i"]: r["v"] for r in df.select("i", signed_money("s").alias("v")).collect()}
    for i, _, mag, neg in rows:
        expected = -mag if neg else mag
        assert got[i] == pytest.approx(expected, abs=1e-9)


@SET
@given(st.lists(st.integers(1, 80_000), min_size=1, max_size=30))
def test_excel_serial_roundtrip(spark, serials):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(serials)], "i long, s long")
    got = {r["i"]: r["d"] for r in df.select("i", excel_serial_to_date("s").alias("d")).collect()}
    epoch = date(1899, 12, 30)
    for i, s in enumerate(serials):
        assert got[i] == epoch + timedelta(days=s)


@SET
@given(st.lists(st.dates(date(1990, 1, 1), date(2099, 12, 31)), min_size=1, max_size=30))
def test_stmt_date_render_parse_roundtrip(spark, dates):
    abbr = ["ene", "feb", "mar", "abr", "may", "jun",
            "jul", "ago", "sep", "oct", "nov", "dic"]
    rows = [
        (i, f"{d.day:02d}-{abbr[d.month - 1]}-{d.year}", d) for i, d in enumerate(dates)
    ]
    df = spark.createDataFrame([(i, s) for i, s, _ in rows], "i long, s string")
    got = {r["i"]: r["d"] for r in df.select("i", parse_stmt_date("s").alias("d")).collect()}
    for i, _, d in rows:
        assert got[i] == d


def test_rolling_hash_bounded_and_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "d c b a"), (3, "a b c d")], "i long, t string"
    )
    got = {r["i"]: r["h"] for r in df.select("i", rolling_hash("t").alias("h")).collect()}
    assert got[1] == got[3] != got[2]
    assert all(0 <= h < (1 << 31) - 1 for h in got.values())


def test_approx_count_distinct_within_bound(spark, sf_dir):
    from pythondataingestionprocess_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    row = orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        F.count_distinct("o_custkey").alias("exact"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


@given(
    st.lists(st.integers(min_value=1, max_value=1500), max_size=60),
    st.integers(min_value=1, max_value=1000),
)
@settings(max_examples=200, deadline=None)
def test_greedy_bins_invariants(tokens, budget):
    """Pure packing core: bins are contiguous and monotone, every bin's
    total ≤ budget unless it holds a single oversized doc, nothing
    dropped, running fill is consistent."""
    from pythondataingestionprocess_spark.operators.packing import greedy_bins

    bins, fills = greedy_bins(tokens, budget)
    assert len(bins) == len(tokens) == len(fills)
    totals: dict[int, int] = {}
    counts: dict[int, int] = {}
    prev_bin = 0
    running = 0
    for tok, b, f in zip(tokens, bins, fills):
        assert b in (prev_bin, prev_bin + 1)  # contiguous, monotone
        if b != prev_bin:
            running = 0
        running += tok
        assert f == running  # running fill consistent
        prev_bin = b
        totals[b] = totals.get(b, 0) + tok
        counts[b] = counts.get(b, 0) + 1
    for b, total in totals.items():
        assert total <= budget or counts[b] == 1


@SET
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12),
        min_size=2,
        max_size=8,
    )
)
@pytest.mark.slow
def test_containment_pairs_match_python_reference(spark, docs):
    """containment_pairs vs a pure-Python set reference on tiny random corpora: same pairs,
    same values, for every random draw — the operator's semantics are
    pinned independently of the DuckDB oracle."""
    from pythondataingestionprocess_spark.operators import dedup as dd

    texts = [" ".join(toks) for toks in docs]
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(toks):
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    ref = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = grams(docs[i]), grams(docs[j])
            if not a or not b:
                continue
            c = len(a & b) / min(len(a), len(b))
            if c >= 0.8:
                ref[(i, j)] = c

    sh = dd.shingle_sets(sdf, "doc_id", "text", 3)
    got = {
        (r.id_a, r.id_b): r.containment
        for r in dd.containment_pairs(sh, "doc_id", 0.8).collect()
    }
    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == pytest.approx(ref[k], rel=1e-12)


@SET
@given(
    scale=st.floats(min_value=0.05, max_value=50),
    shift=st.floats(min_value=-1000, max_value=1000),
)
def test_subsequence_match_scale_shift_invariant(spark, scale, shift):
    """For ANY positive scale and any shift, an affine copy of the
    pattern embedded in noise is found at distance ~0 at the right
    position — the z-normalization contract, not just one example."""
    from pythondataingestionprocess_spark.operators.timeseries import (
        subsequence_match,
    )

    pattern = [1.0, 4.0, 2.0, 6.0, 3.0]
    series = [9.0, 7.0] + [shift + scale * x for x in pattern] + [8.0]
    rows = [
        (1, f"2024-01-01 00:{i:02d}:00", i, v) for i, v in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    best = subsequence_match(df, pattern, k=1).collect()[0]
    assert best["end_seq"] == 6
    assert best["dist"] < 1e-6


_WORDS = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
    min_size=1,
    max_size=40,
)


@SET
@given(st.lists(_WORDS, min_size=1, max_size=8))
def test_block_dedup_conservation(spark, docs):
    """On ANY corpus: Σ n_kept == number of DISTINCT block texts, and
    Σ n_blocks == total blocks — exactly one occurrence of each block
    survives, no more, no less (the C4 keep-one contract)."""
    from pythondataingestionprocess_spark.operators.dedup import (
        block_dedup_retention,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = block_dedup_retention(df, "doc_id", "text", block=3).collect()
    blocks = []
    for _, text in rows:
        ws = text.split()
        blocks += [" ".join(ws[i : i + 3]) for i in range(0, len(ws), 3)]
    assert sum(r["n_blocks"] for r in got) == len(blocks)
    assert sum(r["n_kept"] for r in got) == len(set(blocks))


@SET
@given(st.lists(_WORDS, min_size=1, max_size=6))
def test_chunking_covers_every_token_in_order(spark, docs):
    """On ANY corpus: with stride < size, the chunk starts tile the
    token range — every token appears in ≥1 chunk, chunk 0 starts at
    token 0, consecutive chunks overlap by size-stride (except the
    tail), and each chunk's length is min(size, n - start)."""
    from pythondataingestionprocess_spark.plans import REGISTRY  # noqa: F401
    from pythondataingestionprocess_spark.plans.corpus_ops import (
        _CHUNK,
        _STRIDE,
        doc_chunking_overlap,  # noqa: F401  (constants only)
    )
    from pyspark.sql import functions as F

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # replicate the registered plan's carve on the synthetic frame
    words = df.withColumn("ws", F.split(F.trim(F.col("text")), r"\s+"))
    n_chunks = ((F.size("ws") - 1) / _STRIDE).cast("long") + 1
    out = (
        words.withColumn("k", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            "doc_id",
            "k",
            F.size(F.slice(F.col("ws"), F.col("k") * _STRIDE + 1, _CHUNK)).alias("len"),
        )
        .collect()
    )
    per_doc: dict[int, list] = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append((r["k"], r["len"]))
    for i, ws in enumerate(docs):
        n = len(ws)
        ks = sorted(per_doc[i])
        assert ks[0][0] == 0
        assert ks[-1][0] == (n - 1) // _STRIDE  # starts tile the range
        for k, ln in ks:
            assert ln == min(_CHUNK, n - k * _STRIDE)
        covered = ks[-1][0] * _STRIDE + ks[-1][1]
        assert covered == n  # the tail chunk reaches the last token


# ---------------------------------------------------------------- pdf_lite


@given(
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x2FFF),
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_pdf_literal_string_escape_roundtrip(s):
    """A `(...)` literal built with the spec's escaping rules parses
    back byte-identically (latin-1-representable payloads; escapes,
    parens, backslashes)."""
    from pythondataingestionprocess_spark.sources import pdf_lite

    try:
        payload = s.encode("latin-1")
    except UnicodeEncodeError:
        return  # literal strings carry 8-bit bytes; CMaps carry the rest
    esc = (
        payload.replace(b"\\", rb"\\")
        .replace(b"(", rb"\(")
        .replace(b")", rb"\)")
        .replace(b"\r", rb"\r")  # bare CR would normalize per spec
    )
    buf = b"(" + esc + b")"
    out, idx = pdf_lite._parse_literal(buf, 0)
    assert out == payload
    assert idx == len(buf)


@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=0xFFFF),
        st.text(
            alphabet=st.characters(min_codepoint=0x20, max_codepoint=0xD700),
            min_size=1,
            max_size=3,
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_cmap_bfchar_roundtrip(mapping):
    """A ToUnicode CMap written as bfchar entries parses back to the
    exact mapping (destinations are UTF-16BE per the spec — multi-unit
    destinations included)."""
    from pythondataingestionprocess_spark.sources import pdf_lite

    entries = "".join(
        f"<{code:04X}> <{dst.encode('utf-16-be').hex().upper()}>\n"
        for code, dst in mapping.items()
    )
    cmap = (
        "begincmap\n1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        f"{len(mapping)} beginbfchar\n{entries}endbfchar\nendcmap\n"
    ).encode()
    code_len, table = pdf_lite._parse_cmap(cmap)
    assert code_len == 2
    assert table == mapping


@given(
    st.integers(min_value=0, max_value=0xF000),
    st.integers(min_value=0, max_value=200),
    st.integers(min_value=0x20, max_value=0xD000),
)
@settings(max_examples=200, deadline=None)
def test_cmap_bfrange_start_form(lo, span, dst_start):
    """The `<lo> <hi> <dstStart>` bfrange form maps code lo+k to
    dst_start+k across the whole range."""
    from pythondataingestionprocess_spark.sources import pdf_lite

    hi = min(lo + span, 0xFFFF)
    cmap = (
        "begincmap\n1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        f"1 beginbfrange\n<{lo:04X}> <{hi:04X}> <{dst_start:04X}>\nendbfrange\n"
        "endcmap\n"
    ).encode()
    _, table = pdf_lite._parse_cmap(cmap)
    assert len(table) == hi - lo + 1
    for k in (0, (hi - lo) // 2, hi - lo):
        assert table[lo + k] == chr(dst_start + k)
