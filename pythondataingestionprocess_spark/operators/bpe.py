"""Distributed BPE merge learning (Sennrich, Haddow & Birch, ACL 2016
"Neural Machine Translation of Rare Words with Subword Units") — learn
a byte-pair-encoding merge table from a corpus, Spark-first.

The classic algorithm is a loop over the WORD-FREQUENCY table, not the
raw corpus — and that is exactly what makes it distributable:

1. **one corpus pass** builds ``(word, count)`` (explode whitespace
   tokens → groupBy) — after this the corpus is never touched again;
   the word table is vocabulary-sized (≪ corpus at any scale worth
   tokenizing).
2. each of the ``n_merges`` iterations is two vocabulary-sized steps:
   count-weighted adjacent-pair aggregation (map-side explode → one
   small shuffle) and an argmax (count DESC, then lexicographic — the
   deterministic tie-break), then the merge applies MAP-SIDE as one
   left-fold column expression over every word's symbol array.
   `learn_bpe_merges_batched` collapses many such iterations into one
   count pass via a snapshot-certified parity batch (see
   `_select_parity_batch`) — same merge sequence, O(passes) jobs
   instead of O(n_merges), which is what makes a real 30k-merge
   vocabulary trainable.
3. driver state is the merge list itself — ``n_merges`` pairs, the
   artifact the method exists to produce (same bounded-driver-payload
   contract as k-means centroids / PQ codebooks / DSIR m-vectors).

The per-iteration word table is localCheckpointed so lineage stays
flat across iterations (the components.py iterative discipline).

``text_bpe_pair_counts`` (plans/llm_ops.py) is the single-iteration
pair-count face this module turns into the full training loop; the
BPE-ish regex tokenizer (functions/text.py) remains the APPLICATION
fast path for pretrained-style tokenization. Applying a learned table
to new text at scale is the standard rank-greedy loop over a merge
dict — a Pandas UDF in production; ``apply_merges`` here is the
expression form, sensible for modest merge counts (each merge is one
fold over the symbol array; the expression tree grows linearly with
``len(merges)``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END = "</w>"  # end-of-word marker, per the paper

# expression-form application nests one fold per merge; past this the
# Catalyst tree is deep enough to risk codegen/analysis limits, so
# apply_merges fails loud instead of opaquely
MAX_EXPR_MERGES = 200

# the analyzer's Resolution batch caps at 100 iterations and each
# nested higher-order fold costs roughly one, so ~99 folds in a SINGLE
# select fail with "Max iterations (100) reached" (probed). Folds
# are therefore applied in chunks of this many per select — analysis
# is incremental across chained selects (resolved subtrees are not
# re-resolved), so total depth is unbounded while each analysis step
# stays far under the cap.
_FOLDS_PER_SELECT = 64


def word_counts(
    docs: DataFrame,
    text_col: str = "text",
    word_pattern: str | None = None,
    ascii_ws: bool = False,
) -> DataFrame:
    """``(word, count)`` — the one corpus pass. Tokenization is
    UNICODE whitespace (``(?U)\\s+`` — Java's ``\\s`` is ASCII-only by
    default, but web text is full of NBSP and friends, and the
    pure-Python reference this module is pinned against splits on
    Unicode whitespace); empty fragments from leading/trailing
    separators are dropped, matching ``str.split()``.

    ``word_pattern`` optionally restricts the vocabulary to words
    matching a regex (e.g. ``'^[a-z]+$'`` for a letters-only table —
    the standard move when training on noisy web text, and what keeps
    the driver face's oracle engine-portable). ``ascii_ws`` switches
    the split to ASCII ``\\s+`` — REQUIRED for any oracle-paired path,
    because DuckDB's RE2 ``\\s`` is ASCII-only (the same hard
    constraint operators/dsir.py documents)."""
    ws = r"\s+" if ascii_ws else r"(?U)\s+"
    words = (
        docs.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.explode(F.split(F.lower(F.col(text_col)), ws)).alias("word")
        )
        .filter(F.col("word") != "")
    )
    if word_pattern is not None:
        words = words.filter(F.col("word").rlike(word_pattern))
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("count"))


def _init_symbols(word_col: str = "word") -> Column:
    """word → array of single-character symbols + the end marker."""
    return F.concat(
        F.split(F.col(word_col), ""),  # chars
        F.array(F.lit(END)),
    )


def _merge_fold(arr: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) → a+b inside a
    symbol array, as ONE aggregate fold: the accumulator carries the
    emitted prefix plus a single pending symbol ('' = none — symbols
    are never empty). 'aaaa' under (a,a) becomes (aa)(aa), the
    paper's greedy semantics."""
    la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
    zero = F.struct(
        F.array().cast("array<string>").alias("acc"), F.lit("").alias("pend")
    )

    def step(st: Column, x: Column) -> Column:
        merged = F.struct(
            F.concat(st["acc"], F.array(lab)).alias("acc"), F.lit("").alias("pend")
        )
        hold = F.struct(st["acc"].alias("acc"), x.alias("pend"))
        emit_then_hold = F.struct(
            F.concat(st["acc"], F.array(st["pend"])).alias("acc"), x.alias("pend")
        )
        return (
            F.when((st["pend"] == la) & (x == lb), merged)
            .when(st["pend"] == F.lit(""), hold)
            .otherwise(emit_then_hold)
        )

    def finish(st: Column) -> Column:
        return F.when(st["pend"] == F.lit(""), st["acc"]).otherwise(
            F.concat(st["acc"], F.array(st["pend"]))
        )

    return F.aggregate(arr, zero, step, finish)


def _pair_counts(words: DataFrame) -> DataFrame:
    """Count-weighted adjacent-pair frequencies over the word table."""
    pairs = words.select(
        "count",
        F.explode(
            F.zip_with(
                F.slice("symbols", 1, F.size("symbols") - 1),
                F.slice("symbols", 2, F.size("symbols") - 1),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.a", "p.b").agg(F.sum("count").alias("n"))


def pair_counts(
    words: DataFrame, symbols_col: str = "symbols", count_col: str = "count"
) -> DataFrame:
    """Public pair-count surface: count-weighted adjacent-pair
    frequencies ``(a, b, n)`` over any (symbol-array, count) table —
    the statistic one BPE iteration argmaxes, exposed so callers (the
    driver face) can inspect the pair table AFTER a learned prefix is
    applied."""
    cols = words.select(
        F.col(symbols_col).alias("symbols"), F.col(count_col).alias("count")
    )
    return _pair_counts(cols)


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_count: int = 2,
    word_pattern: str | None = None,
    stats: dict | None = None,
    ascii_ws: bool = False,
) -> list[tuple[str, str]]:
    """The learned merge table, in order. Stops early when the best
    remaining pair falls under ``min_count`` (the paper's stopping
    criterion for tiny corpora). ``stats``, if given, records
    ``selected`` — the ``(a, b, count)`` triple of each accepted
    merge at its selection time — and ``words_df``, the FINAL
    localCheckpointed (symbols, count) table, so callers needing the
    post-merge state (the driver face's pair report) reuse it instead
    of re-scanning the corpus and re-folding every merge."""
    words = word_counts(docs, text_col, word_pattern, ascii_ws).withColumn(
        "symbols", _init_symbols()
    ).select("symbols", "count").localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    if stats is None:
        stats = {}
    stats["selected"] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        stats["selected"].append((a, b, top[0]["n"]))
        words = words.select(
            _merge_fold(F.col("symbols"), a, b).alias("symbols"), "count"
        ).localCheckpoint(eager=True)
    stats["words_df"] = words
    return merges


def _spawn_lex_beats(
    rows: list[tuple[str, str, int]],
    n: int,
    cand: tuple[str, str],
    accepted_set: set[tuple[str, str]],
    left_ext: dict[str, list[str]],
    right_ext: dict[str, list[str]],
) -> bool:
    """Could a pair SPAWNED by the already-accepted batch prefix tie
    candidate ``cand`` (count n) and lexicographically beat it at its
    sequential turn? A spawned pair is (S, T) where S is a snapshot
    symbol x or an accepted concatenation A+x (accepted merge (A, x)),
    T is a snapshot symbol y or an accepted y+B (accepted merge
    (y, B)), not both plain — its count is bounded by the snapshot
    count of the bridging pair (x, y). Bridges with count > n cannot
    coexist with the batch reaching this candidate (the footprint
    no-skip argument stops the batch at the bridge first), so only
    count == n bridges matter; accepted rows are fully consumed by
    their own merge and cannot bridge."""
    for x, y, m in rows:
        if m != n or (x, y) == cand or (x, y) in accepted_set:
            continue
        lefts = [x] + left_ext.get(x, [])
        rights = [y] + right_ext.get(y, [])
        for si, s in enumerate(lefts):
            for ti, t in enumerate(rights):
                if si == 0 and ti == 0:
                    continue  # the bridge itself — a snapshot pair, not new
                if (s, t) < cand:
                    return True
    return False


def _select_parity_batch(
    rows: list[tuple[str, str, int]],
    threshold: int,
    created: set[str],
    limit: int,
    min_count: int,
) -> list[tuple[str, str]]:
    """The longest PREFIX of the snapshot's (count desc, a, b)-sorted
    pair list that is provably identical to what sequential
    merge-at-a-time learning would pick — certified from snapshot
    counts alone, no recount needed. The argument that makes this
    exact (each bullet names the sequential-divergence mode it
    closes):

    - **no-skip prefix**: candidates are taken strictly in sorted
      order and the batch STOPS at the first rejection. Hence when
      candidate c_i is reached, every pair with a higher snapshot
      count is already in the batch — there is no higher-count pair
      left whose (merely reduced) post-merge count could outrank c_i.
    - **exact reduction footprint**: merging (A,B) destroys only
      occurrences of (x,A), (A,B) and (B,y) — a pair is reduced iff
      its SECOND element is some accepted first-slot A, or its FIRST
      element is some accepted second-slot B. Candidates outside that
      footprint keep exactly their snapshot count at their sequential
      turn, even when they share a symbol with an accepted merge in
      the harmless slot ((t,h) then (t,e) batch together; (t,h) then
      (h,e) do not). Accepted-after-accepted chains are covered by
      the same rule: once (x,A) is accepted, A sits in the
      second-slot set, so a later (A,B) is rejected — as it must be,
      since applying (x,A) first reduces it.
    - **new pairs can't win**: merging (A,B) creates pairs (x,AB) /
      (AB,y), each occurrence consuming a snapshot occurrence of
      (x,A) / (B,y) — a new pair's count is bounded by its
      progenitor's snapshot count. A progenitor outranking c_i sits
      earlier in sorted order AND inside some accepted merge's
      reduction footprint — the no-skip rule stopped the batch there.
      Equal-count progenitors sit in the visible top-T, and the new
      pair's NAME is computable ((x, A+B) or (A+B, y)), so the
      lexicographic tie-break is decided exactly: stop only when a
      spawnable equal-count pair would lex-beat c_i.
    - **self-merge bound**: the one progenitor the rules above can't
      see is a merge that is its own progenitor — (A,A) over an
      ``aaaa…`` run yields (AA,AA) adjacencies consuming TWO (A,A)
      occurrences each, so their count is bounded only by
      count(A,A)/2 (per run of length L: ≤ floor(L/2) new intra-run
      pairs vs L-1 snapshot pairs), not by any other snapshot pair.
      After accepting a self-merge with count n_k, stop as soon as
      2*count(c_i) <= n_k (equality included for the tie-break).
    - **threshold guard**: pairs below the collected top-T are
      invisible, so certification stops once count(c_i) <= the T-th
      count (unseen pairs and progenitors all sit at or below it).
    - **symbol-collision guard**: if an accepted concatenation a+b
      equals an ALREADY-EXISTING symbol string (possible when the
      corpus contains the marker characters themselves), merged
      occurrences would INCREASE that old pair's counts and the
      no-increase premise above dies — stop the batch there. This
      covers batch-LOCAL collisions too (two same-batch merges with
      equal concatenations, e.g. ('x','</w>') + ('x<','/w>') in
      HTML-ish text): the accepted merge whose concat
      collides with any prior concat of the SAME batch is the last
      one in. Single chars can't collide (len(a+b) >= 2), so
      ``created`` only needs END plus past concatenations.

    Stopping is always safe: the next corpus pass recounts from the
    merged table, which IS the sequential state. The batch is never
    empty while the true argmax clears min_count — worst case is
    batch size 1, i.e. plain sequential learning."""
    a0, b0, n0 = rows[0]
    if n0 < min_count:
        return []
    accepted = [(a0, b0)]
    accepted_set = {(a0, b0)}
    first_slots = {a0}
    second_slots = {b0}
    # spawn-name extensions for the lex-beat check: accepted (A, x)
    # lets a bridge's left symbol x appear as A+x; accepted (y, B)
    # lets its right symbol y appear as y+B
    left_ext: dict[str, list[str]] = {b0: [a0 + b0]}
    right_ext: dict[str, list[str]] = {a0: [a0 + b0]}
    concats = {a0 + b0}
    self_merge_max = n0 if a0 == b0 else 0
    if (a0 + b0) in created:
        return accepted
    for a, b, n in rows[1:]:
        if len(accepted) >= limit or n < min_count or n <= threshold:
            break
        if 2 * n <= self_merge_max:
            break
        # exact reduction footprint: reduced iff the SECOND element is
        # an accepted first-slot or the FIRST is an accepted second-slot
        if b in first_slots or a in second_slots:
            break
        if _spawn_lex_beats(rows, n, (a, b), accepted_set, left_ext, right_ext):
            break
        accepted.append((a, b))
        accepted_set.add((a, b))
        first_slots.add(a)
        second_slots.add(b)
        left_ext.setdefault(b, []).append(a + b)
        right_ext.setdefault(a, []).append(a + b)
        if a == b:
            self_merge_max = max(self_merge_max, n)
        if (a + b) in created or (a + b) in concats:
            break
        concats.add(a + b)
    return accepted


def learn_bpe_merges_batched(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_count: int = 2,
    top_t: int = 512,
    stats: dict | None = None,
    word_pattern: str | None = None,
    ascii_ws: bool = False,
) -> list[tuple[str, str]]:
    """`learn_bpe_merges` with MERGE-SEQUENCE-EXACT batching: each
    corpus pass collects the top ``top_t`` pairs once and accepts the
    longest provably-sequential prefix (see `_select_parity_batch`),
    then applies the whole batch map-side in ONE select before the
    next recount. Identical output to the sequential loop by
    construction; the difference is jobs — a real 30k-merge vocabulary
    is O(passes) Spark jobs with batch-sized passes instead of 30k
    sequential argmax+checkpoint rounds (top pairs of a fresh count
    table are overwhelmingly symbol-disjoint, so
    early passes accept large batches; Sennrich's own
    frequency-threshold batching is the same observation applied
    lossily, while the certificate here keeps it lossless).

    Driver state stays bounded: top_t (count, a, b) rows per pass plus
    the merge list itself. ``stats``, if given, is filled with
    ``passes`` (count jobs run) and ``batch_sizes`` so callers and
    tests can assert the jobs-per-merge economy; the per-pass fold
    depth is bounded by the batch size, which `_pair_counts`'s
    recount resets before Catalyst trees can stack past
    MAX_EXPR_MERGES folds (batches are clamped to it)."""
    words = word_counts(docs, text_col, word_pattern, ascii_ws).withColumn(
        "symbols", _init_symbols()
    ).select("symbols", "count").localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    created: set[str] = {END}
    if stats is None:
        stats = {}
    stats["passes"] = 0
    stats["batch_sizes"] = []
    # selection-time count per accepted merge, aligned with the return
    # list. The snapshot count IS the sequential selection-time count:
    # every accepted candidate is footprint-clean by construction, so
    # its count is unchanged at its sequential turn (the certificate's
    # exact-reduction-footprint argument).
    stats["selected_counts"] = []
    while len(merges) < n_merges:
        top = (
            _pair_counts(words)
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(top_t)
            .collect()
        )
        stats["passes"] += 1
        if not top or top[0]["n"] < min_count:
            break
        threshold = top[-1]["n"] if len(top) == top_t else 0
        batch = _select_parity_batch(
            [(r["a"], r["b"], r["n"]) for r in top],
            threshold,
            created,
            min(n_merges - len(merges), MAX_EXPR_MERGES),
            min_count,
        )
        if not batch:
            break
        stats["batch_sizes"].append(len(batch))
        snap_n = {(r["a"], r["b"]): r["n"] for r in top}
        for a, b in batch:
            merges.append((a, b))
            created.add(a + b)
            stats["selected_counts"].append(snap_n[(a, b)])
        words = _fold_chunked(words, batch).localCheckpoint(eager=True)
    stats["words_df"] = words
    return merges


def _fold_chunked(
    words: DataFrame,
    batch: list[tuple[str, str]],
    col: str = "symbols",
) -> DataFrame:
    """Apply a merge batch as nested folds over ``col`` (other columns
    pass through), ≤ `_FOLDS_PER_SELECT` per select so each analysis
    step stays under the analyzer's iteration cap (chained selects
    analyze incrementally — no checkpoint or job between chunks)."""
    for i in range(0, len(batch), _FOLDS_PER_SELECT):
        sym = F.col(col)
        for a, b in batch[i : i + _FOLDS_PER_SELECT]:
            sym = _merge_fold(sym, a, b)
        words = words.withColumn(col, sym)
    return words


def apply_merges(
    df: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    out_col: str = "subwords",
) -> DataFrame:
    """Tokenize words with a learned table: the merges apply in
    LEARNED ORDER (rank order ≡ greedy-by-rank for merges learned on
    the same corpus family), each as one fold — expression form for
    modest tables; production-scale application is a Pandas UDF over
    a rank dict."""
    if len(merges) > MAX_EXPR_MERGES:
        raise ValueError(
            f"apply_merges nests one aggregate fold per merge and "
            f"{len(merges)} merges would blow Catalyst's codegen/"
            f"analysis limits with an opaque failure; past "
            f"{MAX_EXPR_MERGES} use the rank-dict Pandas-UDF "
            f"application path (the production tokenizer loop)"
        )
    # chunked folds: >~99 folds in ONE select trip the analyzer's
    # 100-iteration Resolution cap well before the MAX_EXPR_MERGES
    # guard fires (probed)
    return _fold_chunked(
        df.withColumn(out_col, _init_symbols(word_col)), merges, out_col
    )


def apply_merges_vectorized(
    df: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    out_col: str = "subwords",
) -> DataFrame:
    """Rank-dict BPE application — the production path for
    vocabulary-scale merge tables where `apply_merges`'s one-fold-per-
    merge expression tree can't go (30k+ merges): the table ships to
    executors once as a plain dict in the function closure
    (task-broadcast, kilobytes per 10k merges), and each Arrow batch
    runs the standard lowest-rank-first greedy loop per word.

    Output is EXACTLY `apply_merges`'s (pinned by test): rank-greedy
    application equals applying merges in learned order, because a
    merge can never re-enable a lower-ranked pair — merges only
    replace two adjacent symbols with their concatenation, so an
    (a, b) adjacency of two pre-existing symbols is never newly
    created, it can only be consumed. Per word the loop is
    O(len * distinct-pairs) with an O(1) dict probe per pair —
    the tokenizer hot loop every production BPE implementation uses."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    ranks = {m: i for i, m in enumerate(merges)}
    # build a FRESH StructType: StructType.add mutates in place, and
    # classic PySpark caches `df.schema` on the DataFrame, so mutating
    # it corrupts the input frame's Python-side schema and every
    # subsequent select fails with UNRESOLVED_COLUMN
    schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(StringType()))]
    )
    col_idx = df.columns.index(word_col)

    def _encode(word: str) -> list[str]:
        sym = list(word) + [END]
        while len(sym) > 1:
            best_rank, best_pair = None, None
            for pair in zip(sym, sym[1:]):
                r = ranks.get(pair)
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, pair
            if best_pair is None:
                break
            a, b = best_pair
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return sym

    def _batches(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf[out_col] = pdf.iloc[:, col_idx].map(_encode)
            yield pdf

    return df.mapInPandas(_batches, schema)
