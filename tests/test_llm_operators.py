"""Behavioral tests for the LLM-pipeline operators beyond the oracle
checks: ANN recall vs brute force, simhash near-dup sanity, multimodal
decode plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.catalog import load_table
from pythondataingestionprocess_spark.multimodal import media
from pythondataingestionprocess_spark.operators import dedup as dd
from pythondataingestionprocess_spark.operators import similarity as sim


def test_ann_lsh_recall_vs_brute(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = sim.knn_bruteforce(emb, queries, k=5).select("query_id", "neighbor_id")
    ann = sim.ann_lsh(emb, queries, k=5).select("query_id", "neighbor_id")
    n_true = brute.count()
    n_hit = brute.join(ann, ["query_id", "neighbor_id"], "left_semi").count()
    recall = n_hit / n_true
    # random-vector corpus = worst case for LSH; just require usable recall
    assert recall >= 0.3, f"ANN recall {recall} too low"


def test_simhash_flags_near_identical_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
        (3, "completely different words about spark shuffles and parquet footers"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    pairs = dd.simhash_pairs(df, "doc_id", "text", max_hamming=12).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sh = dd.shingle_sets(docs, "doc_id", "text", 3)
    exact = {(r.id_a, r.id_b) for r in dd.jaccard_pairs(sh, "doc_id", 0.5).collect()}
    lsh = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert lsh == exact


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc pasted whole into a long one: containment ~1.0
    (near-superset) while Jaccard stays below any usable threshold —
    the case the asymmetric screen exists for. Docs 4/5 sit at EXACTLY
    the threshold (4 of 4's 5 shingles shared: 4/5 = 0.8) and must be
    kept."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i}" for i in range(60))
    rows = [
        (1, short),
        (2, short + " " + filler),
        (3, "totally unrelated content about engines and planes here"),
        (4, "t1 t2 t3 t4 t5 t6 t7"),
        (5, "t2 t3 t4 t5 t6 t7 u1 u2 u3"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    sh = dd.shingle_sets(df, "doc_id", "text", 3)
    cont = {(r.id_a, r.id_b): r.containment
            for r in dd.containment_pairs(sh, "doc_id", 0.8).collect()}
    jac = {(r.id_a, r.id_b) for r in dd.jaccard_pairs(sh, "doc_id", 0.5).collect()}
    assert (1, 2) in cont and cont[(1, 2)] >= 0.99
    assert (1, 2) not in jac, "size-skewed pair should be invisible to Jaccard"
    assert all(3 not in pair for pair in cont)
    assert cont[(4, 5)] == pytest.approx(0.8)


@pytest.mark.slow
def test_multimodal_decode_plumbing(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes " * 40),
        (2, "video", b"\x00\x00ftyp fake " * 200),
        (3, "audio", b""),
    ]
    df = spark.createDataFrame(rows, schema="id long, media_type string, content binary")
    out = {r.id: r for r in media.decode_media(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_frames == 1  # images are single-frame
    assert out[2].n_frames > 1  # video frame-sampled
    assert out[3].byte_len == 0 and out[3].mean_intensity == 0.0
    # deterministic: same bytes → same stats
    out2 = {r.id: r for r in media.decode_media(df).collect()}
    assert out == out2


def test_real_decode_video_junk_fails_loudly():
    # video decode starts with the ISO-BMFF container walk (mp4_lite):
    # junk video bytes must fail loudly (quarantine discipline) — see
    # tests/test_multimodal_headers.py.
    with pytest.raises(ValueError):
        media.real_decode(b"bytes", "video")


def test_wav_audio_decode_real_file():
    """REAL audio decode without any codec library: a generated
    16-bit PCM WAV (stdlib wave writer) yields exact rate/channels/
    frame-count and the analytically known mean |amplitude| of a
    square wave."""
    import io
    import wave
    from array import array

    import pytest as _pytest

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        # square wave: +16000/-16000 alternating, both channels
        samples = array("h", [16000 if i % 2 == 0 else -16000
                              for i in range(2 * 400)])
        w.writeframes(samples.tobytes())
    stats = media.real_decode(buf.getvalue(), "audio")
    assert stats["width"] == 8000 and stats["height"] == 2
    assert stats["n_frames"] == 400
    assert stats["mean_intensity"] == _pytest.approx(16000 / 32767.0)


def test_cosine_near_dup_finds_planted_dups(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(40)]
    planted = [(i + 1000, vec) for i, vec in base if i % 4 == 0]
    df = spark.createDataFrame(base + planted, "vec_id long, embedding array<float>")
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.cosine_near_dup_pairs(df, "vec_id", "embedding").collect()
    }
    assert pairs == {(i, i + 1000) for i in range(0, 40, 4)}


def test_cosine_near_dup_incremental_matches_batch_cross_pairs(spark):
    """Daily-ingest embedding dedup: the incremental new×corpus pair
    list equals the cross-side subset of the batch operator run over
    corpus ∪ new (identical vectors share every bucket, so LSH recall
    at the dup end is exactly 1 on both paths), and corpus×corpus
    pairs are never emitted."""
    import numpy as np

    rng = np.random.default_rng(3)
    corpus_rows = [
        (i, [float(x) for x in rng.standard_normal(64)]) for i in range(40)
    ]
    # today's crawl: re-crawls of every 4th corpus vector + 5 fresh ones
    new_rows = [(i + 1000, vec) for i, vec in corpus_rows if i % 4 == 0] + [
        (2000 + j, [float(x) for x in rng.standard_normal(64)])
        for j in range(5)
    ]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<float>")
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<float>")

    got = {
        (r.new_id, r.corpus_id)
        for r in dd.cosine_near_dup_pairs_incremental(
            corpus, new, "vec_id", "embedding"
        ).collect()
    }
    assert got == {(i + 1000, i) for i in range(0, 40, 4)}

    # parity with the batch face restricted to cross pairs
    both = corpus.unionAll(new)
    batch_cross = {
        (r.id_b, r.id_a)  # batch emits (min,max); new ids are larger
        for r in dd.cosine_near_dup_pairs(both, "vec_id", "embedding").collect()
        if r.id_b >= 1000 and r.id_a < 1000
    }
    assert got == batch_cross


def test_cosine_near_dup_incremental_bucket_cap_keeps_anchor(spark):
    """A duplicate-heavy corpus bucket is capped by min-id anchoring:
    a new re-crawl of the mega-cluster still matches the kept anchor
    members instead of star-expanding against the whole cluster."""
    import numpy as np

    rng = np.random.default_rng(7)
    v = [float(x) for x in rng.standard_normal(64)]
    cluster = [(i, v) for i in range(300)]  # 300 identical corpus vectors
    corpus = spark.createDataFrame(cluster, "vec_id long, embedding array<float>")
    new = spark.createDataFrame([(9000, v)], "vec_id long, embedding array<float>")
    got = {
        (r.new_id, r.corpus_id)
        for r in dd.cosine_near_dup_pairs_incremental(
            corpus, new, "vec_id", "embedding", bucket_cap=4
        ).collect()
    }
    # capped: exactly the 4 min-id anchors, so the dup IS detected and
    # candidate volume stays bounded
    assert got == {(9000, i) for i in range(4)}


def test_incremental_operators_emit_no_self_pair(spark):
    """A corpus and a batch that share an id: the corpus copy of that
    id is no candidate at all — neither a self pair for the shared id
    nor a pair for any other new id — on both incremental operators."""
    import numpy as np

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = "doc_id long, text string"
    corpus = spark.createDataFrame([(1, text), (2, text)], docs)
    new = spark.createDataFrame([(2, text), (3, text)], docs)
    got = sorted(
        (r.new_id, r.corpus_id)
        for r in dd.minhash_lsh_pairs_incremental(
            corpus, new, "doc_id", "text"
        ).collect()
    )
    assert got == [(2, 1), (3, 1)]

    v = [float(x) for x in np.random.default_rng(3).standard_normal(64)]
    vecs = "vec_id long, embedding array<float>"
    corpus = spark.createDataFrame([(1, v), (2, v)], vecs)
    new = spark.createDataFrame([(2, v), (3, v)], vecs)
    got = sorted(
        (r.new_id, r.corpus_id)
        for r in dd.cosine_near_dup_pairs_incremental(
            corpus, new, "vec_id", "embedding"
        ).collect()
    )
    assert got == [(2, 1), (3, 1)]


def test_bpe_token_count_known_strings(spark):
    from pythondataingestionprocess_spark.functions.text import bpe_token_count

    rows = [(1, "I'll pay $1,234 tomorrow!"), (2, "   "), (3, "añojo 漢字 ok")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["n"] for r in df.select("id", bpe_token_count("text").alias("n")).collect()}
    # "I" "'ll" " pay" " $" "1" "," "234" " tomorrow" "!" → 9
    assert got[1] == 9
    assert got[2] == 0  # whitespace-only
    # non-ASCII letters fall into the symbol-run class (ASCII-only
    # letter runs, like GPT-2's byte-level pre-tokenizer):
    # ["a", "ñ", "ojo", " 漢字", " ok"]
    assert got[3] == 5


def test_whitespace_token_count_per_lang_matches_duckdb(spark):
    """The exact per-lang whitespace-count aggregation, compared
    against DuckDB on real testdata — plus known-string spot checks of token_count itself,
    which stays live inside text_quality_score's feature columns."""
    import duckdb

    from pythondataingestionprocess_spark.catalog import load_table
    from pythondataingestionprocess_spark.functions.text import token_count
    from pyspark.sql import functions as F

    rows = [(1, "  one two   three "), (2, "solo"), (3, "   ")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["n"] for r in
           df.select("id", token_count("text").alias("n")).collect()}
    assert got == {1: 3, 2: 1, 3: 1}  # trim-then-split: "" counts 1

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents")
    spark_rows = {
        r["lang"]: (r["n_docs"], r["total_tokens"])
        for r in docs.withColumn("n_tokens", token_count("text"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("total_tokens"))
        .collect()
    }
    oracle = duckdb.sql(f"""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
                 AS total_tokens
        FROM read_parquet('{sf_dir}/documents.parquet') GROUP BY lang
    """).fetchall()
    assert spark_rows == {r[0]: (r[1], r[2]) for r in oracle}


def test_asof_join_directions_and_ties(spark):
    from pythondataingestionprocess_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 300), (4, 99, 50)],
        "id long, k long, ts long",
    )
    right = spark.createDataFrame(
        [(10, 100, "a"), (10, 205, "b"), (10, 290, "c"), (10, 310, "d")],
        "k long, ts long, tag string",
    )
    back = {r["id"]: r["tag"] for r in asof_join(left, right, "k", "ts", ["tag"]).collect()}
    # id=1 ties at ts=100 → matches 'a'; id=2 ties at 205 → 'b';
    # id=3 latest ≤300 → 'c'; id=4 key 99 unmatched → NULL
    assert back == {1: "a", 2: "b", 3: "c", 4: None}
    fwd = {
        r["id"]: r["tag"]
        for r in asof_join(left, right, "k", "ts", ["tag"], direction="forward").collect()
    }
    assert fwd == {1: "a", 2: "b", 3: "d", 4: None}


def test_asof_join_null_value_does_not_fall_through(spark):
    from pythondataingestionprocess_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, 300)], "id long, k long, ts long")
    right = spark.createDataFrame(
        [(10, 100, "old", 1.0), (10, 200, None, 2.0)],
        "k long, ts long, tag string, v double",
    )
    row = asof_join(left, right, "k", "ts", ["tag", "v"]).first()
    # matched row (ts=200) has tag NULL — must NOT inherit 'old' from ts=100
    assert row["tag"] is None and row["v"] == 2.0


def test_range_join_left_and_salted_join(spark):
    from pythondataingestionprocess_spark.operators.rangejoin import range_join
    from pythondataingestionprocess_spark.operators.skew import salted_join

    pts = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 99.0)], "pid long, x double"
    )
    iv = spark.createDataFrame(
        [(100, 0.0, 10.0), (200, 4.0, 20.0)], "iid long, lo double, hi double"
    )
    inner = {(r["pid"], r["iid"]) for r in range_join(pts, iv, "x", "lo", "hi", 7.0).collect()}
    assert inner == {(1, 100), (1, 200), (2, 200)}
    left = {(r["pid"], r["iid"]) for r in range_join(pts, iv, "x", "lo", "hi", 7.0, how="left").collect()}
    assert left == inner | {(3, None)}

    big = spark.createDataFrame([(i, i % 2) for i in range(100)], "v long, k long")
    dim = spark.createDataFrame([(0, "even"), (1, "odd")], "k long, name string")
    plain = {(r["v"], r["name"]) for r in big.join(dim, "k").collect()}
    salted = {(r["v"], r["name"]) for r in salted_join(big, dim, ["k"], n_salts=8).collect()}
    assert salted == plain


@pytest.mark.slow
def test_ivf_high_recall_on_clustered_data(spark):
    """IVF's home turf: clustered corpus → probing the right lists
    recovers nearly all true neighbors."""
    import numpy as np

    from pythondataingestionprocess_spark.operators import ivf

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 32)) * 10
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, [float(x) for x in centers[c] + rng.standard_normal(32)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 8)

    centroids = ivf.kmeans_fit(df, k=8, max_iter=5)
    brute = sim.knn_bruteforce(df, queries, k=5).select("query_id", "neighbor_id")
    approx = ivf.ivf_search(df, queries, centroids, k=5, n_probe=2).select(
        "query_id", "neighbor_id"
    )
    n_true = brute.count()
    n_hit = brute.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    assert n_true == 40
    assert n_hit / n_true >= 0.9, f"IVF recall {n_hit / n_true}"


def test_ivf_recall_survives_id_sorted_clusters(spark):
    """Degenerate ordering regression: ids sorted
    BY cluster — the first k vectors by id all come from one true
    cluster, so a first-k-by-id seed would collapse k-means into one
    region and empty the other lists. The md5-spread init must keep
    recall high regardless of how ids correlate with the data."""
    import numpy as np

    from pythondataingestionprocess_spark.operators import ivf

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((8, 32)) * 10
    rows = []
    for i in range(400):
        c = i // 50  # ids 0-49 cluster 0, 50-99 cluster 1, ...
        rows.append((i, [float(x) for x in centers[c] + rng.standard_normal(32)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") % 50 == 0)  # one per cluster

    centroids = ivf.kmeans_fit(df, k=8, max_iter=5)
    brute = sim.knn_bruteforce(df, queries, k=5).select("query_id", "neighbor_id")
    approx = ivf.ivf_search(df, queries, centroids, k=5, n_probe=2).select(
        "query_id", "neighbor_id"
    )
    n_true = brute.count()
    n_hit = brute.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    assert n_true == 40
    assert n_hit / n_true >= 0.9, f"IVF recall {n_hit / n_true} on id-sorted clusters"


def test_ivf_assign_is_deterministic(spark):
    import numpy as np

    from pythondataingestionprocess_spark.operators import ivf

    rng = np.random.default_rng(5)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    c = ivf.kmeans_fit(df, k=4, max_iter=3)
    a1 = sorted((r["vec_id"], r["ivf_list"]) for r in ivf.ivf_assign(df, c).collect())
    a2 = sorted((r["vec_id"], r["ivf_list"]) for r in ivf.ivf_assign(df, c).collect())
    assert a1 == a2
    assert len({lst for _, lst in a1}) > 1  # actually partitions the space


def test_bucket_cap_pathological_cluster_bounded(spark):
    """A planted identical-content mega-cluster must
    complete with bounded per-row expansion (no gigarow collect_list),
    and the star expansion must preserve dedup connectivity — every
    cluster member reachable from the anchor at jaccard 1.0."""
    base = [
        (i, f"unique filler document number {i} with distinct trailing words {i * 7}")
        for i in range(50)
    ]
    clone_text = "exact same boilerplate page body repeated verbatim many times over"
    clones = [(1000 + i, clone_text) for i in range(400)]
    df = spark.createDataFrame(base + clones, schema="doc_id long, text string")
    pairs = dd.minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.5, bucket_cap=64
    )
    got = pairs.collect()
    anchor_pairs = {(r.id_a, r.id_b) for r in got if r.id_a == 1000}
    # star expansion: anchor 1000 links every other clone; all verify at 1.0
    assert anchor_pairs == {(1000, 1000 + i) for i in range(1, 400)}
    assert all(abs(r.jaccard - 1.0) < 1e-12 for r in got if r.id_a == 1000)
    # no spurious links into the unique docs
    assert not any(r.id_a < 1000 or r.id_b < 1000 for r in got)


def test_bucket_cap_does_not_change_normal_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    capped = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, bucket_cap=8
        ).collect()
    }
    uncapped = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, bucket_cap=10**9
        ).collect()
    }
    assert capped == uncapped


def test_greedy_packing_invariants(spark):
    """Greedy packer: no bin exceeds the budget unless a single doc
    does; docs stay in order; nothing is dropped or duplicated."""
    from pythondataingestionprocess_spark.operators.packing import (
        pack_documents_greedy,
    )

    rows = [("a", i, t) for i, t in enumerate([100, 300, 250, 50, 500, 700, 10, 90])]
    rows += [("b", 0, 900), ("b", 1, 150), ("b", 2, 40)]  # oversized first doc
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    out = pack_documents_greedy(df, "source", "doc_id", "n_tokens", 600).collect()
    assert len(out) == len(rows)  # nothing dropped
    by_bin: dict = {}
    for r in out:
        by_bin.setdefault((r.source, r.bin_id), []).append(r)
    for (_, _), members in by_bin.items():
        total = sum(m.n_tokens for m in members)
        assert total <= 600 or len(members) == 1  # oversized doc → own bin
    # order preserved: bin ids are monotone in doc_id per source
    for src in ("a", "b"):
        seq = [r.bin_id for r in sorted(out, key=lambda r: r.doc_id) if r.source == src]
        assert seq == sorted(seq)
    # greedy on source a: [100,300] | [250,50] … budget 600 →
    # 100+300 fits, +250 would overflow
    a_bins = {r.doc_id: r.bin_id for r in out if r.source == "a"}
    assert a_bins[0] == a_bins[1] == 0 and a_bins[2] == 1


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, C~D with no direct A~D must collapse to one group
    labeled by the min id; disjoint pairs stay separate."""
    from pythondataingestionprocess_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.group_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_star_long_chain(spark):
    """A 120-node path graph: plain min-label propagation would need
    ~120 rounds (diameter), the alternating star rounds converge in
    O(log²). All nodes must label to the chain's minimum."""
    from pythondataingestionprocess_spark.operators.components import (
        connected_components_star,
    )

    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(500, 501)], "id_a long, id_b long"
    )
    got = {r.id: r.group_id for r in connected_components_star(pairs).collect()}
    assert {got[i] for i in range(n)} == {0}
    assert got[500] == 500 and got[501] == 500
    assert len(got) == n + 2


def test_connected_components_star_matches_propagation(spark):
    """On the near-clique graphs dedup produces, both CC forms must
    emit identical labelings."""
    import random

    from pythondataingestionprocess_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(13)
    edges = set()
    for base in (0, 100, 200):  # three clusters of 8, near-clique
        members = [base + i for i in range(8)]
        for a in members:
            for b in members:
                if a < b and rng.random() < 0.6:
                    edges.add((a, b))
        # ensure connectivity even if the random clique is sparse
        for a, b in zip(members, members[1:]):
            edges.add((a, b))
    pairs = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    prop = {r.id: r.group_id for r in connected_components(pairs).collect()}
    star = {r.id: r.group_id for r in connected_components_star(pairs).collect()}
    assert prop == star
    assert set(prop.values()) == {0, 100, 200}


def test_fuzzy_self_join_complete_at_k1(spark):
    """Symmetric-delete blocking must find EVERY pair at distance ≤ 1
    (soundness of the delete-neighborhood intersection), and the exact
    verify must reject near-misses at distance 2."""
    from pythondataingestionprocess_spark.operators.fuzzyjoin import fuzzy_self_join

    rows = [
        (1, "spark engine"),
        (2, "spark enginz"),   # subst  -> dist 1 of id 1
        (3, "spark engin"),    # delete -> dist 1 of ids 1,2
        (4, "sparkle engine"),  # dist 2 of id 1 — must NOT pair with 1
        (5, "wholly different"),
    ]
    df = spark.createDataFrame(rows, "sid long, s string")
    got = {(r.id_a, r.id_b): r.edit_dist for r in fuzzy_self_join(df, "sid", "s").collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_fuzzy_self_join_cap_matches_duckdb_replay(spark):
    """Where the bucket cap BINDS, the Spark pipeline and the DuckDB
    oracle replay (plans/core_relational._FUZZY_JOIN_ORACLE's shape)
    must emit the IDENTICAL capped pair set — fuzzy_join_symdelete's
    oracle basis rests on this equivalence. Corpus:
    a 9-member identical-string group (over cap 8 → anchor-star) plus
    a small typo cluster (under cap → all-pairs)."""
    import duckdb

    from pythondataingestionprocess_spark.operators.fuzzyjoin import fuzzy_self_join

    rows = [(i, "omega relay") for i in range(1, 10)]  # 9 identical
    rows += [(20, "omega relaz"), (21, "omega relaz")]  # dist-1 typos
    rows += [(30, "unrelated words")]
    df = spark.createDataFrame(rows, "sid long, s string")
    cap = 8
    got = sorted(
        (r.id_a, r.id_b, r.edit_dist)
        for r in fuzzy_self_join(df, "sid", "s", bucket_cap=cap).collect()
    )
    # the 9-member group must NOT expand quadratically: anchor-star
    # only (8 pairs to sid 1), never the 36 all-pairs
    star = [(a, b) for a, b, _ in got if b <= 9]
    assert star == [(1, i) for i in range(2, 10)]
    con = duckdb.connect()
    con.execute("CREATE TABLE corpus(sid BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO corpus VALUES (?, ?)", rows)
    oracle = f"""
WITH nb AS (
  SELECT sid, unnest(list_distinct(list_prepend(s,
           list_transform(range(1, length(s) + 1),
             i -> substr(s, 1, i - 1) || substr(s, i + 1))))) AS bucket
  FROM corpus
),
bstat AS (SELECT bucket, COUNT(*) AS c, MIN(sid) AS anchor FROM nb GROUP BY 1),
cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.sid AS id_a, b.sid AS id_b
    FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.sid < b.sid
    JOIN bstat st ON st.bucket = a.bucket WHERE st.c <= {cap}
    UNION ALL
    SELECT st.anchor, nb.sid FROM nb JOIN bstat st ON st.bucket = nb.bucket
    WHERE st.c > {cap} AND nb.sid <> st.anchor
  )
)
SELECT c.id_a, c.id_b, CAST(levenshtein(ca.s, cb.s) AS INTEGER) AS edit_dist
FROM cand c JOIN corpus ca ON ca.sid = c.id_a JOIN corpus cb ON cb.sid = c.id_b
WHERE levenshtein(ca.s, cb.s) <= 1
"""
    want = sorted(map(tuple, con.sql(oracle).fetchall()))
    assert got == want


def test_resolve_roots_path_doubling(spark):
    """Deep chain (depth 64) resolves in O(log) rounds within the
    20-round cap, with exact depths; forest separation preserved."""
    from pythondataingestionprocess_spark.operators.hierarchy import resolve_roots

    chain = [(i, i - 1 if i > 0 else None) for i in range(65)]
    other = [(1000, None), (1001, 1000)]
    # 2001's parent 9999 does not exist: resolves to the dangling id
    # with the flag set; 2002 inherits the flag through the splice.
    dangling = [(2001, 9999), (2002, 2001)]
    df = spark.createDataFrame(chain + other + dangling, "id long, parent_id long")
    got = {
        r.id: (r.root_id, r.depth, r.dangling) for r in resolve_roots(df).collect()
    }
    assert got[0] == (0, 0, False)
    assert got[64] == (0, 64, False)
    assert got[32] == (0, 32, False)
    assert got[1001] == (1000, 1, False)
    assert got[2001] == (9999, 1, True)
    assert got[2002] == (9999, 2, True)


def test_hll_sketch_estimates_within_bounds(spark, sf_dir):
    """The tight ≤2% pin on the raw DataSketches estimates (the driver
    face exposes only the 5%-bound CERTIFICATE booleans, so the
    sharper bound stays pinned here) plus the face's own contract:
    every boolean true, exact counts exact, the ALL row present."""
    from pythondataingestionprocess_spark.plans import REGISTRY

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
        F.countDistinct("user_id").alias("exact"),
    ).collect()
    assert per_type
    for r in per_type:
        assert abs(r.est - r.exact) <= max(2, 0.02 * r.exact), r
    est_all = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")).collect()[0]["e"]
    exact_all = ev.select("user_id").distinct().count()
    assert abs(est_all - exact_all) <= max(2, 0.02 * exact_all)

    rows = REGISTRY["events_distinct_users_sketch"].fn(spark, sf_dir).collect()
    assert all(r.est_rel_err_le_0_05 for r in rows), rows
    (all_row,) = [r for r in rows if r.event_type == "ALL"]
    assert all_row.exact_users == exact_all
    got_types = {r.event_type: r.exact_users for r in rows if r.event_type != "ALL"}
    assert got_types == {r.event_type: r.exact for r in per_type}


def test_subsequence_match_finds_scaled_shifted_pattern(spark):
    """Z-normalized subsequence search: a 2x-amplified, +100-shifted
    copy of the query pattern planted in one user's series must win
    with distance ~0 (scale/shift invariance), at the right end
    position; a noise-only user must not beat it. Flat windows are
    excluded (std 0)."""
    from pythondataingestionprocess_spark.operators.timeseries import (
        subsequence_match,
    )

    pattern = [1.0, 3.0, 2.0, 5.0, 4.0]
    planted = [100 + 2 * x for x in pattern]  # shifted + scaled copy
    series_a = [7.0, 7.5, 6.0] + planted + [9.0, 8.0]   # match ends at idx 7
    series_b = [5.0, 5.0, 5.0, 5.0, 5.0, 1.0, 9.0, 1.0, 9.0, 1.0]  # noise+flat
    rows = [
        (1, f"2024-01-01 00:{i:02d}:00", i, v) for i, v in enumerate(series_a)
    ] + [
        (2, f"2024-01-01 00:{i:02d}:00", i, v) for i, v in enumerate(series_b)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    top = subsequence_match(df, pattern, k=3).collect()
    best = top[0]
    assert best["user_id"] == 1 and best["end_seq"] == 7
    assert best["dist"] < 1e-9
    assert all(r["dist"] >= best["dist"] for r in top)
    # the all-flat 5.0 window of user 2 (ends at seq 4) must be absent
    assert not any(r["user_id"] == 2 and r["end_seq"] == 4 for r in top)


def test_subsequence_match_single_shuffle_no_python(spark):
    """Plan contract for the subsequence search: ONE hash exchange
    (the per-key window partitioning), ONE Window node carrying the
    subsequence array and both moments (same frame — no second pass),
    a TakeOrderedAndProject top-k (k-sized, not a data-grain sort),
    and zero Python eval nodes."""
    from pythondataingestionprocess_spark.operators.timeseries import (
        subsequence_match,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    df = subsequence_match(ev, [1.0, 3.0, 2.0, 5.0, 4.0], k=10)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re as _re

    assert len(_re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert len(_re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_subsequence_match_matches_duckdb_oracle(spark):
    """Cross-engine parity for subsequence_match: the
    top-10 (user, position, dist) from subsequence_match equals a
    DuckDB list-window replay (dist rounded to 6 dp; the pattern's
    z-norm is hand-expanded in the SQL: mean 3, stddev_pop √2). This
    is the oracle an `events_pattern_match` registry entry would
    use."""
    import duckdb

    from pythondataingestionprocess_spark.operators.timeseries import (
        subsequence_match,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    got = [
        (r["user_id"], r["end_seq"], round(r["dist"], 6))
        for r in subsequence_match(ev, [1.0, 3.0, 2.0, 5.0, 4.0], k=10).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    oracle = con.execute(
        """
        WITH f AS (
          SELECT user_id, event_id AS end_seq,
                 list(value) OVER w AS win,
                 avg(value) OVER w AS mu,
                 stddev_pop(value) OVER w AS sd
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        )
        SELECT user_id, end_seq,
               sqrt(list_sum(list_transform(
                    list_zip(win, [1.0,3.0,2.0,5.0,4.0]),
                    z -> pow((z[1]-mu)/sd - (z[2]-3.0)/sqrt(2.0), 2)))) AS dist
        FROM f WHERE len(win)=5 AND sd > 0
        ORDER BY dist, user_id, end_seq LIMIT 10
        """
    ).fetchall()
    assert got == [(u, s, round(d, 6)) for u, s, d in oracle]


def test_decayed_feature_matches_python_recursion(spark):
    """The truncated windowed fold must equal the exact EWMA
    recursion s_t = v_t + a·s_{t-1} while the history fits the
    window, and stay within the a^m truncation bound beyond it.
    Interleaved keys confirm per-key isolation."""
    from pythondataingestionprocess_spark.operators.timeseries import (
        decayed_feature,
    )

    half_life, m = 4.0, 8
    a = 0.5 ** (1.0 / half_life)
    vals_u1 = [1.0, 0.0, 2.0, 5.0, 3.0, 0.5, 4.0, 1.5, 2.5, 0.25, 6.0, 1.0]
    vals_u2 = [10.0, 20.0, 30.0]
    rows = [
        (u, f"2024-01-01 00:{i:02d}:00", i, v)
        for u, series in ((1, vals_u1), (2, vals_u2))
        for i, v in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["user_id"], r["seq"]): r["decayed"]
        for r in decayed_feature(
            df, half_life_rows=half_life, window_rows=m
        ).collect()
    }

    for u, series in ((1, vals_u1), (2, vals_u2)):
        s = 0.0
        for i, v in enumerate(series):
            s = v + a * s  # exact recursion
            if i < m:
                assert got[(u, i)] == pytest.approx(s, abs=1e-12), (u, i)
            else:
                # truncation drops terms older than m rows: bounded by
                # a^m * max history prefix
                assert abs(got[(u, i)] - s) <= (a ** m) * sum(series) + 1e-9


def test_resample_interpolate_hourly_semantics(spark):
    """Grid points: exact-hit reproduces the observation, interior
    points linearly interpolate, points before the first / after the
    last observation back/forward-fill, and the grid spans
    hour-floor(min ts) .. hour-floor(max ts) per key."""
    from pythondataingestionprocess_spark.operators.timeseries import (
        resample_interpolate_hourly,
    )

    rows = [
        # user 1: obs at 00:30 (v=10) and 02:30 (v=30) → grid 00,01,02
        (1, "2024-01-01 00:30:00", 10.0),
        (1, "2024-01-01 02:30:00", 30.0),
        # user 2: single obs exactly on the hour → one grid point, exact
        (2, "2024-01-01 05:00:00", 7.0),
        # user 3: single obs OFF the hour → one backfill grid point at
        # hour-floor(ts) (regression fixture: a lead+explode form
        # emits zero rows for this key)
        (3, "2024-01-01 06:45:00", 3.5),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["user_id"], str(r["grid_ts"])): r["value"]
        for r in resample_interpolate_hourly(df).collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] == 10.0  # backfill before first obs
    # 01:00 sits 30/120 min between (00:30, 10) and (02:30, 30) → 15
    assert got[(1, "2024-01-01 01:00:00")] == pytest.approx(15.0, abs=1e-12)
    # 02:00 sits 90/120 min along → 25
    assert got[(1, "2024-01-01 02:00:00")] == pytest.approx(25.0, abs=1e-12)
    assert (1, "2024-01-01 03:00:00") not in got  # grid ends at hour-floor(max)
    assert got[(2, "2024-01-01 05:00:00")] == 7.0  # exact hit
    # lone off-hour obs: exactly one backfill row at hour-floor(ts)
    assert got[(3, "2024-01-01 06:00:00")] == 3.5
    assert (3, "2024-01-01 06:45:00") not in got
    assert (3, "2024-01-01 07:00:00") not in got
    assert len(got) == 5


def test_resample_interpolate_property_bounded_and_exact(spark):
    """Property sweep on a pseudo-random multi-user series: every
    interpolated grid value lies within [min, max] of its two
    neighboring observations (linear interp can't overshoot), every
    grid point coinciding with an observation reproduces it exactly,
    and per key the grid is exactly the hour-floor span."""
    import random

    from pythondataingestionprocess_spark.operators.timeseries import (
        resample_interpolate_hourly,
    )

    rng = random.Random(42)
    rows = []
    for u in (1, 2, 3):
        t = 0
        for _ in range(40):
            t += rng.randint(60, 7200)  # 1 min .. 2 h gaps
            rows.append(
                (u, f"2024-01-0{1 + t // 86400} "
                    f"{(t % 86400) // 3600:02d}:{(t % 3600) // 60:02d}:{t % 60:02d}",
                 round(rng.uniform(-50, 50), 3))
            )
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = resample_interpolate_hourly(df).collect()

    import bisect

    by_user = {}
    for u, ts, v in rows:
        by_user.setdefault(u, []).append((ts, v))
    for series in by_user.values():
        series.sort()
    n_grid_expected = 0
    for u, series in by_user.items():
        lo = series[0][0][:14] + "00:00"
        hi = series[-1][0][:14] + "00:00"
        n_hours = (
            (int(hi[8:10]) - int(lo[8:10])) * 24
            + int(hi[11:13]) - int(lo[11:13]) + 1
        )
        n_grid_expected += n_hours
    assert len(out) == n_grid_expected

    for r in out:
        u, gts, v = r["user_id"], str(r["grid_ts"]), r["value"]
        series = by_user[u]
        keys = [s for s, _ in series]
        i = bisect.bisect_right(keys, gts)
        neighbors = []
        if i > 0:
            neighbors.append(series[i - 1][1])
        if i < len(series):
            neighbors.append(series[i][1])
        assert min(neighbors) - 1e-9 <= v <= max(neighbors) + 1e-9, r
        if i > 0 and keys[i - 1] == gts:
            assert v == series[i - 1][1]


def test_block_dedup_retention_semantics(spark):
    """Planted-duplicate semantics for C4-style block dedup: a full
    copy of a doc keeps zero blocks; a doc sharing only its first
    block keeps the rest; the first-occurrence winner is the LOWEST
    (id, block_idx) — so the original always survives intact."""
    b1 = "w01 w02 w03 w04 w05 w06 w07 w08 w09 w10"
    b2 = "x01 x02 x03 x04 x05 x06 x07 x08 x09 x10"
    b3 = "y01 y02 y03 y04 y05 y06 y07 y08 y09 y10"
    rows = [
        (1, f"{b1} {b2}"),       # original: 2 blocks, keeps both
        (2, f"{b1} {b2}"),       # exact copy: keeps nothing
        (3, f"{b1} {b3}"),       # shares block 1 only: keeps b3
        (4, "short tail"),       # sub-block doc: 1 unique block
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_blocks"], r["n_kept"])
        for r in dd.block_dedup_retention(df, "doc_id", "text").collect()
    }
    assert got == {1: (2, 2), 2: (2, 0), 3: (2, 1), 4: (1, 1)}


def test_incremental_index_composes_store_across_deltas(spark, sf_dir, tmp_path):
    """Production shape of index maintenance, end-to-end: index state
    persisted in a ParquetTableStore; each delta batch of documents is
    indexed ALONE and merged into the stored state; the final state
    equals a from-scratch index over everything ingested. History docs
    are never re-read at refresh time."""
    from pythondataingestionprocess_spark.pipeline.store import ParquetTableStore
    from pythondataingestionprocess_spark.plans.corpus_ops import (
        _partial_index,
        _words,
        merge_index_states,
    )

    docs = load_table(spark, sf_dir, "documents")
    terms = _words(docs).select("doc_id", F.explode(F.col("ws")).alias("term"))
    store = ParquetTableStore(spark, str(tmp_path / "state"))
    batches = [terms.filter(F.pmod(F.col("doc_id"), 3) == i) for i in range(3)]

    store.overwrite("index", _partial_index(batches[0]))
    for delta in batches[1:]:
        merged = merge_index_states(
            store.read("index"), _partial_index(delta)
        ).localCheckpoint()  # materialize BEFORE overwriting the source file
        store.overwrite("index", merged)

    def canon(df):
        return {
            r["term"]: (r["df"], r["total_tf"], tuple(map(tuple, r["top"])))
            for r in df.collect()
        }

    got = canon(store.read("index"))
    want = canon(_partial_index(terms))
    assert got == want


def test_temperature_mix_invariants(spark, sf_dir):
    """α-sampling contract on the real corpus: expected post-mix size
    equals the input size (Σ rate·n_in == N up to rounding), realized
    n_out is within binomial noise of rate·n_in per lang, and rates
    are ANTI-monotone in n_in — rarer languages up-sample, dominant
    ones down-sample (the whole point of temperature rebalancing)."""
    from pythondataingestionprocess_spark.plans import REGISTRY

    rows = REGISTRY["corpus_temperature_mix"].fn(spark, sf_dir).collect()
    n_total = sum(r["n_in"] for r in rows)
    expected = sum(r["rate"] * r["n_in"] for r in rows)
    assert abs(expected - n_total) < 1e-3 * n_total
    for r in rows:
        mu = r["rate"] * r["n_in"]
        sd = max(1.0, (r["n_in"] * 0.25) ** 0.5)
        assert abs(r["n_out"] - mu) <= 6 * sd, (r["lang"], r["n_out"], mu)
    by_size = sorted(rows, key=lambda r: r["n_in"])
    rates = [r["rate"] for r in by_size]
    assert all(a >= b for a, b in zip(rates, rates[1:])), rates


def test_packing_null_token_fails_with_clear_message(spark):
    """A NULL token count must not die as an opaque int(NaN)
    ValueError deep in the pandas task: the error names the column and
    group."""
    from pythondataingestionprocess_spark.operators.packing import (
        pack_documents_greedy,
    )

    df = spark.createDataFrame(
        [("s", 1, 10), ("s", 2, None)],
        "source string, doc_id long, n_tokens long",
    )
    with pytest.raises(Exception, match="n_tokens contains NULL"):
        pack_documents_greedy(df, "source", "doc_id", "n_tokens", 100).collect()


def test_packing_tied_order_col_is_deterministic(spark):
    """Duplicate order_col values across shuffle-ordered input must not
    make bin assignment run-to-run nondeterministic; the
    (order_col, token_col) stable sort pins a total order (rows tying
    on both keys are column-identical, so the output multiset is
    fixed)."""
    from pythondataingestionprocess_spark.operators.packing import (
        pack_documents_greedy,
        shard_by_offset,
    )

    rows = [("s", 7, t) for t in (60, 50, 40, 30)] + [("s", 8, 90)]
    df = spark.createDataFrame(
        rows, "source string, doc_id long, n_tokens long"
    ).repartition(8)
    baseline = None
    for _ in range(3):
        got = sorted(
            (r["doc_id"], r["n_tokens"], r["bin_id"], r["bin_fill"])
            for r in pack_documents_greedy(
                df, "source", "doc_id", "n_tokens", 100
            ).collect()
        )
        shards = sorted(
            (r["doc_id"], r["n_tokens"], r["start_offset"])
            for r in shard_by_offset(
                df, "source", "doc_id", "n_tokens", 100
            ).collect()
        )
        if baseline is None:
            baseline = (got, shards)
        assert (got, shards) == baseline


def test_sequential_bpe_face_matches_oracle(spark, sf_dir):
    """The batched BPE face shares this oracle, so the SEQUENTIAL
    learner path (_bpe_merge_face(batched=False)) must
    still hash-match the DuckDB set-based replay."""
    import duckdb

    from pythondataingestionprocess_spark.plans.llm_ops import (
        _BPE_LEARN_ORACLE,
        _bpe_merge_face,
    )

    got = sorted(
        map(tuple, _bpe_merge_face(spark, sf_dir, batched=False).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(map(tuple, con.sql(_BPE_LEARN_ORACLE).fetchall()))
    assert got == want


def test_auto_lsh_bits_calibration():
    """The self-tuning depth rule: ceil(log2 n)+9 clamped to
    [12, 30] — pinned at the measured calibration points (22k → 24
    was the sf1 sweet spot; 220k → 27 measured at sf10) and at the
    int32 bucket-id ceiling."""
    from pythondataingestionprocess_spark.operators.dedup import auto_lsh_bits

    assert auto_lsh_bits(1) == 12
    assert auto_lsh_bits(8) == 12
    assert auto_lsh_bits(2200) == 21
    assert auto_lsh_bits(22000) == 24
    assert auto_lsh_bits(220000) == 27
    assert auto_lsh_bits(10**12) == 30  # clamped: int32 bucket ids


# ------------------------- replayable integer-Rademacher LSH


def test_rademacher_masks_pinned():
    """The md5 derivation is part of the face's oracle contract (the
    masks are inlined as literals in _COSINE_DUP_ORACLE) — pin three
    corners so a derivation change can't silently desynchronize the
    Spark plan from the SQL text."""
    m = sim.rademacher_masks(8, 30, 7)
    assert m[0][0] == 8745539433062548224
    assert m[0][1] == 606228660163895631
    assert m[7][29] == 8318247478224891782
    # bit 63 pinned zero: the inlined literal must never read negative
    # under SQL's arithmetic >> on signed 64-bit
    assert all(mask >= 0 and mask < (1 << 63) for row in m for mask in row)


def test_rademacher_buckets_match_duckdb_replay(spark, sf_dir):
    """Bucket assignment is bit-exact cross-engine: quantized integer
    dots make every intermediate an exactly-representable integer, so
    numpy GEMM (any blocking) and DuckDB's sequential list_sum agree
    to the last bit. This is the property that lets the cosine face's
    oracle replay the capped pipeline instead of trusting the cap."""
    import duckdb

    bits, n_tables, seed = 14, 4, 7
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.vec_id, r.table, r.bucket)
        for r in sim.rademacher_bucket_rows(
            emb, "vec_id", "embedding",
            bits_per_table=bits, n_tables=n_tables, seed=seed,
        ).collect()
    }
    masks = sim.rademacher_masks(n_tables, bits, seed)
    sql = f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
      FROM read_parquet('{sf_dir}/embeddings.parquet')
    ), masks(t, j, m) AS (
      VALUES {sim.rademacher_masks_sql_values(masks)}
    ), dots AS (
      SELECT q.vec_id, masks.t, masks.j,
             list_sum(list_transform(range(1, 65),
               i -> qv[i] * (CASE WHEN ((m >> (i - 1)) & 1) = 1
                             THEN 1 ELSE -1 END))) AS dot
      FROM q, masks
    )
    SELECT vec_id, t,
           CAST(SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << j)
                         ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id, t
    """
    want = {
        (int(v), int(t), int(b))
        for v, t, b in duckdb.connect().execute(sql).fetchall()
    }
    assert got == want


@pytest.mark.parametrize("sf_dir_case", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_cosine_capped_face_recall_equals_exact_scan(spark, sf_dir_case):
    """Recall certificate for the capped face basis: on the
    planted-dup corpus the capped Rademacher pipeline's output equals
    the exact O(n^2) cosine scan — the cap is enforced AND lossless
    here (dup-bearing buckets sit far under 64 members at auto bit
    depths). The driver oracle replays the capped pipeline; THIS test
    is what keeps that replay honest about recall."""
    import duckdb

    from pythondataingestionprocess_spark.plans import REGISTRY

    got = {
        (r.id_a, r.id_b)
        for r in REGISTRY["dedup_embedding_cosine"]
        .fn(spark, sf_dir_case)
        .collect()
    }
    exact_sql = f"""
    WITH corpus AS (
      SELECT vec_id, embedding
      FROM read_parquet('{sf_dir_case}/embeddings.parquet')
      UNION ALL
      SELECT vec_id + 1000000000000, embedding
      FROM read_parquet('{sf_dir_case}/embeddings.parquet') WHERE vec_id % 10 = 0
    ), v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
      FROM corpus
    )
    SELECT a.vec_id, b.vec_id
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.e, b.e), z -> z[1] * z[2]))
        / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
           * sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.99
    """
    want = {(int(a), int(b)) for a, b in duckdb.connect().execute(exact_sql).fetchall()}
    assert got == want and len(got) > 0
