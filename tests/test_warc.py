"""WARC/WET source (sources/warc_lite.py): spec-built fixtures (ISO
28500 record framing, Common Crawl's gzip-member-per-record layout),
pure-Python parser unit coverage, per-record quarantine + resync, the
Spark DataSource end-to-end (one task per file), and the
wet_to_documents bridge into the engine's documents shape."""

from __future__ import annotations

import gzip
import struct
import zlib

import pytest
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.sources import warc_lite as wl


def _record(
    body: bytes,
    rec_type: str = "conversion",
    uri: str = "https://example.com/page",
    rid: str = "<urn:uuid:0001>",
    ctype: str = "text/plain",
    version: str = "WARC/1.0",
) -> bytes:
    head = (
        f"{version}\r\n"
        f"WARC-Type: {rec_type}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        f"WARC-Record-ID: {rid}\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n"
        "\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


WARCINFO = _record(
    b"software: test\r\n", rec_type="warcinfo", ctype="application/warc-fields",
    rid="<urn:uuid:0000>", uri="https://example.com/",
)


def test_parse_plain_records():
    buf = WARCINFO + _record("hola mundo é".encode()) + _record(
        b"\x89PNG\r\n\x1a\n...", rec_type="response",
        ctype="application/http", rid="<urn:uuid:0002>",
    )
    recs = list(wl.iter_records(buf))
    assert [r["decode_status"] for r in recs] == ["ok"] * 3
    assert [r["warc_type"] for r in recs] == ["warcinfo", "conversion", "response"]
    # warc-fields is text/* -> no; application/warc-fields goes binary
    assert recs[0]["text"] is None and recs[0]["payload"] == b"software: test\r\n"
    assert recs[1]["text"] == "hola mundo é" and recs[1]["payload"] is None
    assert recs[2]["payload"].startswith(b"\x89PNG")
    assert recs[1]["content_length"] == len("hola mundo é".encode())


def test_warc_11_version_accepted():
    recs = list(wl.iter_records(_record(b"x", version="WARC/1.1")))
    assert [r["decode_status"] for r in recs] == ["ok"]


def test_gzip_member_per_record():
    data = b"".join(
        gzip.compress(r)
        for r in (WARCINFO, _record(b"doc one"), _record(b"doc two", rid="<urn:uuid:0002>"))
    )
    recs = list(wl.parse_warc_bytes(data))
    assert [r["decode_status"] for r in recs] == ["ok"] * 3
    assert [r["text"] for r in recs[1:]] == ["doc one", "doc two"]


def test_malformed_record_quarantines_and_resyncs():
    good = _record(b"fine")
    bad_len = good.replace(b"Content-Length: 4", b"Content-Length: zz")
    truncated = _record(b"x" * 100)[:-60]
    buf = bad_len + _record(b"survivor", rid="<urn:uuid:0009>") + truncated
    recs = list(wl.iter_records(buf))
    statuses = [r["decode_status"] for r in recs]
    assert statuses[0].startswith("quarantine:bad Content-Length")
    assert statuses[1] == "ok" and recs[1]["text"] == "survivor"
    assert statuses[2].startswith("quarantine:content block truncated")
    assert len(recs) == 3


def test_missing_content_length_and_garbage_between_records():
    no_len = (
        b"WARC/1.0\r\nWARC-Type: conversion\r\n\r\n"  # no Content-Length
    )
    buf = no_len + b"random junk bytes " + _record(b"alive")
    recs = list(wl.iter_records(buf))
    assert recs[0]["decode_status"] == "quarantine:missing Content-Length"
    assert recs[1]["decode_status"] == "ok" and recs[1]["text"] == "alive"


def test_corrupt_gzip_tail_quarantines():
    data = gzip.compress(_record(b"ok before the rot")) + b"\x00\x01\x02"
    recs = list(wl.parse_warc_bytes(data))
    assert recs[0]["decode_status"] == "ok"
    assert recs[1]["decode_status"].startswith("quarantine:")


def test_corrupt_gzip_member_midfile_resyncs_to_later_members():
    """A corrupt MEMBER between two good ones must quarantine and
    resync — never silently drop the rest of the segment (one record
    per member means member corruption IS the per-record case)."""
    good_a = gzip.compress(_record(b"before", rid="<urn:uuid:a>"))
    corrupt = bytearray(gzip.compress(_record(b"x" * 500, rid="<urn:uuid:bad>")))
    corrupt[20:40] = b"\x00" * 20  # rot the deflate stream, keep the magic
    good_c = gzip.compress(_record(b"after", rid="<urn:uuid:c>"))
    recs = list(wl.parse_warc_bytes(good_a + bytes(corrupt) + good_c))
    texts = [r["text"] for r in recs if r["decode_status"] == "ok"]
    assert texts == ["before", "after"], "survivors on both sides"
    assert any(
        r["decode_status"].startswith("quarantine:gzip") for r in recs
    ), "the corrupt member is accounted for"


def test_gzip_members_chunked_feed_is_linear():
    """Total bytes fed to the decompressor must be <= ~2x the file
    size regardless of member count — each member's unused_data
    carries forward as the next member's first feed instead of
    re-slicing the tail (re-slicing pays ~2 x _GZ_CHUNK per member,
    or O(members x file) without a carry)."""
    # pathological: ~170-byte members, way under the 1 KiB feed floor
    n = 200
    data = b"".join(
        gzip.compress(_record(f"doc {i}".encode(), rid=f"<urn:uuid:{i}>"))
        for i in range(n)
    )
    before = wl._GZ_FEED_STATS["fed"]
    recs = list(wl.parse_warc_bytes(data))
    fed = wl._GZ_FEED_STATS["fed"] - before
    assert [r["text"] for r in recs] == [f"doc {i}" for i in range(n)]
    # floor-dominated worst case: ~n x (member + floor) — about 8x for
    # these tiny members, vs ~100x for the re-slice-the-tail bug
    assert fed <= len(data) + n * (2 * wl._GZ_FEED_FLOOR), (
        f"fed {fed} bytes for a {len(data)}-byte file — superlinear feed"
    )

    # realistic: ~3 KiB compressed members (CC scale) — the adaptive
    # guess tracks member size, amplification stays a small constant
    import os as _os

    blob = _os.urandom(6000)  # incompressible -> ~6 KB member
    n2 = 60
    data2 = b"".join(
        gzip.compress(_record(blob, rid=f"<urn:uuid:r{i}>", ctype="application/octet-stream"))
        for i in range(n2)
    )
    before = wl._GZ_FEED_STATS["fed"]
    recs2 = list(wl.parse_warc_bytes(data2))
    fed2 = wl._GZ_FEED_STATS["fed"] - before
    assert sum(r["decode_status"] == "ok" for r in recs2) == n2
    assert fed2 <= 4 * len(data2), (
        f"fed {fed2} for {len(data2)} bytes — adaptive guess not tracking"
    )

    # straddle case (1687x without the guess rewind): one LARGE member
    # ramps the guess up, then a long run of tiny members — cost must
    # be ~one stale-guess window plus the floor-dominated tiny-member
    # term, never window^2/member
    big = gzip.compress(
        _record(_os.urandom(700_000), rid="<urn:uuid:big>",
                ctype="application/octet-stream")
    )
    n3 = 3000
    tiny = b"".join(
        gzip.compress(_record(f"t {i}".encode(), rid=f"<urn:uuid:t{i}>"))
        for i in range(n3)
    )
    data3 = big + tiny
    before = wl._GZ_FEED_STATS["fed"]
    recs3 = list(wl.parse_warc_bytes(data3))
    fed3 = wl._GZ_FEED_STATS["fed"] - before
    assert sum(r["decode_status"] == "ok" for r in recs3) == n3 + 1
    bound = 2 * len(data3) + wl._GZ_CHUNK + n3 * 2 * wl._GZ_FEED_FLOOR
    assert fed3 <= bound, (
        f"fed {fed3} for {len(data3)} bytes ({fed3 / len(data3):.0f}x) — "
        "stale-guess straddle is quadratic again"
    )

    # small->LARGE transition: the feed grows geometrically WITHIN a
    # member, so a big member after tiny ones takes O(log(member/floor))
    # decompress calls, not member/floor
    data4 = tiny + big
    before = wl._GZ_FEED_STATS["calls"]
    recs4 = list(wl.parse_warc_bytes(data4))
    calls = wl._GZ_FEED_STATS["calls"] - before
    assert sum(r["decode_status"] == "ok" for r in recs4) == n3 + 1
    # ~1 call per tiny member + ~log2(700KB/1KB)=10 for the big one;
    # the frozen-guess bug needed ~700 calls for the big member alone
    assert calls <= 2 * n3 + 40, f"{calls} decompress calls — feed not growing"


def test_folded_header_lines_parse():
    """ISO 28500 allows header values to fold onto SP/TAB continuation
    lines — the folded URI must reassemble and the record must NOT
    quarantine."""
    body = b"folded ok"
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: https://example.com/very/\r\n"
        "\tlong/path\r\n"
        "WARC-Record-ID: <urn:uuid:f1>\r\n"
        "Content-Type: text/plain\r\n"
        f"Content-Length: {len(body)}\r\n"
        "\r\n"
    ).encode()
    recs = list(wl.iter_records(head + body + b"\r\n\r\n"))
    assert recs[0]["decode_status"] == "ok"
    assert recs[0]["target_uri"] == "https://example.com/very/ long/path"
    assert recs[0]["text"] == "folded ok"
    # continuation before ANY header is still malformed
    bad = b"WARC/1.0\r\n \x20oops\r\n\r\n"
    got = list(wl.iter_records(bad))
    assert got[0]["decode_status"].startswith("quarantine:continuation")


def test_empty_glob_reads_zero_rows(spark, tmp_path):
    """Spark plans one None partition for an empty listing — the
    reader must yield 0 rows, not crash."""
    empty = tmp_path / "nothing"
    empty.mkdir()
    wl.register(spark)
    assert spark.read.format("warc").load(str(empty)).count() == 0
    # same latent pattern in the statement text source
    from pythondataingestionprocess_spark.sources import datasource

    datasource.register(spark)
    assert spark.read.format("stmt_text").load(str(empty)).count() == 0


def test_replay_validates_start_edge(tmp_path):
    """A rename that keeps the END position intact but shifts the
    replay slice must fail loud."""
    import os

    d = str(tmp_path / "landing3")
    os.makedirs(d)
    for name, text in [("a.warc", b"one"), ("b.warc", b"two"), ("c.warc", b"three")]:
        open(os.path.join(d, name), "wb").write(_record(text))
    r = wl.WarcStreamReader({"path": d})
    _, off1 = r.read(r.initialOffset())  # consumes a,b,c... use slices
    start = {"n": 1, "last": os.path.join(d, "a.warc")}
    end = {"n": 3, "last": os.path.join(d, "c.warc")}
    assert [t[7] for t in r.readBetweenOffsets(start, end)] == ["two", "three"]
    os.rename(os.path.join(d, "a.warc"), os.path.join(d, "bb.warc"))
    with pytest.raises(RuntimeError, match="append-only"):
        list(r.readBetweenOffsets(start, end))


def test_datasource_end_to_end(spark, tmp_path):
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg-00000.warc.gz").write_bytes(
        b"".join(
            gzip.compress(r)
            for r in (
                WARCINFO,
                _record(b"first doc text", rid="<urn:uuid:0101>",
                        uri="https://a.example.com/x"),
                _record(b"second doc text", rid="<urn:uuid:0102>",
                        uri="https://b.example.org/y"),
            )
        )
    )
    (d / "seg-00001.warc").write_bytes(
        _record(b"plain-file doc", rid="<urn:uuid:0201>", uri="ftp://c.example.net/z")
        + _record(b"oops", rid="<urn:uuid:0202>").replace(b"WARC/1.0", b"WARC/9.9")
    )
    df = wl.read_warc(spark, str(d))
    assert df.rdd.getNumPartitions() == 2  # one file per task
    rows = df.collect()
    assert len(rows) == 5
    by_status = {r["record_id"]: r["decode_status"] for r in rows}
    assert by_status["<urn:uuid:0101>"] == "ok"
    assert sum(s.startswith("quarantine:") for s in by_status.values()) == 1

    docs = wl.wet_to_documents(df).orderBy("source").collect()
    assert [r["source"] for r in docs] == [
        "a.example.com", "b.example.org", "c.example.net",
    ]
    assert all(r["doc_id"] is not None for r in docs)
    # composes with the text family downstream
    from pythondataingestionprocess_spark.functions import text as tx

    counts = (
        wl.wet_to_documents(df)
        .select(tx.token_count("text").alias("n"))
        .agg(F.sum("n").alias("t"))
        .collect()
    )
    assert counts[0]["t"] == 8  # 3 + 3 + 2 whitespace tokens


def test_stream_reader_offsets_pure():
    """Offset logic without Spark: append-only consumption, replay
    determinism, and fail-loud on a mutated listing."""
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        r = wl.WarcStreamReader({"path": d})
        assert r.initialOffset() == {"n": 0, "last": ""}
        rows, end = r.read({"n": 0, "last": ""})
        assert list(rows) == [] and end == {"n": 0, "last": ""}

        p1 = os.path.join(d, "seg-00000.warc")
        open(p1, "wb").write(_record(b"one"))
        rows, end = r.read({"n": 0, "last": ""})
        assert [t[7] for t in rows] == ["one"] and end == {"n": 1, "last": p1}

        p2 = os.path.join(d, "seg-00001.warc")
        open(p2, "wb").write(_record(b"two", rid="<urn:uuid:2>"))
        rows, end2 = r.read(end)
        assert [t[7] for t in rows] == ["two"] and end2["n"] == 2

        # deterministic replay of the checkpointed batch
        replay = list(r.readBetweenOffsets(end, end2))
        assert [t[7] for t in replay] == ["two"]

        # a renamed/removed earlier file breaks the append-only
        # contract -> fail loud, never silently skip or re-read
        os.rename(p1, os.path.join(d, "zzz-renamed.warc"))
        with pytest.raises(RuntimeError, match="append-only"):
            r.read(end2)


def test_stream_reader_max_files_per_trigger():
    """The per-batch file cap bounds micro-batch memory: a backlog
    drains across successive read() calls, never in one giant batch."""
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        for i in range(5):
            open(os.path.join(d, f"seg-{i:05d}.warc"), "wb").write(
                _record(f"doc {i}".encode(), rid=f"<urn:uuid:{i}>")
            )
        r = wl.WarcStreamReader({"path": d, "maxFilesPerTrigger": "2"})
        rows, off1 = r.read(r.initialOffset())
        assert [t[7] for t in rows] == ["doc 0", "doc 1"] and off1["n"] == 2
        rows, off2 = r.read(off1)
        assert [t[7] for t in rows] == ["doc 2", "doc 3"] and off2["n"] == 4
        rows, off3 = r.read(off2)
        assert [t[7] for t in rows] == ["doc 4"] and off3["n"] == 5
        rows, off4 = r.read(off3)
        assert rows == [] and off4 == off3

        with pytest.raises(ValueError, match="maxFilesPerTrigger"):
            wl.WarcStreamReader({"path": d, "maxFilesPerTrigger": "0"})


def test_stream_backlog_and_cap_under_available_now(spark, tmp_path):
    """availableNow semantics pinned: UNCAPPED (default) a 3-file
    backlog drains in one run; with maxFilesPerTrigger=1 the Python
    simple-stream runner executes exactly one prefetched batch per
    run (the documented interaction), so each run ingests one file
    and the checkpoint resumes where the last left off."""
    inbox = tmp_path / "landing2"
    inbox.mkdir()
    for i in range(3):
        (inbox / f"seg-{i:05d}.warc").write_bytes(
            _record(f"bulk {i}".encode(), rid=f"<urn:uuid:b{i}>")
        )
    wl.register(spark)

    def run(out, ckpt, **opts):
        reader = spark.readStream.format("warc")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(str(inbox))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(90)

    out_a = str(tmp_path / "out_a")
    run(out_a, str(tmp_path / "ckpt_a"))
    got = sorted(r["text"] for r in spark.read.parquet(out_a).collect())
    assert got == ["bulk 0", "bulk 1", "bulk 2"]  # uncapped: one run drains

    out_b = str(tmp_path / "out_b")
    ckpt_b = str(tmp_path / "ckpt_b")
    run(out_b, ckpt_b, maxFilesPerTrigger="1")
    got = sorted(r["text"] for r in spark.read.parquet(out_b).collect())
    assert got == ["bulk 0"]  # capped availableNow: one batch per run
    run(out_b, ckpt_b, maxFilesPerTrigger="1")
    got = sorted(r["text"] for r in spark.read.parquet(out_b).collect())
    assert got == ["bulk 0", "bulk 1"]  # next run resumes, no dupes


def test_stream_exactly_once_across_restart(spark, tmp_path):
    """readStream.format('warc'): two availableNow runs over one
    checkpoint — the second run picks up ONLY the file that arrived
    between runs (offset restore), no dupes in the parquet sink."""
    inbox = tmp_path / "landing"
    inbox.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (inbox / "seg-00000.warc.gz").write_bytes(
        gzip.compress(_record(b"first", rid="<urn:uuid:1>"))
    )
    wl.register(spark)

    def run_once():
        q = (
            spark.readStream.format("warc")
            .load(str(inbox))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run_once()
    assert {r["text"] for r in spark.read.parquet(out).collect()} == {"first"}

    (inbox / "seg-00001.warc.gz").write_bytes(
        gzip.compress(_record(b"second", rid="<urn:uuid:2>"))
    )
    run_once()
    got = [r["text"] for r in spark.read.parquet(out).collect()]
    assert sorted(got) == ["first", "second"]  # no re-delivery of 'first'


def test_wet_corpus_build_composition(spark, tmp_path):
    """The WARC front-end composes with the corpus-build stages: WET
    segments → wet_to_documents → exact dedup (cross-file duplicate
    collapses to the lowest doc_id) → token-budget sharding, all on the
    documents shape the registered pipeline uses."""
    d = tmp_path / "wets"
    d.mkdir()
    dup = b"repeated article body with several tokens"
    (d / "seg-00000.warc.gz").write_bytes(
        gzip.compress(_record(dup, rid="<urn:uuid:d1>", uri="https://a.x/1"))
        + gzip.compress(
            _record(b"unique one here", rid="<urn:uuid:u1>", uri="https://a.x/2")
        )
    )
    (d / "seg-00001.warc.gz").write_bytes(
        gzip.compress(_record(dup, rid="<urn:uuid:d2>", uri="https://b.y/1"))
        + gzip.compress(
            _record(b"another unique text", rid="<urn:uuid:u2>", uri="https://b.y/2")
        )
    )
    from pythondataingestionprocess_spark.functions import text as tx
    from pythondataingestionprocess_spark.operators.dedup import fingerprint_dedup
    from pythondataingestionprocess_spark.operators.packing import shard_by_offset

    docs = wl.wet_to_documents(wl.read_warc(spark, str(d)))
    assert docs.count() == 4
    survivors = fingerprint_dedup(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    ).join(docs.select("doc_id", "source", "text"), "doc_id")
    assert survivors.count() == 3  # the cross-file duplicate collapsed
    # the winner is deterministic: min doc_id of the duplicate pair
    dup_ids = sorted(
        r["doc_id"]
        for r in docs.filter(F.col("text") == dup.decode()).collect()
    )
    kept_ids = {r["doc_id"] for r in survivors.collect()}
    assert dup_ids[0] in kept_ids and dup_ids[1] not in kept_ids

    sharded = shard_by_offset(
        survivors.select(
            "source", "doc_id", tx.token_count("text").alias("n_toks")
        ),
        "source", "doc_id", "n_toks", budget=4,
    )
    got = {(r["source"], r["shard_id"]) for r in sharded.collect()}
    assert len(got) >= 3 and all(s >= 0 for _, s in got)


def test_warc_binary_payload_flows_into_multimodal_decode(spark, tmp_path):
    """Cross-family composition: a WARC response record carrying a
    real BMP routes its payload bytes into the multimodal REAL decode
    path — width/height/mean_intensity come out of the actual pixels,
    and the text record in the same segment stays on the text path."""
    from pythondataingestionprocess_spark.multimodal import synth
    from pythondataingestionprocess_spark.multimodal.media import decode_media

    bmp = synth.bmp_rle8(4, 4, 100)
    d = tmp_path / "crawl2"
    d.mkdir()
    (d / "seg-00000.warc.gz").write_bytes(
        gzip.compress(_record(b"plain text doc", rid="<urn:uuid:t1>"))
        + gzip.compress(
            _record(bmp, rec_type="response", ctype="image/bmp",
                    rid="<urn:uuid:p1>", uri="https://img.example/x.bmp")
        )
    )
    recs = wl.read_warc(spark, str(d))
    media = recs.filter(F.col("payload").isNotNull()).select(
        F.xxhash64("record_id").alias("id"),
        F.col("content_type").alias("media_type"),
        F.col("payload").alias("content"),
    )
    got = decode_media(media, use_fake=False).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["width"], r["height"]) == (4, 4)
    assert r["mean_intensity"] == pytest.approx(100.0 / 255.0)
    assert r["byte_len"] == len(bmp)
    # the text record is untouched by the binary path
    assert recs.filter(F.col("text").isNotNull()).count() == 1


def _crc(data: bytes, poly: int, width: int) -> int:
    """MSB-first CRC with zero init (FLAC's CRC-8 and CRC-16)."""
    crc, top, mask = 0, 1 << (width - 1), (1 << width) - 1
    for b in data:
        crc ^= b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly if crc & top else crc << 1) & mask
    return crc


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _removed_format_blobs() -> list[tuple[str, bytes]]:
    """One small, well-formed file per media family real_decode does not
    decode: each parses cleanly with a decoder for its format, so only
    the missing decoder makes it a quarantine row."""
    def png_chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    jpeg = (  # SOI, 1x1 grayscale baseline SOF0, EOI
        b"\xff\xd8\xff\xc0" + struct.pack(">HBHHB", 11, 8, 1, 1, 1)
        + bytes(3) + b"\xff\xd9"
    )
    pcm = struct.pack(">4h", 1000, -1000, 500, -500)  # big-endian PCM16
    # FLAC: STREAMINFO (8 kHz, mono, 16-bit, 64 samples), then one
    # frame holding a CONSTANT subframe, each header CRC-checked
    flac = (b"fLaC\x80" + (34).to_bytes(3, "big")
            + struct.pack(">HH6x", 16, 65535)
            + ((8000 << 44) | (15 << 36) | 64).to_bytes(8, "big")
            + bytes(16))
    head = b"\xff\xf8\x60\x00\x00\x3f"  # block 64, rate/bps from STREAMINFO
    frame = head + bytes([_crc(head, 0x07, 8)]) + b"\x00" + struct.pack(">h", -1000)
    flac += frame + _crc(frame, 0x8005, 16).to_bytes(2, "big")
    comm = struct.pack(">hIh", 1, 4, 16) + struct.pack(">HQ", 0x400B, 8000 << 51)
    ssnd = struct.pack(">II", 0, 0) + pcm
    aiff = b"AIFF" + b"".join(
        ck + struct.pack(">I", len(body)) + body
        for ck, body in ((b"COMM", comm), (b"SSND", ssnd)))
    aiff = b"FORM" + struct.pack(">I", len(aiff)) + aiff

    def ogg_page(payload, granule, header_type, seq):
        return (b"OggS\x00" + bytes([header_type])
                + struct.pack("<QIII", granule, 3, seq, 0)
                + bytes([1, len(payload)]) + payload)

    opus_head = b"OpusHead\x01\x02" + struct.pack("<HIhB", 312, 44100, 0, 0)
    mp3_frame = b"\xff\xfb\x90\x00" + bytes(413)  # MPEG1 L3, 128 kbps, 44.1 kHz
    adts_frame = b"\xff\xf1\x50\x80\x0d\x7f\xfc" + bytes(100)  # AAC LC, 44.1 kHz
    full = bytes(4)  # version 0, flags 0
    avif = _box(b"ftyp", b"avif" + bytes(4) + b"mif1avif") + _box(b"meta", full + (
        _box(b"hdlr", full + bytes(4) + b"pict" + bytes(12))
        + _box(b"pitm", full + struct.pack(">H", 1))
        + _box(b"iinf", full + struct.pack(">H", 1) + _box(
            b"infe", b"\x02\x00\x00\x00" + struct.pack(">HH", 1, 0) + b"av01\x00"))
        + _box(b"iprp", _box(b"ipco", _box(b"ispe", full + struct.pack(">II", 320, 200)))
               + _box(b"ipma", full + struct.pack(">IHBB", 1, 1, 1, 1)))))
    return [
        ("image/png", b"\x89PNG\r\n\x1a\n"
         + png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0))
         + png_chunk(b"IDAT", zlib.compress(b"\x00\x80"))
         + png_chunk(b"IEND", b"")),
        ("image/jpeg", jpeg),
        ("image/webp", b"RIFF\x1a\x00\x00\x00WEBPVP8L\x0d\x00\x00\x00"
         b"\x2f\x00\x00\x00\x10\x07\x10\x11\x11\x88\x88\xfe\x07\x00"),
        ("image/qoi", b"qoif" + struct.pack(">IIBB", 1, 1, 3, 0)
         + b"\xfe\x80\x80\x80" + bytes(7) + b"\x01"),
        ("video/mjpeg", jpeg * 2),
        # the canonical 43-byte 1x1 transparent GIF89a
        ("image/gif", bytes.fromhex(
            "47494638396101000100800000000000ffffff21f9040100000000"
            "2c00000000010001000002024401003b")),
        ("audio/flac", flac),
        ("audio/aiff", aiff),
        ("audio/basic", b".snd" + struct.pack(">5I", 24, len(pcm), 3, 8000, 1) + pcm),
        ("audio/ogg", ogg_page(opus_head, 0, 2, 0)
         + ogg_page(bytes(10), 480312, 4, 1)),
        ("audio/mpeg", mp3_frame * 3),
        ("audio/aac", adts_frame * 2),
        ("image/avif", avif),
    ]


def test_decode_media_quarantines_unsupported_rows(spark, tmp_path):
    """Real crawls carry application/http response payloads and media
    types the engine does not decode — those rows must come back
    NULL-stats (byte_len real), never crash the Arrow batch task; and
    the fake decoder must agree with the real one on MIME-typed rows
    (both normalize the major type themselves)."""
    from pythondataingestionprocess_spark.multimodal import synth
    from pythondataingestionprocess_spark.multimodal.media import decode_media

    bmp = synth.bmp_rle8(4, 4, 60)
    rows = [
        (1, "image/bmp", bytearray(bmp)),
        (2, "application/http; msgtype=response", bytearray(b"HTTP/1.1 200 OK\r\n\r\nhi")),
        # GIF junk is an unsupported image format (ValueError)
        (3, "image/gif", bytearray(b"GIF89a junk")),
        # non-ValueError escapes must quarantine, not crash: a BMP cut
        # inside its info header raises struct.error from bmp_lite.
        # ID3-prefixed junk and junk RIFF both fail the stdlib wave
        # reader and then wav_lite, which raises ValueError.
        (4, "image/bmp", bytearray(bmp[:40])),
        (5, "audio/mpeg", bytearray(b"ID3\x04\x00junk-not-a-wav")),
        (6, "audio/wav", bytearray(b"RIFFjunk-not-a-wav")),
    ]
    # formats real_decode does not decode: each is a quarantine row,
    # however well-formed its payload
    rows += [
        (len(rows) + i, mt, bytearray(blob))
        for i, (mt, blob) in enumerate(_removed_format_blobs(), start=1)
    ]
    df = spark.createDataFrame(rows, "id long, media_type string, content binary")
    real = {r["id"]: r for r in decode_media(df, use_fake=False).collect()}
    assert real[1]["mean_intensity"] == pytest.approx(60.0 / 255.0)
    assert real[1]["decode_status"] == "ok"
    for bad in range(2, len(rows) + 1):
        assert real[bad]["byte_len"] == len(rows[bad - 1][2])
        assert real[bad]["width"] is None
        assert real[bad]["mean_intensity"] is None
        assert real[bad]["decode_status"].startswith("quarantine:"), bad
    # the reason string distinguishes data problems by exception type
    assert real[4]["decode_status"] == "quarantine:error"  # struct.error
    assert real[5]["decode_status"] == "quarantine:ValueError"  # wav_lite
    assert real[6]["decode_status"] == "quarantine:ValueError"  # wav_lite
    # an unsupported format is refused by real_decode (image), wav_lite
    # (audio) or mp4_lite (video) with ValueError, not a parser crash
    for removed in range(7, len(rows) + 1):
        assert real[removed]["decode_status"] == "quarantine:ValueError", removed
    # fake decoder sees the same normalized major type: an image/bmp
    # row is image-shaped (n_frames == 1), not video-shaped
    fake = {r["id"]: r for r in decode_media(df, use_fake=True).collect()}
    assert fake[1]["n_frames"] == 1


def test_wet_to_documents_unknown_source(spark):
    df = spark.createDataFrame(
        [("ok", "conversion", "<urn:uuid:1>", "not a uri", "hello")],
        "decode_status string, warc_type string, record_id string, "
        "target_uri string, text string",
    )
    got = wl.wet_to_documents(df).collect()
    assert got[0]["source"] == "unknown"
