"""mp4_lite (ISO-BMFF container boxes): real metadata without any codec
library, failing loudly on junk (the quarantine discipline), the
sample-table walk to the first video frame, and first-frame stats for
uncompressed video — wired through real_decode and the Arrow decode
plumbing; and the per-row quarantine of every media family real_decode
does not decode."""

from __future__ import annotations

import struct
import zlib

import pytest

from pythondataingestionprocess_spark.multimodal import media, mp4_lite, synth


# ----------------------------------------------------------------- MP4

def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _fullbox(btype: bytes, body: bytes, version=0) -> bytes:
    return _box(btype, bytes([version, 0, 0, 0]) + body)


def _mp4(timescale=1000, duration=90_000, video=True, n_samples=2700,
         width=1280, height=720, compact_sizes=False):
    tracks = b""
    if video:
        tkhd = _fullbox(
            b"tkhd",
            bytes(4 * 19) + struct.pack(">II", width << 16, height << 16),
        )
        hdlr = _fullbox(b"hdlr", bytes(4) + b"vide" + bytes(12) + b"h\x00")
        if compact_sizes:
            # stz2: 24-bit reserved + 8-bit field_size, then count
            stsz = _fullbox(
                b"stz2",
                struct.pack(">I", 8) + struct.pack(">I", n_samples)
                + bytes(n_samples),  # field_size=8 -> 1 byte/sample
            )
        else:
            stsz = _fullbox(b"stsz", struct.pack(">II", 0, n_samples))
        stbl = _box(b"stbl", stsz)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", hdlr + minf)
        tracks += _box(b"trak", tkhd + mdia)
    hdlr_a = _fullbox(b"hdlr", bytes(4) + b"soun" + bytes(12) + b"a\x00")
    tracks += _box(b"trak", _box(b"mdia", hdlr_a))
    mvhd = _fullbox(
        b"mvhd",
        struct.pack(">IIII", 0, 0, timescale, duration) + bytes(80),
    )
    moov = _box(b"moov", mvhd + tracks)
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat = _box(b"mdat", b"\x00" * 32)  # payload never parsed
    return ftyp + moov + mdat


def test_mp4_meta_video_and_audio_tracks():
    meta = mp4_lite.parse_meta(_mp4())
    assert meta["duration_sec"] == pytest.approx(90.0)
    assert meta["n_tracks"] == 2
    assert meta["track_types"] == ["soun", "vide"]
    assert (meta["width"], meta["height"]) == (1280, 720)
    assert meta["n_samples"] == 2700


def test_mp4_meta_stz2_compact_sample_sizes():
    """stz2-compacted sample tables must yield the sample count too
    (fullbox, 3 reserved bytes + field_size, then a 32-bit count), not
    a silent NULL."""
    meta = mp4_lite.parse_meta(_mp4(n_samples=48, compact_sizes=True))
    assert meta["n_samples"] == 48


def test_mp4_meta_audio_only():
    meta = mp4_lite.parse_meta(_mp4(video=False, duration=5000))
    assert meta["duration_sec"] == pytest.approx(5.0)
    assert meta["track_types"] == ["soun"]
    assert meta["width"] is None and meta["n_samples"] is None


def test_mp4_meta_rejects_junk():
    with pytest.raises(ValueError):
        mp4_lite.parse_meta(b"\x00\x00\x00\x08free")  # no ftyp/moov
    with pytest.raises(ValueError):
        mp4_lite.parse_meta(b"RIFF....WAVE")
    # truncated box (size past buffer)
    with pytest.raises(ValueError):
        mp4_lite.parse_meta(struct.pack(">I", 100) + b"ftyp" + b"\x00" * 8)


def test_mp4_via_real_decode_and_arrow_plumbing(spark):
    """Video metadata end-to-end: real_decode routes video to mp4_lite,
    and decode_media(use_fake=False) carries a NULL mean_intensity
    (nullable Float64 → SQL NULL, not NaN) next to real dimensions and
    a fully decoded image row in the same batch."""
    blob = _mp4(width=320, height=240, n_samples=48)
    stats = media.real_decode(blob, "video")
    assert (stats["width"], stats["height"], stats["n_frames"]) == (320, 240, 48)
    assert stats["mean_intensity"] is None

    df = spark.createDataFrame(
        [(1, "video", blob), (2, "image", synth.bmp_rle8(64, 32, 51))],
        "id long, media_type string, content binary",
    )
    rows = {r.id: r for r in media.decode_media(df, use_fake=False).collect()}
    assert (rows[1].width, rows[1].height, rows[1].n_frames) == (320, 240, 48)
    assert rows[1].mean_intensity is None
    assert (rows[2].width, rows[2].height) == (64, 32)
    assert rows[2].mean_intensity == pytest.approx(51 / 255)


# ------------------------------------------------------- sample tables

def _mov(payload: bytes, codec: bytes = b"raw ", n_samples: int = 3,
         w: int = 2, h: int = 2, depth: int = 24) -> bytes:
    """Single-video-track MOV fixture: mdat BEFORE moov so the stco
    chunk offset is known up front; every sample is the same payload,
    opaque to the container. ``depth`` fills the VisualSampleEntry
    pixel-depth field (entry offset 82) the raw codecs discriminate
    on."""
    ftyp = _box(b"ftyp", b"qt  \x00\x00\x02\x00qt  ")
    mdat = _box(b"mdat", payload * n_samples)
    payload_off = len(ftyp) + 8  # first sample = start of mdat body
    tkhd = _fullbox(
        b"tkhd", bytes(4 * 19) + struct.pack(">II", w << 16, h << 16)
    )
    hdlr = _fullbox(b"hdlr", bytes(4) + b"vide" + bytes(12) + b"h\x00")
    entry = (
        struct.pack(">I", 8 + 78) + codec + bytes(74)
        + struct.pack(">H", depth) + bytes(2)
    )
    stsd = _fullbox(b"stsd", struct.pack(">I", 1) + entry)
    sizes = b"".join(
        struct.pack(">I", len(payload)) for _ in range(n_samples)
    )
    stsz = _fullbox(b"stsz", struct.pack(">II", 0, n_samples) + sizes)
    stco = _fullbox(b"stco", struct.pack(">II", 1, payload_off))
    stbl = _box(b"stbl", stsd + stsz + stco)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _fullbox(
        b"mvhd", struct.pack(">IIII", 0, 0, 600, 1800) + bytes(80)
    )
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


# 2x2 RGB24 frame of constant gray 148: Rec. 601 luma / 255 = 148/255
_GRAY = bytes([148]) * 12


def test_mp4_compressed_codec_stays_metadata_only():
    """Compressed tracks keep the honest decode split: container
    metadata real, mean_intensity NULL — the first sample's bytes are
    never handed to a pixel decoder. That holds for H.264 ('avc1') and
    for photo-JPEG ('jpeg') sample entries alike."""
    for codec in (b"avc1", b"jpeg"):
        blob = _mov(b"\xff\xd8 opaque frame \xff\xd9", codec=codec)
        meta = mp4_lite.parse_meta(blob)
        assert meta["codec"] == codec.decode()
        stats = media.real_decode(blob, "video")
        assert stats["mean_intensity"] is None
        assert (stats["width"], stats["height"], stats["n_frames"]) == (2, 2, 3)


def test_mp4_head_without_mdat_is_metadata_only():
    """A moov head without its mdat: the absolute stco offset now lands
    inside moov (or past EOF), so first_video_sample returns None and
    the raw-frame path stays metadata-only instead of reading box
    bytes as pixels."""
    blob = _mov(_GRAY)
    ftyp = _box(b"ftyp", b"qt  \x00\x00\x02\x00qt  ")
    moov_start = blob.index(b"moov") - 4
    head = ftyp + blob[moov_start:]  # mdat dropped, moov shifted
    meta = mp4_lite.parse_meta(head)
    assert meta["codec"] == "raw "
    assert mp4_lite.first_video_sample(head) is None
    stats = media.real_decode(head, "video")
    assert stats["mean_intensity"] is None
    assert (stats["width"], stats["height"], stats["n_frames"]) == (2, 2, 3)
    # and a chunk offset genuinely past EOF → None, not a slice error
    stco_at = head.index(b"stco") + 4 + 4 + 4  # fourcc, fullbox, count
    broken = head[:stco_at] + struct.pack(">I", 2**31) + head[stco_at + 4:]
    assert mp4_lite.first_video_sample(broken) is None
    assert media.real_decode(broken, "video")["mean_intensity"] is None


# --------------------------------------------------- uncompressed video

def test_mov_2vuy_first_frame_real_pixel_stats():
    """'2vuy' samples ARE packed 4:2:2 pixel data (Cb Y'0 Cr Y'1):
    first-frame luma stats are real with zero codec math. Y=126.5 mean
    (alternating 126/127 over video range) maps via (Y-16)/219."""
    import numpy as np

    w, h = 4, 2
    frame = bytearray()
    for i in range(w * h // 2):  # 2 pixels per 4-byte group
        frame += bytes([128, 126, 128, 127])  # Cb Y0 Cr Y1
    blob = _mov(bytes(frame), codec=b"2vuy", w=w, h=h, depth=24)
    meta = mp4_lite.parse_meta(blob)
    assert meta["codec"] == "2vuy" and meta["depth"] == 24
    stats = media.real_decode(blob, "video")
    assert (stats["width"], stats["height"], stats["n_frames"]) == (w, h, 3)
    exp = (np.mean([126, 127]) - 16.0) / 219.0
    assert stats["mean_intensity"] == pytest.approx(exp, abs=1e-12)


def test_mov_raw_rgb24_and_argb32_first_frame_stats():
    """'raw ' entries: depth 24 = packed RGB, depth 32 = ARGB (alpha
    ignored for luma). Rec. 601 luma / 255, the image-stats scale."""
    w, h = 2, 2
    rgb = bytes([255, 0, 0] * 4)  # pure red
    blob = _mov(rgb, codec=b"raw ", w=w, h=h, depth=24)
    stats = media.real_decode(blob, "video")
    assert stats["mean_intensity"] == pytest.approx(
        0.299 * 255 / 255.0, abs=1e-12
    )
    argb = bytes([17, 0, 255, 0] * 4)  # alpha 17, pure green
    blob = _mov(argb, codec=b"raw ", w=w, h=h, depth=32)
    stats = media.real_decode(blob, "video")
    assert stats["mean_intensity"] == pytest.approx(0.587, abs=1e-12)


def test_mov_raw_geometry_mismatch_stays_metadata_only():
    """A frame whose byte count contradicts tkhd geometry (or an
    unsupported depth) keeps container metadata and NULL stats —
    never a misread of short/alien pixel data."""
    blob = _mov(bytes(5), codec=b"2vuy", w=4, h=2, depth=24)
    stats = media.real_decode(blob, "video")
    assert stats["mean_intensity"] is None
    assert (stats["width"], stats["height"]) == (4, 2)
    # 'raw ' with a palettized depth the decoder doesn't support
    blob = _mov(bytes(8), codec=b"raw ", w=4, h=2, depth=8)
    stats = media.real_decode(blob, "video")
    assert stats["mean_intensity"] is None


def test_mp4_stz2_compact_sizes_first_frame_decodes():
    """parse_meta accepts stz2 sample tables, so first_video_sample
    must too — a raw MOV with compact sizes would otherwise silently
    lose its pixel stats."""
    blob = _mov(_GRAY)
    # splice the stsz box out for a 16-bit stz2 carrying the same sizes
    stsz_at = blob.index(b"stsz") - 4
    (stsz_len,) = struct.unpack(">I", blob[stsz_at:stsz_at + 4])
    sizes16 = b"".join(struct.pack(">H", len(_GRAY)) for _ in range(3))
    stz2_body = bytes([0, 0, 0, 0]) + bytes([0, 0, 0, 16]) + struct.pack(
        ">I", 3
    ) + sizes16
    stz2 = struct.pack(">I", 8 + len(stz2_body)) + b"stz2" + stz2_body
    blob2 = blob[:stsz_at] + stz2 + blob[stsz_at + stsz_len:]
    # splicing changed box sizes upstream (stbl/minf/mdia/trak/moov):
    # adjust each enclosing length by the delta
    delta = len(stz2) - stsz_len
    out = bytearray(blob2)
    for tag in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        at = bytes(out).index(tag) - 4
        (sz,) = struct.unpack(">I", out[at:at + 4])
        out[at:at + 4] = struct.pack(">I", sz + delta)
    blob2 = bytes(out)
    meta = mp4_lite.parse_meta(blob2)
    assert meta["n_samples"] == 3 and meta["codec"] == "raw "
    assert mp4_lite.first_video_sample(blob2) == _GRAY
    stats = media.real_decode(blob2, "video")
    assert stats["mean_intensity"] == pytest.approx(148 / 255, abs=1e-9)


def test_mp4_first_video_track_without_tkhd_wins():
    """A first video track lacking tkhd must still OWN the stats — a
    second video track must not overwrite codec/n_samples and diverge
    from first_video_sample's first-track walk."""
    full = _mov(_GRAY, codec=b"avc1")
    # extract trak 1 from the fixture, strip its tkhd, and append a
    # second, decodable 'raw ' trak
    trak1_at = full.index(b"trak") - 4
    (trak1_len,) = struct.unpack(">I", full[trak1_at:trak1_at + 4])
    trak1 = bytearray(full[trak1_at:trak1_at + trak1_len])
    tkhd_at = bytes(trak1).index(b"tkhd") - 4
    (tkhd_len,) = struct.unpack(">I", trak1[tkhd_at:tkhd_at + 4])
    del trak1[tkhd_at:tkhd_at + tkhd_len]
    trak1[0:4] = struct.pack(">I", trak1_len - tkhd_len)
    raw_mov = _mov(_GRAY, codec=b"raw ")
    trak2_at = raw_mov.index(b"trak") - 4
    (trak2_len,) = struct.unpack(">I", raw_mov[trak2_at:trak2_at + 4])
    trak2 = raw_mov[trak2_at:trak2_at + trak2_len]
    moov_at = full.index(b"moov") - 4
    (moov_len,) = struct.unpack(">I", full[moov_at:moov_at + 4])
    moov_body = full[moov_at + 8:moov_at + moov_len]
    new_body = moov_body.replace(
        full[trak1_at:trak1_at + trak1_len], bytes(trak1)
    ) + trak2
    new_moov = struct.pack(">I", 8 + len(new_body)) + b"moov" + new_body
    blob = full[:moov_at] + new_moov
    meta = mp4_lite.parse_meta(blob)
    # first video track (avc1, no tkhd) owns codec; no pixel decode
    assert meta["codec"] == "avc1"
    assert meta["width"] is None
    # the sample walk stops at the same first track
    assert mp4_lite.first_video_sample(blob) == _GRAY
    stats = media.real_decode(blob, "video")
    assert stats["mean_intensity"] is None


def test_mp4_oversized_sample_count_quarantines_per_row(spark):
    """stsz's raw uint32 sample_count at 0xFFFFFFFF must raise in
    real_decode (→ one quarantine row), not overflow the int32
    n_frames column and kill the whole Arrow batch."""
    blob = bytearray(_mov(_GRAY))
    stsz_at = bytes(blob).index(b"stsz") - 4
    # fullbox: 4 len + 4 tag + 4 ver/flags, then sample_size, count
    blob[stsz_at + 16:stsz_at + 20] = struct.pack(">I", 0xFFFFFFFF)
    with pytest.raises(ValueError, match="int32"):
        media.real_decode(bytes(blob), "video")
    df = spark.createDataFrame(
        [(1, "video", bytes(blob)), (2, "video", _mov(_GRAY))],
        "id long, media_type string, content binary",
    )
    rows = {r.id: r for r in media.decode_media(df, use_fake=False).collect()}
    assert rows[1].decode_status == "quarantine:ValueError"
    assert rows[2].decode_status == "ok"
    assert rows[2].mean_intensity == pytest.approx(148 / 255, abs=1e-6)


# ------------------------------------------------- unsupported formats

def _crc(data: bytes, poly: int, width: int) -> int:
    """MSB-first CRC with zero init (FLAC's CRC-8 and CRC-16)."""
    crc, top, mask = 0, 1 << (width - 1), (1 << width) - 1
    for b in data:
        crc ^= b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly if crc & top else crc << 1) & mask
    return crc


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


def test_decode_media_quarantines_unsupported_rows(spark):
    """Real crawls carry application/http response payloads and media
    types the engine does not decode — those rows must come back
    NULL-stats (byte_len real), never crash the Arrow batch task; and
    the fake decoder must agree with the real one on MIME-typed rows
    (both normalize the major type themselves)."""
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
    real = {r["id"]: r for r in media.decode_media(df, use_fake=False).collect()}
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
    fake = {r["id"]: r for r in media.decode_media(df, use_fake=True).collect()}
    assert fake[1]["n_frames"] == 1
