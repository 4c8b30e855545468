"""wav_lite: WAV codecs the stdlib ``wave`` module rejects —
G.711 mu-law/A-law, IMA ADPCM, MS ADPCM, IEEE float, 24-bit and
EXTENSIBLE PCM — decode SAMPLES for real, closing the lossy-audio gap
for the telephony/wavetable codecs (MP3/AAC stay metadata-only per
the ISO 11172-3 table-B.3 blocker recorded in BASELINE.md).

Cross-check strategy: the container ships ``audioop`` (stdlib,
deprecated — imported HERE only, never by engine code), an
independent C implementation of G.711 and IMA/DVI ADPCM. G.711 is
verified exhaustively (all 256 codes per law); IMA streams are
verified sample-exactly against audioop over seeded random signals
(audioop packs high-nibble-first vs WAV's low-first, so the fixtures
swap nibbles). MS ADPCM has no in-container independent decoder, so
its tests pin handcrafted blocks against an in-test spec replay
(predictor/adaptation arithmetic re-derived line-by-line from the
RIFF WAVE_FORMAT_ADPCM registration) plus structural fuzz.
"""

from __future__ import annotations

import struct
import warnings

import numpy as np
import pytest

with warnings.catch_warnings():
    warnings.simplefilter("ignore", DeprecationWarning)
    audioop = pytest.importorskip("audioop")

from pythondataingestionprocess_spark.multimodal import media, wav_lite


# ------------------------------------------------------------- fixtures

def make_wav(tag, ch, rate, bits, block_align, data, fact=None,
             extensible=False) -> bytes:
    """Minimal canonical RIFF/WAVE container around raw codec data."""
    if extensible:
        sub = struct.pack("<H", tag) + wav_lite._EXT_GUID_TAIL
        fmt = (
            struct.pack(
                "<HHIIHH", 0xFFFE, ch, rate,
                rate * ch * max(bits, 1) // 8, block_align, bits,
            )
            + struct.pack("<HHI", 22, bits, (1 << ch) - 1)
            + sub
        )
    else:
        fmt = struct.pack(
            "<HHIIHH", tag, ch, rate, rate * ch * max(bits, 1) // 8,
            block_align, bits,
        )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fact is not None:
        chunks += b"fact" + struct.pack("<II", 4, fact)
    chunks += (
        b"data" + struct.pack("<I", len(data)) + data
        + (b"\0" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _swap_nibbles(bs: bytes) -> bytes:
    """audioop packs the first code in the HIGH nibble; WAV IMA wants
    it in the LOW nibble."""
    return bytes(((b & 0xF) << 4) | (b >> 4) for b in bs)


def ima_block(samples: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a mono int16 signal as ONE WAV-IMA block via audioop
    (header sample = samples[0], initial step index 0) and return
    (block bytes, the exact int16 decode audioop itself produces) —
    ADPCM is lossy, so the oracle is audioop's decode, not the
    input."""
    first = int(samples[0])
    frag, _ = audioop.lin2adpcm(samples[1:].tobytes(), 2, (first, 0))
    sw = _swap_nibbles(frag)
    sw += b"\0" * ((-len(sw)) % 4)  # groups of 4 bytes
    block = struct.pack("<hBB", first, 0, 0) + sw
    exact = np.concatenate((
        np.array([first], dtype="<i2"),
        np.frombuffer(
            audioop.adpcm2lin(frag, 2, (first, 0))[0], dtype="<i2"
        ),
    ))
    return block, exact


# ---------------------------------------------------------------- G.711

def test_g711_tables_exhaustive_vs_audioop():
    """All 256 mu-law and 256 A-law codes decode bit-exactly to the
    values audioop's independent G.711 implementation produces."""
    for b in range(256):
        (exp_u,) = struct.unpack("<h", audioop.ulaw2lin(bytes([b]), 2))
        (exp_a,) = struct.unpack("<h", audioop.alaw2lin(bytes([b]), 2))
        assert int(wav_lite._ULAW[b]) == exp_u, f"ulaw code {b}"
        assert int(wav_lite._ALAW[b]) == exp_a, f"alaw code {b}"


@pytest.mark.parametrize("tag,codec,enc,dec", [
    (0x0007, "ulaw", audioop.lin2ulaw, audioop.ulaw2lin),
    (0x0006, "alaw", audioop.lin2alaw, audioop.alaw2lin),
])
def test_g711_wav_end_to_end(tag, codec, enc, dec):
    sig = np.array(
        [int(12000 * np.sin(i / 10)) for i in range(500)], dtype="<i2"
    )
    blob = make_wav(tag, 1, 8000, 8, 1, enc(sig.tobytes(), 2))
    meta = wav_lite.decode(blob)
    exact = np.frombuffer(dec(enc(sig.tobytes(), 2), 2), dtype="<i2")
    assert meta["codec"] == codec
    assert meta["n_samples"] == 500 and meta["channels"] == 1
    assert meta["sample_rate"] == 8000
    assert meta["mean_abs_amplitude"] == pytest.approx(
        np.abs(exact.astype(np.int32)).mean() / 32767.0, abs=1e-12
    )


# ------------------------------------------------------------ IMA ADPCM

def test_ima_mono_single_block_exact_vs_audioop():
    sig = np.array(
        [int(8000 * np.sin(i / 7)) for i in range(505)], dtype="<i2"
    )
    block, exact = ima_block(sig)
    blob = make_wav(0x11, 1, 8000, 4, len(block), block, fact=505)
    meta = wav_lite.decode(blob)
    assert meta["codec"] == "ima_adpcm" and meta["n_samples"] == 505
    assert meta["mean_abs_amplitude"] == pytest.approx(
        np.abs(exact[:505].astype(np.int32)).mean() / 32767.0, abs=1e-12
    )


def test_ima_stereo_group_interleave_exact():
    """Stereo blocks interleave 4-byte code groups per channel; each
    channel is an independent IMA stream audioop replays exactly."""
    rng = np.random.default_rng(7)
    left = rng.integers(-20000, 20000, 65).astype("<i2")
    right = rng.integers(-20000, 20000, 65).astype("<i2")
    frag_l, _ = audioop.lin2adpcm(left[1:].tobytes(), 2, (int(left[0]), 0))
    frag_r, _ = audioop.lin2adpcm(right[1:].tobytes(), 2, (int(right[0]), 0))
    sw_l, sw_r = _swap_nibbles(frag_l), _swap_nibbles(frag_r)
    assert len(sw_l) == 32  # 64 codes
    body = b"".join(
        sw_l[i:i + 4] + sw_r[i:i + 4] for i in range(0, 32, 4)
    )
    block = (
        struct.pack("<hBB", int(left[0]), 0, 0)
        + struct.pack("<hBB", int(right[0]), 0, 0)
        + body
    )
    blob = make_wav(0x11, 2, 22050, 4, len(block), block, fact=65)
    meta = wav_lite.decode(blob)
    dec = lambda frag, s0: np.concatenate((  # noqa: E731
        np.array([s0], dtype="<i2"),
        np.frombuffer(
            audioop.adpcm2lin(frag, 2, (int(s0), 0))[0], dtype="<i2"
        ),
    ))
    exact = np.stack(
        [dec(frag_l, left[0]), dec(frag_r, right[0])]
    ).astype(np.int32)
    assert meta["n_samples"] == 65 and meta["channels"] == 2
    assert meta["mean_abs_amplitude"] == pytest.approx(
        np.abs(exact).mean() / 32767.0, abs=1e-12
    )


def test_ima_multi_block_with_partial_tail_fuzz():
    """200 seeded random signals across lengths that span multiple
    blocks and ragged tails: the multi-block walk (fresh header state
    per block) matches a per-block audioop replay exactly, and the
    fact chunk trims ONLY final-block padding."""
    rng = np.random.default_rng(13)
    for trial in range(200):
        n = int(rng.integers(2, 400))
        sig = rng.integers(-32768, 32768, n).astype("<i2")
        frames_per_block = 129  # block_align 4 + 64 bytes
        blocks, exact_parts = [], []
        for base in range(0, n, frames_per_block):
            part = sig[base:base + frames_per_block]
            if len(part) == 1:
                # header-only tail: pad the code area entirely
                block = struct.pack("<hBB", int(part[0]), 0, 0) + b"\0" * 64
                exact_parts.append(part.astype(np.int32))
                # decoder emits padding codes too; replay them for the
                # oracle then rely on fact to trim
                pad_dec = np.frombuffer(audioop.adpcm2lin(
                    _swap_nibbles(b"\0" * 64), 2, (int(part[0]), 0)
                )[0], dtype="<i2")
                exact_parts.append(pad_dec.astype(np.int32))
            else:
                frag, _ = audioop.lin2adpcm(
                    part[1:].tobytes(), 2, (int(part[0]), 0)
                )
                sw = _swap_nibbles(frag)
                pad = 64 - len(sw)
                full = frag + b"\0" * pad  # audioop order for replay
                block = (
                    struct.pack("<hBB", int(part[0]), 0, 0)
                    + sw + b"\0" * pad
                )
                replay = np.frombuffer(audioop.adpcm2lin(
                    full, 2, (int(part[0]), 0)
                )[0], dtype="<i2")
                exact_parts.append(
                    np.concatenate(
                        ([part[0]], replay)
                    ).astype(np.int32)
                )
            blocks.append(block)
        blob = make_wav(0x11, 1, 8000, 4, 68, b"".join(blocks), fact=n)
        meta = wav_lite.decode(blob)
        exact = np.concatenate(exact_parts)[:n]
        assert meta["n_samples"] == n, trial
        assert meta["mean_abs_amplitude"] == pytest.approx(
            np.abs(exact).mean() / 32767.0, abs=1e-12
        ), trial


def test_ima_rejects_bad_geometry():
    block = struct.pack("<hBB", 0, 0, 0) + b"\0" * 62  # not /4 groups
    with pytest.raises(ValueError, match="block_align"):
        wav_lite.decode(make_wav(0x11, 1, 8000, 4, 66, block))
    # step index out of range
    bad = struct.pack("<hBB", 0, 89, 0) + b"\0" * 64
    with pytest.raises(ValueError, match="step index"):
        wav_lite.decode(make_wav(0x11, 1, 8000, 4, 68, bad))
    # fact count claiming more frames than decoded
    good = struct.pack("<hBB", 0, 0, 0) + b"\0" * 64
    with pytest.raises(ValueError, match="fact count"):
        wav_lite.decode(make_wav(0x11, 1, 8000, 4, 68, good, fact=999))


# ------------------------------------------------------------- MS ADPCM

_MS_ADAPT = [
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
]
_MS_COEF = [
    (256, 0), (512, -256), (0, 0), (192, 64),
    (240, 0), (460, -208), (392, -232),
]


def _ms_replay(codes, preds, ideltas, s1, s2, channels):
    """In-test spec replay of WAVE_FORMAT_ADPCM (independent of the
    wav_lite implementation): returns all samples channel-major."""
    out = {c: [s2[c], s1[c]] for c in range(channels)}
    state = {
        c: {"S1": s1[c], "S2": s2[c], "D": ideltas[c],
            "coef": _MS_COEF[preds[c]]}
        for c in range(channels)
    }
    for i, code in enumerate(codes):
        c = i % channels
        s = state[c]
        coef1, coef2 = s["coef"]
        signed = code - 16 if code & 8 else code
        pred = ((s["S1"] * coef1 + s["S2"] * coef2) >> 8) + signed * s["D"]
        pred = max(-32768, min(32767, pred))
        s["S2"], s["S1"] = s["S1"], pred
        s["D"] = max(16, (_MS_ADAPT[code] * s["D"]) >> 8)
        out[c].append(pred)
    return out


def test_ms_adpcm_mono_handcrafted_block():
    codes = [3, 0xF, 8, 1, 7, 9, 0, 2]
    packed = bytes(
        (codes[i] << 4) | codes[i + 1] for i in range(0, 8, 2)
    )
    block = bytes([0]) + struct.pack("<hhh", 300, 1000, 900) + packed
    blob = make_wav(2, 1, 11025, 4, len(block), block, fact=10)
    meta = wav_lite.decode(blob)
    out = _ms_replay(codes, [0], [300], [1000], [900], 1)[0]
    assert meta["codec"] == "ms_adpcm" and meta["n_samples"] == 10
    assert meta["mean_abs_amplitude"] == pytest.approx(
        np.abs(np.array(out, dtype=np.int64)).mean() / 32767.0, abs=1e-12
    )


def test_ms_adpcm_stereo_nibble_interleave():
    codes = [2, 0xD, 6, 1, 0xA, 3, 5, 8]
    packed = bytes(
        (codes[i] << 4) | codes[i + 1] for i in range(0, 8, 2)
    )
    block = (
        bytes([1, 4])
        + struct.pack("<hh", 200, 250)    # ideltas per channel
        + struct.pack("<hh", 500, 600)    # sample1 per channel
        + struct.pack("<hh", -100, 50)    # sample2 per channel
        + packed
    )
    blob = make_wav(2, 2, 11025, 4, len(block), block, fact=6)
    meta = wav_lite.decode(blob)
    out = _ms_replay(codes, [1, 4], [200, 250], [500, 600], [-100, 50], 2)
    allv = np.array(out[0] + out[1], dtype=np.int64)
    assert meta["n_samples"] == 6 and meta["channels"] == 2
    assert meta["mean_abs_amplitude"] == pytest.approx(
        np.abs(allv).mean() / 32767.0, abs=1e-12
    )


def test_ms_adpcm_random_blocks_match_replay():
    """120 seeded random blocks (codes, headers, mono + stereo): the
    vectorized decoder matches the in-test spec replay exactly —
    including idelta floor (16), int16 clamping, and multi-block
    continuation with fresh headers."""
    rng = np.random.default_rng(29)
    for trial in range(120):
        channels = int(rng.integers(1, 3))
        n_code_bytes = int(rng.integers(1, 40)) * channels
        n_blocks = int(rng.integers(1, 4))
        blocks, exp_means, all_samples = [], [], []
        for _ in range(n_blocks):
            preds = [int(rng.integers(0, 7)) for _ in range(channels)]
            ideltas = [int(rng.integers(16, 4000)) for _ in range(channels)]
            s1 = [int(rng.integers(-30000, 30000)) for _ in range(channels)]
            s2 = [int(rng.integers(-30000, 30000)) for _ in range(channels)]
            raw = rng.integers(0, 256, n_code_bytes).astype(np.uint8)
            codes = []
            for b in raw:
                codes += [int(b) >> 4, int(b) & 0xF]
            block = bytes(preds)
            for lst in (ideltas, s1, s2):
                block += struct.pack(f"<{channels}h", *lst)
            block += raw.tobytes()
            blocks.append(block)
            out = _ms_replay(codes, preds, ideltas, s1, s2, channels)
            n_rows = 2 + len(codes) // channels
            for c in range(channels):
                all_samples += out[c][:n_rows]
        blob = make_wav(
            2, channels, 16000, 4, len(blocks[0]), b"".join(blocks)
        )
        meta = wav_lite.decode(blob)
        exp = np.abs(np.array(all_samples, dtype=np.int64)).mean() / 32767.0
        assert meta["mean_abs_amplitude"] == pytest.approx(
            exp, abs=1e-12
        ), trial
        assert meta["n_samples"] == n_blocks * (
            2 + n_code_bytes * 2 // channels
        ), trial


def test_ms_adpcm_idelta_overflow_falls_back_to_python_ints():
    """Block-parallel path: MS ADPCM's idelta has no spec ceiling
    (x3 per code at adapt=768), so a crafted stream overflows any
    fixed lane width. The int64 lanes carry a 2**46 guard and must
    fall back to the exact-Python-int scalar decode — same samples as
    the spec replay, no silent wraparound."""
    n_code_bytes = 60
    codes = [8] * (n_code_bytes * 2)      # adapt[8] = 768 → idelta x3/code
    packed = bytes([0x88] * n_code_bytes)
    block = bytes([0]) + struct.pack("<hhh", 32000, 1000, 900) + packed
    # prove the fixture actually runs idelta past the guard
    d = 32000
    for code in codes:
        d = max(16, (_MS_ADAPT[code] * d) >> 8)
    assert d > 1 << 46
    got = wav_lite._decode_ms(block, 1, len(block), None)
    exp = _ms_replay(codes, [0], [32000], [1000], [900], 1)[0]
    assert got[:, 0].tolist() == exp
    # and the scalar path agrees with the dispatcher bit-for-bit
    scalar = wav_lite._decode_ms_scalar(block, 1, len(block), None)
    assert np.array_equal(got, scalar)


def test_ms_adpcm_rejects_bad_predictor():
    block = bytes([7]) + struct.pack("<hhh", 300, 0, 0) + b"\0" * 4
    with pytest.raises(ValueError, match="predictor index"):
        wav_lite.decode(make_wav(2, 1, 8000, 4, len(block), block))


# -------------------------------------------------- PCM widths / floats

def test_float32_and_float64_wav():
    sig = np.sin(np.arange(300) / 9).astype("<f4")
    meta = wav_lite.decode(make_wav(3, 1, 16000, 32, 4, sig.tobytes()))
    assert meta["codec"] == "float" and meta["n_samples"] == 300
    assert meta["mean_abs_amplitude"] == pytest.approx(
        float(np.abs(sig).mean()), abs=1e-7
    )
    sig64 = np.sin(np.arange(128) / 5).astype("<f8")
    meta = wav_lite.decode(make_wav(3, 1, 48000, 64, 8, sig64.tobytes()))
    assert meta["n_samples"] == 128
    # out-of-range / non-finite floats clip instead of poisoning stats
    weird = np.array([2.5, -3.0, np.nan, np.inf, 0.5], dtype="<f4")
    meta = wav_lite.decode(make_wav(3, 1, 8000, 32, 4, weird.tobytes()))
    assert meta["mean_abs_amplitude"] == pytest.approx(
        (1.0 + 1.0 + 0.5) / 3, abs=1e-7
    )


def test_pcm24_and_extensible():
    vals = [-8388608, 0, 8388607, 1234567]
    raw = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals)
    meta = wav_lite.decode(
        make_wav(1, 1, 44100, 24, 3, raw, extensible=True)
    )
    assert meta["codec"] == "pcm" and meta["n_samples"] == 4
    exp = np.abs(np.array(vals, dtype=np.int64)).mean() / 8388607.0
    assert meta["mean_abs_amplitude"] == pytest.approx(exp, abs=1e-12)
    # plain (non-extensible) 24-bit too — the stdlib wave module parses
    # its header but media._decode_wav used to raise on width 3
    meta = wav_lite.decode(make_wav(1, 1, 44100, 24, 3, raw))
    assert meta["n_samples"] == 4
    # unknown SubFormat GUID → quarantine, not misdecode
    blob = bytearray(make_wav(1, 1, 8000, 16, 2, b"\0\0", extensible=True))
    at = blob.index(wav_lite._EXT_GUID_TAIL)
    blob[at:at + 4] = b"\xde\xad\xbe\xef"
    with pytest.raises(ValueError, match="GUID"):
        wav_lite.decode(bytes(blob))


# ------------------------------------------------------ media.py wiring

def test_real_decode_routes_compressed_wav():
    """audio/wav MIME with a mu-law payload: the stdlib wave module
    raises wave.Error, media falls through to wav_lite, and the stats
    mapping matches the PCM convention (width=rate,
    height=channels, n_frames=samples, REAL mean amplitude)."""
    sig = np.array(
        [int(9000 * np.sin(i / 6)) for i in range(200)], dtype="<i2"
    )
    blob = make_wav(7, 1, 8000, 8, 1, audioop.lin2ulaw(sig.tobytes(), 2))
    stats = media.real_decode(blob, "audio/wav")
    exact = np.frombuffer(
        audioop.ulaw2lin(audioop.lin2ulaw(sig.tobytes(), 2), 2),
        dtype="<i2",
    )
    assert (stats["width"], stats["height"], stats["n_frames"]) == (
        8000, 1, 200
    )
    assert stats["mean_intensity"] == pytest.approx(
        np.abs(exact.astype(np.int32)).mean() / 32767.0, abs=1e-12
    )


def test_real_decode_pcm_wav_still_stdlib_path():
    """Canonical 16-bit PCM keeps the existing stdlib path — identical
    stats as before wav_lite existed."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(
            np.full(64, 16000, dtype="<i2").tobytes()
        )
    stats = media.real_decode(buf.getvalue(), "audio")
    assert stats["n_frames"] == 64
    assert stats["mean_intensity"] == pytest.approx(16000 / 32767.0)


def test_decode_media_quarantines_wav_junk():
    """Truncated / junk RIFF payloads quarantine per-row through the
    Arrow decode path contract (ValueError from wav_lite)."""
    with pytest.raises(ValueError, match="RIFF"):
        media.real_decode(b"RIFX\x00\x00\x00\x00JUNK", "audio")
    with pytest.raises(ValueError, match="format tag"):
        # MP3-in-WAV (tag 0x55) is honestly unsupported
        wav_lite.decode(make_wav(0x55, 1, 8000, 0, 1, b"\0\0"))
    with pytest.raises(ValueError, match="truncated"):
        blob = make_wav(1, 1, 8000, 16, 2, b"\0\0" * 8)
        wav_lite.decode(blob[:-9])


def test_audio_int32_overflow_quarantines_per_row(spark):
    """The WAV fmt sample rate is a raw header uint32: past int32 it
    must quarantine its row in real_decode, on the stdlib-PCM path and
    on the wav_lite path alike, never kill the whole Arrow batch in
    decode_media's Int32 cast."""
    pcm = bytearray(
        make_wav(1, 1, 8000, 16, 2, np.full(4, 1000, dtype="<i2").tobytes())
    )
    struct.pack_into("<I", pcm, pcm.index(b"fmt ") + 12, 3_000_000_000)
    ulaw = make_wav(7, 1, 3_000_000_000, 8, 1, bytes(4))
    for blob in (bytes(pcm), ulaw):
        with pytest.raises(ValueError, match="int32"):
            media.real_decode(blob, "audio/wav")
    df = spark.createDataFrame(
        [(1, "audio/wav", pcm)], "id long, media_type string, content binary"
    )
    (row,) = media.decode_media(df, use_fake=False).collect()
    assert row["decode_status"] == "quarantine:ValueError"
    assert row["byte_len"] == len(pcm) and row["width"] is None
