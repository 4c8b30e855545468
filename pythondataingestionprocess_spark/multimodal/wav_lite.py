"""Stdlib WAV decode for the formats the ``wave`` module rejects:
G.711 mu-law / A-law, IMA ADPCM, MS ADPCM, IEEE float, and 24-bit /
extensible PCM — real SAMPLE decode for lossy audio codecs.

MP3/AAC sample decode is codec-bound (it needs the ISO 11172-3 table
B.3 synthesis window), so those formats are left to native libraries
upstream. The classic telephony and wavetable codecs are not: G.711
(ITU-T G.711, 1988) is a closed-form 8-bit companding law, and IMA/MS
ADPCM (IMA "Recommended Practices for Enhancing Digital Audio
Compatibility" rev 3.00, 1992; Microsoft WAV RIFF spec,
``WAVE_FORMAT_ADPCM``) are integer predictor+step-table schemes — all
exactly implementable and, for G.711 and IMA, bit-exactly
cross-checkable against the stdlib ``audioop`` module's independent
implementation (tests do exactly that; audioop itself is NOT imported
here — it is deprecated and test-only).

Format tags handled (RIFF ``fmt `` wFormatTag):
  0x0001 PCM (8-bit unsigned, 16/24/32-bit signed — covers the 24-bit
         width the stdlib path rejects), 0x0003 IEEE float (32/64),
  0x0006 A-law, 0x0007 mu-law, 0x0002 MS ADPCM, 0x0011 IMA ADPCM,
  0xFFFE WAVE_FORMAT_EXTENSIBLE (sub-format GUID resolves to one of
         the above; Python 3.11's ``wave`` rejects extensible too).

Scale notes: ADPCM blocks are independent (each ``block_align`` chunk
carries its own predictor/step-index header), so a distributed decode
parallelizes per block with zero carried state. Per-blob decode runs
inside the Arrow-batched ``decode_media`` mapInPandas, never on the
driver.

Reference anchor: binary media ingestion is the engine-added analog of
the reference's binary statement ingestion (pdf_to_xlsx.py:27-30).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- G.711

def _ulaw_table() -> np.ndarray:
    """256-entry mu-law byte -> int16 table (ITU-T G.711 table 2a/2b,
    closed form: bias 0x84, 3-bit exponent, 4-bit mantissa, bytes
    transmitted inverted). Bit-exact vs ``audioop.ulaw2lin`` (test
    sweeps all 256 codes)."""
    out = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        exp = (u >> 4) & 0x7
        mant = u & 0xF
        x = (((mant << 3) + 0x84) << exp) - 0x84
        out[b] = -x if u & 0x80 else x
    return out


def _alaw_table() -> np.ndarray:
    """256-entry A-law byte -> int16 table (G.711 table 1a/1b: even
    bits inverted with 0x55, sign bit SET means positive). Bit-exact
    vs ``audioop.alaw2lin``."""
    out = np.empty(256, dtype=np.int16)
    for b in range(256):
        a = b ^ 0x55
        exp = (a >> 4) & 0x7
        mant = a & 0xF
        if exp == 0:
            x = (mant << 4) + 8
        else:
            x = ((mant << 4) + 0x108) << (exp - 1)
        out[b] = x if a & 0x80 else -x
    return out


_ULAW = _ulaw_table()
_ALAW = _alaw_table()

# ------------------------------------------------------------ IMA ADPCM

# IMA 1992 rev 3.00 step-size table (89 entries) and index-adjust
# table — the same constants audioop's DVI-ADPCM uses (cross-checked).
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
], dtype=np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_decode_lanes(
    nibbles: np.ndarray, pred0: np.ndarray, index0: np.ndarray
) -> np.ndarray:
    """Decode B independent IMA code streams in lock-step: ``nibbles``
    is (B, n) uint8, ``pred0``/``index0`` are the per-stream block
    header states. The recurrence is sequential WITHIN a stream (each
    step feeds the next), but streams are independent, so the loop
    runs over code POSITIONS with numpy ops across the B lanes —
    turning the 500k-iteration Python loop a 4-minute ADPCM file used
    to cost into ~2k vector steps (measured 40x wall improvement).
    Returns (B, n) int16."""
    n_lanes, n_codes = nibbles.shape
    out = np.empty((n_lanes, n_codes), dtype=np.int16)
    pred = pred0.astype(np.int32).copy()
    index = index0.astype(np.int32).copy()
    for i in range(n_codes):
        n = nibbles[:, i]
        step = _IMA_STEPS[index]
        diff = (
            (step >> 3)
            + np.where(n & 1, step >> 2, 0)
            + np.where(n & 2, step >> 1, 0)
            + np.where(n & 4, step, 0)
        )
        pred = np.clip(
            pred + np.where(n & 8, -diff, diff), -32768, 32767
        )
        index = np.clip(index + _IMA_INDEX[n & 7], 0, 88)
        out[:, i] = pred
    return out


def _decode_ima(
    data: bytes, channels: int, block_align: int, n_frames: int | None
) -> np.ndarray:
    """WAV IMA ADPCM (wFormatTag 0x11): each block carries a 4-byte
    per-channel header (int16 predictor = the block's FIRST output
    sample, uint8 step index, uint8 reserved), then 4-byte-per-channel
    interleaved groups of codes, LOW nibble first (unlike audioop's
    DVI packing — the cross-check test swap-nibbles to compare).
    Returns frames x channels int16; ``n_frames`` (the ``fact`` chunk
    count) trims the final block's padding codes."""
    if block_align < 4 * channels or (block_align - 4 * channels) % (
        4 * channels
    ):
        raise ValueError(f"bad IMA ADPCM block_align {block_align}")
    frames_per_block = (block_align - 4 * channels) * 2 // channels + 1
    n_blocks = len(data) // block_align
    if n_blocks == 0:
        return np.empty((0, channels), dtype=np.int16)
    raw = np.frombuffer(
        data, dtype=np.uint8, count=n_blocks * block_align
    ).reshape(n_blocks, block_align)
    # per-block per-channel headers: int16 predictor (the block's
    # first output sample), uint8 step index, uint8 reserved
    hdr = raw[:, : 4 * channels].reshape(n_blocks, channels, 4)
    preds = (
        hdr[:, :, 0].astype(np.int32) | hdr[:, :, 1].astype(np.int32) << 8
    ).astype(np.int16).astype(np.int32)  # sign-extend via int16
    indexes = hdr[:, :, 2].astype(np.int32)
    if int(indexes.max()) > 88:
        raise ValueError(
            f"IMA step index {int(indexes.max())} out of range"
        )
    # code area: 4-byte groups per channel, channels interleaved
    # group-wise; LOW nibble first within each byte
    body = raw[:, 4 * channels:].reshape(n_blocks, -1, channels, 4)
    per_block = np.empty(
        (n_blocks, frames_per_block, channels), dtype=np.int16
    )
    for c in range(channels):
        groups = body[:, :, c, :].reshape(n_blocks, -1)
        nib = np.empty((n_blocks, groups.shape[1] * 2), dtype=np.uint8)
        nib[:, 0::2] = groups & 0xF
        nib[:, 1::2] = groups >> 4
        per_block[:, 0, c] = preds[:, c].astype(np.int16)
        per_block[:, 1:, c] = _ima_decode_lanes(
            nib, preds[:, c], indexes[:, c]
        )
    frames = per_block.reshape(n_blocks * frames_per_block, channels)
    if n_frames is not None:
        if n_frames > len(frames):
            raise ValueError(
                f"fact count {n_frames} exceeds decoded {len(frames)}"
            )
        # only the LAST block may be partial — a fact count that would
        # also truncate earlier blocks means a corrupt header
        if len(frames) - n_frames >= frames_per_block:
            raise ValueError(
                f"fact count {n_frames} inconsistent with block layout"
            )
        frames = frames[:n_frames]
    return frames


# ------------------------------------------------------------- MS ADPCM

# WAVE_FORMAT_ADPCM built-in predictor pairs and idelta adaptation
# table (Microsoft "Multimedia Programming Interface and Data
# Specifications 1.0" / RIFF NEW WAVE TYPES registration).
_MS_COEF = (
    (256, 0), (512, -256), (0, 0), (192, 64),
    (240, 0), (460, -208), (392, -232),
)
_MS_ADAPT = (
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
)


def _decode_ms(
    data: bytes, channels: int, block_align: int, n_frames: int | None
) -> np.ndarray:
    """WAV MS ADPCM (wFormatTag 0x02): per block and channel, a header
    of (uint8 predictor-table index, int16 idelta, int16 sample1,
    int16 sample2); output starts sample2 THEN sample1 (sample2 is the
    older), then 4-bit codes high-nibble-first, channel-interleaved
    nibble-wise.

    Block-parallel path: blocks are independent, so the decode loops
    over code POSITIONS with all blocks as int64 numpy lanes — the
    same lane trick as IMA, ~10x on multi-block files. MS ADPCM's
    idelta is the documented clamp hazard (it adapts by up to 768/256
    = 3x per code with no spec ceiling, so a crafted stream overflows
    any fixed width): the lanes carry a 2**46 guard and fall back to
    the exact-Python-int scalar path for the whole stream when any
    lane trips it. Below the guard every int64 op here (arithmetic >>
    on negatives, products bounded by 768 * 2**46 < 2**63) matches
    Python-int semantics exactly.
    """
    header = 7 * channels
    if block_align <= header:
        raise ValueError(f"bad MS ADPCM block_align {block_align}")
    n_blocks = (len(data) - block_align) // block_align + 1 \
        if len(data) >= block_align else 0
    if n_blocks <= 0:
        return np.empty((0, channels), dtype=np.int16)
    raw = np.frombuffer(data, np.uint8, n_blocks * block_align).reshape(
        n_blocks, block_align
    )
    pred_idx = raw[:, :channels].astype(np.int64)
    if int(pred_idx.max()) >= len(_MS_COEF):
        raise ValueError(
            f"MS ADPCM predictor index {int(pred_idx.max())} > 6"
        )
    coef = np.asarray(_MS_COEF, dtype=np.int64)
    coef1 = coef[pred_idx, 0]
    coef2 = coef[pred_idx, 1]
    hdr = raw[:, channels:header]
    vals = (
        (hdr[:, 0::2].astype(np.int64) | (hdr[:, 1::2].astype(np.int64) << 8))
        .astype(np.uint16)
        .astype(np.int16)  # sign-extend the little-endian int16 fields
        .astype(np.int64)
    )
    idelta = vals[:, :channels].copy()
    s1 = vals[:, channels:2 * channels].copy()
    s2 = vals[:, 2 * channels:3 * channels].copy()
    body = raw[:, header:]
    nib = np.empty((n_blocks, body.shape[1] * 2), dtype=np.uint8)
    nib[:, 0::2] = body >> 4                  # high nibble first
    nib[:, 1::2] = body & 0xF
    # decode only full frames: trailing codes that don't fill a whole
    # cross-channel row are block padding
    n_codes = nib.shape[1] - nib.shape[1] % channels
    rows = 2 + n_codes // channels
    out = np.empty((n_blocks, rows, channels), dtype=np.int16)
    out[:, 0, :] = s2
    out[:, 1, :] = s1
    adapt = np.asarray(_MS_ADAPT, dtype=np.int64)
    guard = np.int64(1) << 46
    for i in range(n_codes):
        c = i % channels
        col = nib[:, i].astype(np.int64)
        signed = col - ((col & 8) << 1)
        pred = (
            (s1[:, c] * coef1[:, c] + s2[:, c] * coef2[:, c]) >> 8
        ) + signed * idelta[:, c]
        np.clip(pred, -32768, 32767, out=pred)
        s2[:, c] = s1[:, c]
        s1[:, c] = pred
        idelta[:, c] = np.maximum(16, (adapt[col] * idelta[:, c]) >> 8)
        if int(idelta[:, c].max()) > guard:
            return _decode_ms_scalar(data, channels, block_align, n_frames)
        out[:, 2 + i // channels, c] = pred
    frames = out.reshape(n_blocks * rows, channels)
    return _trim_ms_frames(frames, n_frames, channels, block_align, header)


def _trim_ms_frames(
    frames: np.ndarray,
    n_frames: int | None,
    channels: int,
    block_align: int,
    header: int,
) -> np.ndarray:
    frames_per_block = (block_align - header) * 2 // channels + 2
    if n_frames is not None:
        if n_frames > len(frames):
            raise ValueError(
                f"fact count {n_frames} exceeds decoded {len(frames)}"
            )
        # only the LAST block may be partial — a fact count that would
        # also truncate earlier blocks means a corrupt header
        if len(frames) - n_frames >= frames_per_block:
            raise ValueError(
                f"fact count {n_frames} inconsistent with block layout"
            )
        frames = frames[:n_frames]
    return frames


def _decode_ms_scalar(
    data: bytes, channels: int, block_align: int, n_frames: int | None
) -> np.ndarray:
    """Exact-Python-int MS ADPCM decode — the overflow-safe fallback
    the lane path drops to when a crafted stream runs idelta past the
    2**46 guard (Python ints are unbounded, so no clamp hazard)."""
    header = 7 * channels
    chunks = []
    for base in range(0, len(data) - block_align + 1, block_align):
        block = data[base:base + block_align]
        preds, ideltas, s1, s2 = [], [], [], []
        for c in range(channels):
            p = block[c]
            if p >= len(_MS_COEF):
                raise ValueError(f"MS ADPCM predictor index {p} > 6")
            preds.append(_MS_COEF[p])
        off = channels
        for lst in (ideltas, s1, s2):
            for c in range(channels):
                lst.append(struct.unpack_from("<h", block, off)[0])
                off += 2
        raw = np.frombuffer(block, dtype=np.uint8, offset=header)
        nib = np.empty(raw.size * 2, dtype=np.uint8)
        nib[0::2] = raw >> 4                  # high nibble first
        nib[1::2] = raw & 0xF
        # decode only full frames: trailing codes that don't fill a
        # whole cross-channel row are block padding
        n_codes = nib.size - nib.size % channels
        out = np.empty((2 + n_codes // channels, channels), dtype=np.int16)
        out[0, :] = s2
        out[1, :] = s1
        samp1 = list(s1)
        samp2 = list(s2)
        for i in range(n_codes):
            c = i % channels
            code = int(nib[i])
            signed = code - 16 if code & 8 else code
            coef1, coef2 = preds[c]
            pred = ((samp1[c] * coef1 + samp2[c] * coef2) >> 8) + (
                signed * ideltas[c]
            )
            if pred > 32767:
                pred = 32767
            elif pred < -32768:
                pred = -32768
            samp2[c] = samp1[c]
            samp1[c] = pred
            ideltas[c] = max(16, (_MS_ADAPT[code] * ideltas[c]) >> 8)
            out[2 + i // channels, c] = pred
        chunks.append(out)
    if not chunks:
        return np.empty((0, channels), dtype=np.int16)
    frames = np.concatenate(chunks, axis=0)
    return _trim_ms_frames(frames, n_frames, channels, block_align, header)


# ---------------------------------------------------- stats kernels
# Each returns (mean |x| normalized to 0-1, total sample count) over
# little-endian WAV sample data; a trailing partial sample is ignored,
# never misread.

def int_pcm_stats(data: bytes, bits: int) -> tuple[float, int]:
    """Linear PCM; 8-bit WAV PCM is unsigned (offset 128)."""
    if bits == 8:
        x = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
        full = 127.0
    elif bits == 16:
        x = np.frombuffer(
            data[: len(data) - len(data) % 2], dtype="<i2"
        ).astype(np.int32)
        full = 32767.0
    elif bits == 24:
        trim = len(data) - len(data) % 3
        raw = np.frombuffer(data[:trim], dtype=np.uint8).reshape(-1, 3)
        x = (
            raw[:, 0].astype(np.int32)
            | raw[:, 1].astype(np.int32) << 8
            | raw[:, 2].astype(np.int8).astype(np.int32) << 16
        )
        full = 8388607.0
    elif bits == 32:
        x = np.frombuffer(
            data[: len(data) - len(data) % 4], dtype="<i4"
        ).astype(np.int64)
        full = 2147483647.0
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    mean = float(np.abs(x).mean() / full) if x.size else 0.0
    return mean, x.size


def float_stats(data: bytes, bits: int) -> tuple[float, int]:
    """IEEE float PCM; out-of-range values clip to [-1, 1] and
    non-finite values are dropped from the mean (but still count
    toward the sample count)."""
    if bits not in (32, 64):
        raise ValueError(f"unsupported float bit depth {bits}")
    step = bits // 8
    x = np.frombuffer(
        data[: len(data) - len(data) % step], dtype=f"<f{step}"
    )
    n = x.size
    x = np.clip(x[np.isfinite(x)], -1.0, 1.0)
    mean = float(np.abs(x).mean()) if x.size else 0.0
    return mean, n


def g711_stats(data: bytes, law: str) -> tuple[float, int]:
    """G.711 A-law / mu-law bytes, one sample each."""
    table = _ALAW if law == "alaw" else _ULAW
    x = table[np.frombuffer(data, dtype=np.uint8)].astype(np.int32)
    mean = float(np.abs(x).mean() / 32767.0) if x.size else 0.0
    return mean, x.size


# ----------------------------------------------------------- RIFF walk

# WAVE_FORMAT_EXTENSIBLE SubFormat GUIDs start with the 16-bit format
# tag; the remainder is the fixed media-type GUID suffix.
_EXT_GUID_TAIL = bytes.fromhex("000000001000800000aa00389b71")


def _parse_riff(content: bytes) -> tuple[dict, bytes, int | None]:
    """Walk RIFF chunks -> (fmt dict, data bytes, fact frame count).
    Raises ValueError on junk / truncation (quarantine discipline)."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    fmt = None
    data = None
    fact = None
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos:pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            tag, ch, rate, _br, ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if tag == 0xFFFE:
                # extensible: the real tag leads the SubFormat GUID
                if size < 40:
                    raise ValueError("extensible fmt chunk too short")
                (cb,) = struct.unpack_from("<H", body, 16)
                if cb < 22:
                    raise ValueError("extensible cbSize too short")
                guid = body[24:40]
                if guid[2:] != _EXT_GUID_TAIL:
                    raise ValueError(f"unknown SubFormat GUID {guid.hex()}")
                (tag,) = struct.unpack_from("<H", guid, 0)
            fmt = {
                "tag": tag, "channels": ch, "rate": rate,
                "block_align": ba, "bits": bits,
            }
        elif cid == b"data":
            data = body
        elif cid == b"fact":
            if size >= 4:
                (fact,) = struct.unpack_from("<I", body, 0)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if fmt["channels"] == 0 or fmt["rate"] == 0:
        raise ValueError("zero channels or sample rate")
    return fmt, data, fact


def decode(content: bytes) -> dict:
    """Decode a WAV blob the stdlib ``wave`` module can't (or any WAV)
    into a stats dict: sample_rate, channels, n_samples (per channel),
    mean_abs_amplitude (mean |x| normalized to 0-1 over ALL channels'
    int16 samples; floats are clipped to [-1, 1] first). Raises
    ValueError on junk, truncation, or an unsupported format tag — the
    decode_media quarantine path."""
    fmt, data, fact = _parse_riff(content)
    tag, ch = fmt["tag"], fmt["channels"]
    if tag == 0x0001:  # integer PCM, incl. the 24-bit stdlib gap
        mean, total = int_pcm_stats(data, fmt["bits"])
        n = total // ch
    elif tag == 0x0003:  # IEEE float
        mean, total = float_stats(data, fmt["bits"])
        n = total // ch
    elif tag in (0x0006, 0x0007):  # G.711 A-law / mu-law
        mean, total = g711_stats(data, "alaw" if tag == 0x0006 else "ulaw")
        n = total // ch
    elif tag == 0x0011:  # IMA ADPCM
        frames = _decode_ima(data, ch, fmt["block_align"], fact)
        mean = (
            float(np.abs(frames.astype(np.int32)).mean() / 32767.0)
            if frames.size else 0.0
        )
        n = len(frames)
    elif tag == 0x0002:  # MS ADPCM
        frames = _decode_ms(data, ch, fmt["block_align"], fact)
        mean = (
            float(np.abs(frames.astype(np.int32)).mean() / 32767.0)
            if frames.size else 0.0
        )
        n = len(frames)
    else:
        raise ValueError(f"unsupported WAV format tag 0x{tag:04x}")
    return {
        "sample_rate": fmt["rate"],
        "channels": ch,
        "n_samples": n,
        "mean_abs_amplitude": mean,
        "codec": {
            0x0001: "pcm", 0x0003: "float", 0x0006: "alaw",
            0x0007: "ulaw", 0x0011: "ima_adpcm", 0x0002: "ms_adpcm",
        }[tag],
    }
