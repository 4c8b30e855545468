"""Dependency-free baseline-TIFF decoder (stdlib struct + numpy).

TIFF is the scanned-document / raw-photo workhorse; its baseline
profile needs no codec library: strips of raw bytes, byte-oriented
PackBits RLE (TIFF 6.0 §9), or LZW (§13 — the MSB-first,
early-change variant of GIF's LZW). Handled: both byte orders, 8-bit
grayscale (BlackIsZero and the inverted WhiteIsZero), RGB(A) chunky,
palette-color (16-bit ColorMap), compression none / PackBits / LZW,
the horizontal-differencing predictor, and multi-strip layouts. Rejected loudly (quarantine):
tiled layouts, planar configuration 2, non-8-bit depths, and the
codec compressions (G3/G4 fax, old- and new-style JPEG).

``decode`` returns width/height/channels and mean_intensity: the
mean over the COLOR samples (alpha excluded), scaled to 0-1 by the
sample maximum.

Spec: Adobe TIFF 6.0 (1992) — IFD walk §2, PackBits §9, LZW §13,
predictor §14. Reference anchor: binary media ingestion is the
engine-added analog of the reference's binary statement ingestion
(pdf_to_xlsx.py:27-30).
"""

from __future__ import annotations

import struct

import numpy as np

# IFD entry type → byte size (only the types baseline tags use)
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I"}


def _read_ifd(data: bytes, bo: str, off: int) -> dict[int, tuple]:
    """First-IFD walk → {tag: value-tuple} for BYTE/SHORT/LONG tags
    (the only types baseline decode needs; others are skipped)."""
    if off + 2 > len(data):
        raise ValueError("truncated IFD")
    (n,) = struct.unpack_from(bo + "H", data, off)
    out: dict[int, tuple] = {}
    base = off + 2
    if base + 12 * n > len(data):
        raise ValueError("truncated IFD entries")
    for i in range(n):
        tag, typ, count = struct.unpack_from(bo + "HHI", data, base + 12 * i)
        if typ not in _TYPE_FMT:
            continue
        size = _TYPE_SIZE[typ] * count
        if size <= 4:
            voff = base + 12 * i + 8
        else:
            (voff,) = struct.unpack_from(bo + "I", data, base + 12 * i + 8)
            if voff + size > len(data):
                raise ValueError(f"tag {tag} values out of range")
        out[tag] = struct.unpack_from(
            bo + _TYPE_FMT[typ] * count, data, voff
        )
    return out


def _packbits(data: bytes, expected: int) -> bytes:
    """TIFF 6.0 §9: n in 0..127 → n+1 literals; n in -127..-1 → next
    byte repeated 1-n times; -128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > len(data):
                raise ValueError("truncated PackBits literal run")
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out += data[i:i + 1] * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) != expected:
        raise ValueError(
            f"PackBits produced {len(out)} of {expected} bytes"
        )
    return bytes(out)


def _lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-flavored LZW (6.0 §13): MSB-first bit packing, 8-bit
    symbols, CLEAR=256, EOI=257, first dictionary slot 258, and EARLY
    code-width change (9→10 when the table reaches 511, one code
    before the GIF rule). Emits exactly ``expected`` bytes."""
    out = bytearray()
    acc = 0
    acc_n = 0
    pos = 0
    width = 9
    table: list[bytes] = [bytes([c]) for c in range(256)] + [b"", b""]
    prev: bytes | None = None
    while True:
        while acc_n < width:
            if pos >= len(data):
                # encoders may omit the trailing EOI; accept a clean
                # end only when the strip is already complete
                if len(out) == expected and acc == 0:
                    return bytes(out)
                raise ValueError("LZW strip ended before EOI")
            acc = (acc << 8) | data[pos]
            acc_n += 8
            pos += 1
        code = (acc >> (acc_n - width)) & ((1 << width) - 1)
        acc_n -= width
        acc &= (1 << acc_n) - 1

        if code == 256:  # Clear
            table = [bytes([c]) for c in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code == 257:  # EndOfInformation
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW first code not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code beyond dictionary")
        out += entry
        prev = entry
        if len(out) > expected:
            raise ValueError("LZW produced more bytes than the strip holds")
        # EARLY change (TIFF vs GIF): widen as soon as the NEXT code
        # to be assigned is 2^width - 1, i.e. table already holds
        # 2^width - 1 entries (libtiff's `nextdata` rule)
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    if len(out) != expected:
        raise ValueError(f"LZW produced {len(out)} of {expected} bytes")
    return bytes(out)


def decode(data: bytes) -> dict:
    """TIFF bytes → {"width", "height", "channels", "mean_intensity"}
    (mean over color samples, alpha excluded, 0-1). Raises
    ValueError on junk or unsupported variants (the decode_media
    quarantine path)."""
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF (bad byte-order mark)")
    bo = "<" if data[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack_from(bo + "HI", data, 2)
    if magic != 42:
        raise ValueError(f"not a TIFF (magic {magic})")
    tags = _read_ifd(data, bo, ifd_off)

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"missing required TIFF tag {tag}")
            return default
        return v[0]

    if 322 in tags or 323 in tags:
        raise ValueError("tiled TIFF not supported")
    if one(284, 1) != 1:
        raise ValueError("planar configuration 2 not supported")
    width, height = one(256), one(257)
    if not width or not height:
        raise ValueError(f"bad TIFF geometry {width}x{height}")
    if width * height > 100_000_000:
        raise ValueError("TIFF dimensions exceed the 100MP decode guard")
    spp = one(277, 1)
    bits = tags.get(258, (8,) * spp)
    if any(b != 8 for b in bits) or len(bits) != spp:
        raise ValueError(f"unsupported bits-per-sample {bits}")
    compression = one(259, 1)
    photometric = one(262)
    offsets = tags.get(273)
    counts = tags.get(279)
    if offsets is None or counts is None or len(offsets) != len(counts):
        raise ValueError("missing or mismatched strip tables")
    rows_per_strip = one(278, height)
    if rows_per_strip == 0:
        raise ValueError("zero RowsPerStrip")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")
    n_strips = (height + rows_per_strip - 1) // rows_per_strip
    if len(offsets) != n_strips:
        raise ValueError(
            f"{len(offsets)} strips for {n_strips}-strip geometry"
        )

    stride = width * spp
    rows = []
    for s in range(n_strips):
        off, cnt = offsets[s], counts[s]
        if off + cnt > len(data):
            raise ValueError("strip extends past end of file")
        strip_rows = min(rows_per_strip, height - s * rows_per_strip)
        expected = strip_rows * stride
        raw = data[off:off + cnt]
        if compression == 1:
            if len(raw) < expected:
                raise ValueError("truncated uncompressed strip")
            raw = raw[:expected]
        elif compression == 32773:
            raw = _packbits(raw, expected)
        elif compression == 5:
            raw = _lzw_decode(raw, expected)
        else:
            raise ValueError(f"unsupported TIFF compression {compression}")
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(strip_rows, stride)
        if predictor == 2:
            # horizontal differencing: cumulative sum per sample
            # channel within each row (§14), modulo 256
            arr = np.cumsum(
                arr.reshape(strip_rows, width, spp), axis=1, dtype=np.uint32
            ).astype(np.uint8).reshape(strip_rows, stride)
        rows.append(arr)
    img = np.concatenate(rows, axis=0).reshape(height, width, spp)

    if photometric in (0, 1):  # grayscale (0 = WhiteIsZero, inverted)
        if spp != 1:
            # gray + alpha: stats over the gray channel only
            gray = img[:, :, 0]
        else:
            gray = img[:, :, 0]
        mean = float(gray.astype(np.float64).mean() / 255.0)
        if photometric == 0:
            mean = 1.0 - mean
        return {"width": width, "height": height, "channels": spp,
                "mean_intensity": mean}
    if photometric == 2:  # RGB(A)
        if spp < 3:
            raise ValueError(f"RGB photometric with {spp} samples")
        color = img[:, :, :3]
        mean = float(color.astype(np.float64).mean() / 255.0)
        return {"width": width, "height": height, "channels": spp,
                "mean_intensity": mean}
    if photometric == 3:  # palette-color, 16-bit ColorMap
        cmap = tags.get(320)
        if spp != 1 or cmap is None or len(cmap) != 3 * 256:
            raise ValueError("bad palette TIFF (ColorMap/spp)")
        cm = np.array(cmap, dtype=np.float64).reshape(3, 256)
        idx = img[:, :, 0]
        mean = float(cm[:, idx].mean() / 65535.0)
        return {"width": width, "height": height, "channels": 1,
                "mean_intensity": mean}
    raise ValueError(f"unsupported photometric {photometric}")
