"""Dependency-free BMP decoder (stdlib struct + numpy).

Windows bitmaps need no codec library: pixel data is raw (or byte-RLE)
BGR rows. Handled: BITMAPCOREHEADER (12-byte, OS/2) and
BITMAPINFOHEADER-family (40/52/56/108/124-byte) DIBs; 1/4/8-bit
palette, 16-bit (555 default or BITFIELDS masks), 24-bit BGR, 32-bit
BGRx/BITFIELDS; BI_RLE8 runs (absolute, encoded, EOL/EOB/delta);
bottom-up and top-down rows. Rejected loudly (quarantine): BI_RLE4,
JPEG/PNG-embedded payloads, and malformed geometry/palette indices.

``decode`` returns width/height/channels and mean_intensity: the
mean over the COLOR samples (alpha excluded), scaled to 0-1 by the
sample maximum.

Spec: Microsoft "Bitmap Storage" / BITMAPFILEHEADER+BITMAPINFOHEADER
documentation; RLE8 per the "Compression in Bitmaps" section.
Reference anchor: binary media ingestion is the engine-added analog
of the reference's binary statement ingestion (pdf_to_xlsx.py:27-30).
"""

from __future__ import annotations

import struct

import numpy as np


def _mask_shift(mask: int) -> tuple[int, int]:
    """(right-shift, bit-width) to extract and scale a channel from a
    BITFIELDS mask; ValueError on a non-contiguous or empty mask."""
    if mask == 0:
        raise ValueError("empty BITFIELDS channel mask")
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    if (mask >> shift) != (1 << width) - 1:
        raise ValueError(f"non-contiguous BITFIELDS mask 0x{mask:x}")
    return shift, width


def _rle8(data: bytes, width: int, height: int) -> np.ndarray:
    """BI_RLE8 → (height, width) palette indices, top-down row order.
    Encoded mode (count, value), absolute mode (0, n, n bytes, pad to
    word), 0,0 = end of line, 0,1 = end of bitmap, 0,2 = delta."""
    out = np.zeros((height, width), dtype=np.uint8)
    row = col = 0  # rows counted bottom-up per spec
    i = 0
    while i + 1 < len(data):
        a, b = data[i], data[i + 1]
        i += 2
        if a:  # encoded run
            if col + a > width or row >= height:
                raise ValueError("RLE8 run overflows row")
            out[row, col:col + a] = b
            col += a
        elif b == 0:  # end of line
            row += 1
            col = 0
        elif b == 1:  # end of bitmap
            return out[::-1]
        elif b == 2:  # delta
            if i + 2 > len(data):
                raise ValueError("truncated RLE8 delta")
            col += data[i]
            row += data[i + 1]
            i += 2
            if col > width or row > height:
                raise ValueError("RLE8 delta out of range")
        else:  # absolute run of b literals, word-aligned
            if i + b > len(data) or col + b > width or row >= height:
                raise ValueError("RLE8 absolute run overflows")
            out[row, col:col + b] = np.frombuffer(
                data, dtype=np.uint8, count=b, offset=i
            )
            col += b
            i += b + (b & 1)
    raise ValueError("RLE8 stream without end-of-bitmap marker")


def decode(data: bytes) -> dict:
    """BMP bytes → {"width", "height", "channels", "mean_intensity"}
    (mean over color samples, alpha excluded, 0-1).
    Raises ValueError on junk or unsupported variants."""
    if len(data) < 26 or data[:2] != b"BM":
        raise ValueError("not a BMP (bad signature)")
    (data_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    masks = None
    if hdr_size == 12:  # BITMAPCOREHEADER: uint16 geometry, BGR palette
        width, height, _planes, bpp = struct.unpack_from("<HHHH", data, 18)
        top_down = False
        compression = 0
        n_colors = 0
        pal_entry = 3
        pal_off = 14 + 12
    elif hdr_size >= 40:
        width, height, _planes, bpp, compression, _isz, _xp, _yp, \
            n_colors, _imp = struct.unpack_from("<iihhIIiiII", data, 18)
        top_down = height < 0
        height = abs(height)
        pal_entry = 4
        pal_off = 14 + hdr_size
        if compression == 3:  # BITFIELDS
            if hdr_size == 40:
                # masks follow the header (and precede any palette)
                masks = struct.unpack_from("<III", data, 54)
                pal_off += 12
            else:
                masks = struct.unpack_from("<III", data, 54)
    else:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    if width <= 0 or height <= 0:
        raise ValueError(f"bad BMP geometry {width}x{height}")
    if width * height > 100_000_000:
        raise ValueError("BMP dimensions exceed the 100MP decode guard")
    if compression == 2:
        raise ValueError("BI_RLE4 not supported")
    if compression not in (0, 1, 3):
        raise ValueError(f"unsupported BMP compression {compression}")
    # bfOffBits must land past the header (and the palette, when one
    # is required) — an offset pointing INTO them would silently
    # decode header bytes as pixels
    min_off = pal_off
    if bpp <= 8:
        min_off += (n_colors or (1 << bpp)) * pal_entry
    if data_off < min_off:
        raise ValueError(
            f"pixel data offset {data_off} inside the header/palette"
        )

    if compression == 1:  # BI_RLE8
        if bpp != 8:
            raise ValueError(f"RLE8 with bpp {bpp}")
        idx = _rle8(data[data_off:], width, height)
        if top_down:
            idx = idx[::-1]
        return _palette_stats(data, pal_off, n_colors, pal_entry, bpp,
                              idx, width, height)

    stride = (width * bpp + 31) // 32 * 4
    need = stride * height
    if data_off + need > len(data):
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=need, offset=data_off
    ).reshape(height, stride)
    if not top_down:
        rows = rows[::-1]

    if bpp in (1, 4, 8):
        if bpp == 8:
            idx = rows[:, :width]
        elif bpp == 4:
            hi = rows >> 4
            lo = rows & 0xF
            idx = np.stack([hi, lo], axis=2).reshape(height, -1)[:, :width]
        else:
            bits = np.unpackbits(rows, axis=1)
            idx = bits[:, :width]
        return _palette_stats(data, pal_off, n_colors, pal_entry, bpp,
                              idx, width, height)
    if bpp == 24:
        px = rows[:, : width * 3].reshape(height, width, 3)
        mean = float(px.astype(np.float64).mean() / 255.0)
        return {"width": width, "height": height, "channels": 3,
                "mean_intensity": mean}
    if bpp in (16, 32):
        dt = "<u2" if bpp == 16 else "<u4"
        vals = np.frombuffer(
            np.ascontiguousarray(rows[:, : width * bpp // 8]).tobytes(),
            dtype=dt,
        ).astype(np.uint32).reshape(height, width)
        if masks is None:
            masks = (0x7C00, 0x03E0, 0x001F) if bpp == 16 else (
                0xFF0000, 0x00FF00, 0x0000FF
            )
        acc = np.zeros((height, width), dtype=np.float64)
        for m in masks:
            shift, mwidth = _mask_shift(m)
            chan = (vals >> shift) & ((1 << mwidth) - 1)
            acc += chan / float((1 << mwidth) - 1)
        mean = float(acc.mean() / 3.0)
        return {"width": width, "height": height, "channels": 3,
                "mean_intensity": mean}
    raise ValueError(f"unsupported BMP bit depth {bpp}")


def _palette_stats(data: bytes, pal_off: int, n_colors: int,
                   pal_entry: int, bpp: int, idx: np.ndarray,
                   width: int, height: int) -> dict:
    n = n_colors or (1 << bpp)
    end = pal_off + n * pal_entry
    if end > len(data):
        raise ValueError("truncated BMP palette")
    pal = np.frombuffer(
        data, dtype=np.uint8, count=n * pal_entry, offset=pal_off
    ).reshape(n, pal_entry)[:, :3]  # BGR(A) → BGR
    if int(idx.max(initial=0)) >= n:
        raise ValueError("palette index out of range")
    px = pal[idx]
    mean = float(px.astype(np.float64).mean() / 255.0)
    return {"width": width, "height": height, "channels": 3,
            "mean_intensity": mean}
