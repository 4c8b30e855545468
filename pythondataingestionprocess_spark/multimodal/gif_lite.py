"""Stdlib GIF decode (GIF87a/GIF89a) — full first-frame pixel stats.

The third of the top web image formats after JPEG/PNG, and like them
decodable with zero codec libraries: the pixel data is LZW with
variable-width codes (9..12 bits growing with the dictionary, spec'd
in the GIF89a specification Appendix F), the rest is fixed-layout
descriptors and palettes. What this module does:

- parses the logical screen descriptor + global color table;
- walks every block: extensions (0xF9 graphic control, application,
  comment, plain text) are skipped structurally, image descriptors
  are counted (``n_frames`` — animated GIFs carry one per frame);
- LZW-decodes the FIRST frame (local palette wins over global if
  present, interlaced rows re-ordered by the 4-pass scheme) and
  reports mean/std intensity over ITU-R 601 luma of the palette
  colors, scaled to 0-1 — the stats contract of the other image
  decoders;
- fails CLOSED (``ValueError``) on truncation, bad LZW codes, a
  missing palette, or out-of-range pixel indexes — callers quarantine
  instead of averaging garbage.

At 100 TB the same economics as the other image codecs apply: the
header/screen descriptor is a handful of bytes for catalog filters;
the LZW decode touches every byte and belongs behind mapInPandas.
"""

from __future__ import annotations

import struct


def _color_table(data: bytes, i: int, flags: int) -> tuple[list[int], int]:
    """(luma-per-index table, next offset) when the table flag is set,
    else ([], i). Luma = ITU-R 601 integer weights (what PIL's
    convert('L') uses), so stats agree with the PIL path when present."""
    if not flags & 0x80:
        return [], i
    size = 2 << (flags & 7)
    end = i + 3 * size
    if end > len(data):
        raise ValueError("truncated color table")
    luma = [
        (data[j] * 299 + data[j + 1] * 587 + data[j + 2] * 114) // 1000
        for j in range(i, end, 3)
    ]
    return luma, end


def _sub_blocks(data: bytes, i: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks starting at i; return (bytes, next)."""
    out = bytearray()
    n = len(data)
    while True:
        if i >= n:
            raise ValueError("truncated sub-block chain")
        sz = data[i]
        i += 1
        if sz == 0:
            return bytes(out), i
        if i + sz > n:
            raise ValueError("truncated sub-block")
        out += data[i:i + sz]
        i += sz


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytearray:
    """GIF-flavored LZW (spec Appendix F): code width starts at
    min_code_size+1, grows when the dictionary fills the current width
    (cap 12 bits), CLEAR resets, END terminates. Emits exactly
    ``n_pixels`` indexes or raises."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1

    out = bytearray()
    # bit reader state (LSB-first per GIF)
    acc = 0
    acc_n = 0
    pos = 0
    width = min_code_size + 1
    table: list[bytes] = [bytes([c]) for c in range(clear)] + [b"", b""]
    prev: bytes | None = None

    while True:
        while acc_n < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended before END code")
            acc |= data[pos] << acc_n
            acc_n += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        acc_n -= width

        if code == clear:
            table = [bytes([c]) for c in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW first code not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            # spec-frozen dictionary: codes max out at 12 bits, so
            # entries past 4095 are unreachable — appending them only
            # grows memory without bound on a long stream (r12 ADVICE)
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)  # len < 4096 here: code <= 4095 = len
        else:
            raise ValueError("LZW code beyond dictionary")
        out += entry
        prev = entry
        if len(out) == n_pixels:
            # frame full — stop HERE like mainstream decoders instead
            # of reading the END code: the final flush code adds a
            # dictionary entry the ENCODER never assigned (it only
            # adds on misses), so decoder- and encoder-side width
            # counters can legitimately disagree by one for the codes
            # AFTER this point, and only trailing END/padding remains.
            return out
        if len(out) > n_pixels:
            raise ValueError("LZW emitted more pixels than the frame holds")
        # "late change" width growth (giflib/spec rule, empirically
        # matched against real-encoder GIFs — r12 review): after the
        # entry with index 2^width - 1 is added, the NEXT code may be
        # 2^width (KwKwK can reference the just-filled slot), so reads
        # widen when the table reaches 2^width; dictionary caps at
        # 4096 entries (width stays 12)
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) != n_pixels:
        raise ValueError(
            f"LZW emitted {len(out)} of {n_pixels} expected pixels"
        )
    return out


def _deinterlace(idx: bytearray, w: int, h: int) -> bytearray:
    """GIF 4-pass interlace: rows 0,8,16.. then 4,12.. then 2,6,10..
    then 1,3,5.. — map stored row order back to display order."""
    out = bytearray(len(idx))
    src = 0
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        for row in range(start, h, step):
            out[row * w:(row + 1) * w] = idx[src * w:(src + 1) * w]
            src += 1
    return out


def decode(content: bytes) -> dict:
    """``{width, height, n_frames, mean_intensity, std_intensity}`` —
    screen dimensions, image-descriptor count, and full pixel stats of
    the FIRST frame's luma (palette-resolved). Raises ``ValueError``
    on anything malformed."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(content) < 13:
        raise ValueError("truncated logical screen descriptor")
    width, height = struct.unpack("<HH", content[6:10])
    flags = content[10]
    global_luma, i = _color_table(content, 13, flags)

    n_frames = 0
    first_stats: tuple[float, float] | None = None
    n = len(content)
    while True:
        if i >= n:
            raise ValueError("missing GIF trailer")
        block = content[i]
        i += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            if i >= n:
                raise ValueError("truncated extension")
            i += 1  # label
            _, i = _sub_blocks(content, i)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x} at {i - 1}")
        # image descriptor
        if i + 9 > n:
            raise ValueError("truncated image descriptor")
        left, top, fw, fh = struct.unpack("<HHHH", content[i:i + 8])
        iflags = content[i + 8]
        i += 9
        local_luma, i = _color_table(content, i, iflags)
        if i >= n:
            raise ValueError("truncated image data")
        min_code = content[i]
        i += 1
        lzw, i = _sub_blocks(content, i)
        n_frames += 1
        if first_stats is None:
            luma = local_luma or global_luma
            if not luma:
                raise ValueError("frame has neither local nor global palette")
            if fw == 0 or fh == 0:
                raise ValueError("empty frame dimensions")
            if left + fw > width or top + fh > height:
                raise ValueError("frame exceeds the logical screen")
            if fw * fh > (1 << 26):
                # decompression-bomb guard (r12 review): a few-KB GIF
                # can declare 65535x65535 and amplify ~2700x through
                # max-length dictionary codes; cap BEFORE decoding so
                # a hostile crawl blob quarantines instead of OOMing
                # the executor task
                raise ValueError("frame too large (decompression bomb guard)")
            idx = _lzw_decode(min_code, lzw, fw * fh)
            if iflags & 0x40:
                idx = _deinterlace(idx, fw, fh)
            if max(idx) >= len(luma):
                raise ValueError("pixel index beyond palette")
            total = 0
            total_sq = 0
            for px in idx:
                v = luma[px]
                total += v
                total_sq += v * v
            cnt = width * height
            if (fw, fh, left, top) != (width, height, 0, 0):
                # partial first frame: composite over the background
                # color on the LOGICAL SCREEN, matching how a full
                # rasterizer (the PIL path) reports canvas stats
                # (r12 review)
                bg = content[11]
                if bg >= len(global_luma or []):
                    raise ValueError("background color index beyond palette")
                v = global_luma[bg]
                rest = cnt - fw * fh
                total += v * rest
                total_sq += v * v * rest
            mean = total / cnt
            var = max(total_sq / cnt - mean * mean, 0.0)
            first_stats = (mean / 255.0, (var ** 0.5) / 255.0)
    if n_frames == 0 or first_stats is None:
        raise ValueError("GIF contains no image frames")
    return {
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "mean_intensity": first_stats[0],
        "std_intensity": first_stats[1],
    }
