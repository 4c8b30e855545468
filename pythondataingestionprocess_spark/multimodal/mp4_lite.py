"""Stdlib MP4 / ISO BMFF (MPEG-4 Part 12) container metadata — no
frame decode.

An MP4 file is a tree of length-prefixed boxes; everything a video
catalog stage needs lives in ``moov``: presentation duration
(``mvhd``: timescale + duration), per-track media kind (``hdlr``:
'vide'/'soun'/...), visual dimensions (``tkhd``: 16.16 fixed point),
and the sample count (``stsz``/``stz2``). Parsing them is pure byte
walking — the codec payload in ``mdat`` is never touched.
``first_video_sample`` follows the sample tables to the first frame's
bytes, which media.real_decode turns into pixel stats only for the
uncompressed ``RAW_CODECS``; compressed frames are left to native
decoders upstream.

Scale: metadata boxes are KBs at the FRONT of a well-formed (faststart)
file; a reader that range-fetches ``moov`` catalogs a petabyte of video
without ever pulling payload bytes.
"""

from __future__ import annotations

import struct


def _iter_boxes(buf: bytes, start: int, end: int):
    """Yield (box_type, body_start, body_end) for the boxes in
    buf[start:end]; handles 64-bit largesize boxes."""
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", buf[i:i + 4])
        btype = buf[i + 4:i + 8]
        body = i + 8
        if size == 1:  # 64-bit largesize follows the type
            if body + 8 > end:
                raise ValueError(f"truncated largesize box at {i}")
            (size,) = struct.unpack(">Q", buf[body:body + 8])
            body += 8
        elif size == 0:  # box extends to end of enclosing scope
            size = end - i
        if size < 8 or i + size > end:
            raise ValueError(f"bad box size {size} at {i}")
        yield btype, body, i + size
        i += size


def _find(buf: bytes, start: int, end: int, btype: bytes):
    for t, b, e in _iter_boxes(buf, start, end):
        if t == btype:
            return b, e
    return None


def _fullbox(buf: bytes, body: int) -> tuple[int, int]:
    """(version, first-field offset) of a FullBox body."""
    return buf[body], body + 4


def parse_meta(content: bytes) -> dict:
    """Container metadata: duration_sec, n_tracks, track_types (sorted
    handler fourccs), width/height of the first video track, n_samples
    and ``codec`` (stsd sample-entry fourcc, e.g. 'avc1'/'jpeg') of
    that track. Raises ``ValueError`` on non-BMFF or truncated input
    (quarantine discipline)."""
    top = list(_iter_boxes(content, 0, len(content)))
    types = [t for t, _, _ in top]
    if b"ftyp" not in types or b"moov" not in types:
        raise ValueError("not an ISO-BMFF file (missing ftyp/moov)")
    moov_b, moov_e = next((b, e) for t, b, e in top if t == b"moov")

    mvhd = _find(content, moov_b, moov_e, b"mvhd")
    if mvhd is None:
        raise ValueError("moov without mvhd")
    ver, off = _fullbox(content, mvhd[0])
    if ver == 1:
        _, _, timescale, duration = struct.unpack(
            ">QQIQ", content[off:off + 28]
        )
    else:
        _, _, timescale, duration = struct.unpack(
            ">IIII", content[off:off + 16]
        )
    if timescale == 0:
        raise ValueError("mvhd timescale 0")

    track_types: list[str] = []
    width = height = n_samples = codec = depth = None
    saw_video = False
    for t, b, e in _iter_boxes(content, moov_b, moov_e):
        if t != b"trak":
            continue
        handler = "unkn"
        mdia = _find(content, b, e, b"mdia")
        if mdia is not None:
            hdlr = _find(content, mdia[0], mdia[1], b"hdlr")
            if hdlr is not None:
                _, off_h = _fullbox(content, hdlr[0])
                handler = content[off_h + 4:off_h + 8].decode(
                    "ascii", "replace"
                )
        track_types.append(handler)
        # stats describe the FIRST video track only — gated on a flag,
        # not `width is None`, so a first track without a tkhd can't
        # let a second track overwrite codec/n_samples and diverge
        # from first_video_sample's first-track walk
        if handler == "vide" and not saw_video:
            saw_video = True
            tkhd = _find(content, b, e, b"tkhd")
            if tkhd is not None:
                ver_t, off_t = _fullbox(content, tkhd[0])
                # width/height are the LAST 8 bytes of tkhd (16.16)
                end_t = tkhd[1]
                w_fp, h_fp = struct.unpack(">II", content[end_t - 8:end_t])
                width, height = w_fp >> 16, h_fp >> 16
            stbl = _video_stbl(content, b, e)
            if stbl is not None:
                stsz = (
                    _find(content, stbl[0], stbl[1], b"stsz")
                    or _find(content, stbl[0], stbl[1], b"stz2")
                )
                if stsz:
                    # stsz: uint32 sample_size, uint32 sample_count;
                    # stz2: 24-bit reserved + uint8 field_size, uint32
                    # sample_count — the count sits at +4 either way
                    _, off_s = _fullbox(content, stsz[0])
                    _, n_samples = struct.unpack(
                        ">II", content[off_s:off_s + 8]
                    )
                stsd = _find(content, stbl[0], stbl[1], b"stsd")
                if stsd:
                    # fullbox, uint32 entry_count, then sample entries
                    # (uint32 size + fourcc ...) — the fourcc IS the
                    # codec identifier ('avc1', 'jpeg', 'mjpa', ...)
                    _, off_d = _fullbox(content, stsd[0])
                    codec = content[off_d + 8:off_d + 12].decode(
                        "ascii", "replace"
                    )
                    # VisualSampleEntry pixel depth (entry offset 82,
                    # after compressorname): the raw-codec frame
                    # layout discriminator ('raw ' 24 = RGB, 32 =
                    # ARGB). None when the entry is truncated.
                    entry_start = off_d + 4
                    if entry_start + 4 <= len(content):
                        (entry_size,) = struct.unpack(
                            ">I", content[entry_start:entry_start + 4]
                        )
                        if (
                            entry_size >= 86
                            and entry_start + 84 <= len(content)
                        ):
                            (depth,) = struct.unpack(
                                ">H",
                                content[entry_start + 82:entry_start + 84],
                            )
    return {
        "duration_sec": duration / timescale,
        "n_tracks": len(track_types),
        "track_types": sorted(track_types),
        "width": width,
        "height": height,
        "n_samples": n_samples,
        "codec": codec,
        "depth": depth,
    }


def _video_stbl(content: bytes, trak_b: int, trak_e: int):
    """(body_start, body_end) of a trak's sample table box, or None."""
    mdia = _find(content, trak_b, trak_e, b"mdia")
    if mdia is None:
        return None
    minf = _find(content, mdia[0], mdia[1], b"minf")
    if minf is None:
        return None
    return _find(content, minf[0], minf[1], b"stbl")


# UNCOMPRESSED sample-entry fourccs: each sample is raw pixel
# data, so first-frame stats need no codec at all — 'raw ' is packed
# RGB (depth 24) / ARGB (depth 32) per the QuickTime File Format
# spec's "uncompressed video" entries; '2vuy' is 8-bit 4:2:2 YCbCr
# packed Cb Y'0 Cr Y'1 (2 bytes/pixel, Rec. 601 video range).
RAW_CODECS = frozenset({"raw ", "2vuy"})


def first_video_sample(content: bytes) -> bytes | None:
    """Byte payload of the FIRST sample of the first video track, via
    the sample tables: sample 1 starts at chunk 1's offset (``stco`` /
    ``co64``) and spans the first size from ``stsz`` (or its fixed
    sample_size) or compact ``stz2``. Returns None when any table is
    absent or the span falls outside every top-level ``mdat`` — callers
    treat that as metadata-only, never an error. A faststart head
    without its mdat keeps chunk offsets that now point into moov or
    past the end; reading those bytes as a frame would be a misread."""
    top = list(_iter_boxes(content, 0, len(content)))
    moov = next(((b, e) for t, b, e in top if t == b"moov"), None)
    if moov is None:
        return None
    for t, b, e in _iter_boxes(content, moov[0], moov[1]):
        if t != b"trak":
            continue
        mdia = _find(content, b, e, b"mdia")
        hdlr = mdia and _find(content, mdia[0], mdia[1], b"hdlr")
        if not hdlr:
            continue
        _, off_h = _fullbox(content, hdlr[0])
        if content[off_h + 4:off_h + 8] != b"vide":
            continue
        stbl = _video_stbl(content, b, e)
        if stbl is None:
            return None
        stsz = _find(content, stbl[0], stbl[1], b"stsz")
        stz2 = _find(content, stbl[0], stbl[1], b"stz2")
        if stsz is not None:
            _, off_s = _fullbox(content, stsz[0])
            fixed_size, count = struct.unpack(
                ">II", content[off_s:off_s + 8]
            )
            if count == 0:
                return None
            size = fixed_size or struct.unpack(
                ">I", content[off_s + 8:off_s + 12]
            )[0]
        elif stz2 is not None:
            # compact sizes (parse_meta supports stz2, so this walk
            # must too): 24-bit reserved + uint8
            # field_size (4/8/16 bits), uint32 count, packed sizes
            _, off_s = _fullbox(content, stz2[0])
            field_size = content[off_s + 3]
            (count,) = struct.unpack(">I", content[off_s + 4:off_s + 8])
            if count == 0:
                return None
            first = content[off_s + 8]
            if field_size == 4:
                size = first >> 4
            elif field_size == 8:
                size = first
            elif field_size == 16:
                (size,) = struct.unpack(
                    ">H", content[off_s + 8:off_s + 10]
                )
            else:
                return None
        else:
            return None
        box, fmt = (_find(content, stbl[0], stbl[1], b"stco"), ">I")
        if box is None:
            box, fmt = (_find(content, stbl[0], stbl[1], b"co64"), ">Q")
        if box is None:
            return None
        _, off_c = _fullbox(content, box[0])
        (n_off,) = struct.unpack(">I", content[off_c:off_c + 4])
        if n_off == 0:
            return None
        (offset,) = struct.unpack(
            fmt, content[off_c + 4:off_c + 4 + struct.calcsize(fmt)]
        )
        if size == 0 or not any(
            box_t == b"mdat" and box_b <= offset and offset + size <= box_e
            for box_t, box_b, box_e in top
        ):
            return None
        return content[offset:offset + size]
    return None
