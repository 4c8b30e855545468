"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata (engine-added per BASELINE.json north
star).

The Spark-side plumbing — schemas, Arrow-batched UDF signatures,
partition sizing — is format-agnostic. ``real_decode`` decodes the
formats ``synth.py`` builds for the oracle-checked decode faces, from
scratch against the public specs with stdlib + numpy only:

- image: BMP (bmp_lite) and baseline TIFF (tiff_lite), full pixel
  stats;
- audio: WAV — canonical PCM through the stdlib ``wave`` module,
  G.711 / IMA and MS ADPCM / IEEE float / 24-bit through wav_lite —
  full sample stats;
- video: ISO-BMFF / QuickTime container metadata (mp4_lite), with
  first-frame pixel stats for uncompressed 'raw ' and '2vuy' tracks;
  compressed tracks (H.264, ...) carry a NULL mean next to real
  metadata.

Every other format (PNG, JPEG, GIF, HEIF, FLAC, MP3, Ogg, ...) raises
ValueError, which ``decode_media`` turns into a ``quarantine:`` row;
decode those formats upstream with a native library.

``fake_decode_stats`` is the deterministic stand-in for pipeline
tests that don't care about real formats: it derives "pixel stats"
purely from the raw bytes, so the full pipeline (binary in →
mapInPandas → typed stats out) runs end-to-end on arbitrary
payloads.

Scale notes: media payloads dominate row size, so
- keep payloads in their own column and prune it early
  (``binary_meta`` touches bytes once, emits narrow metadata);
- decode via ``mapInPandas`` so each Arrow batch amortizes Python
  transfer, and cap ``spark.sql.files.maxPartitionBytes`` /
  ``maxRecordsPerBatch`` so a batch of blobs fits executor memory;
- never collect payloads to the driver.
"""

from __future__ import annotations

import io
import wave
from array import array
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.multimodal import (
    bmp_lite,
    mp4_lite,
    tiff_lite,
    wav_lite,
)

# Schema of the decoded-media stats emitted by decode_media /
# fake_decode_stats (per blob).
MEDIA_STATS_SCHEMA = (
    "id long, media_type string, byte_len long, "
    "width int, height int, n_frames int, mean_intensity double, "
    "decode_status string"
)

_INT32_MAX = 2**31 - 1


def binary_meta(df: DataFrame, bin_col: str) -> DataFrame:
    """Narrow per-blob metadata: byte length + md5 digest. Pure
    expressions — no Python."""
    c: Column = F.col(bin_col)
    return df.withColumn("byte_len", F.length(c).cast("long")).withColumn(
        "digest", F.md5(c)
    )


def _major_type(media_type: str | None) -> str | None:
    """'image/bmp; q=1' → 'image'; coarse labels pass through —
    the ONE place MIME normalization lives (shared by real_decode and
    fake_decode_stats)."""
    if not media_type:
        return media_type
    return media_type.split("/", 1)[0].strip().lower()


def real_decode(content: bytes, media_type: str) -> dict:
    """Decode one media blob into stats. ``media_type`` accepts the
    coarse labels the fake decoder uses ("image"/"audio"/"video") and
    full MIME types ("image/bmp", "audio/wav" — what real sources like
    the WARC reader carry): the major type routes, then magic bytes
    pick the decoder.

    Unsupported input raises, and decode_media quarantines the row: an
    image without a BMP/TIFF magic raises ValueError here, audio that
    is not WAV fails inside wav_lite, and a video that is not ISO-BMFF
    fails in ``mp4_lite.parse_meta``."""
    major = _major_type(media_type)
    if major == "image":
        if content[:2] == b"BM":
            stats = bmp_lite.decode(content)
        elif content[:4] in (b"II*\x00", b"MM\x00*"):
            stats = tiff_lite.decode(content)
        else:
            raise ValueError("unrecognized image format (BMP and TIFF only)")
        return {
            "byte_len": len(content),
            "width": stats["width"],
            "height": stats["height"],
            "n_frames": 1,
            "mean_intensity": stats["mean_intensity"],
        }
    if major == "audio":
        return _decode_wav(content)
    if major == "video":
        meta = mp4_lite.parse_meta(content)
        if meta["n_samples"] is not None and meta["n_samples"] > _INT32_MAX:
            # stsz's sample_count is a raw uint32 a corrupt file can
            # max out; n_frames is int32, and an overflow escaping
            # real_decode kills the whole Arrow batch instead of
            # quarantining one row
            raise ValueError("sample count exceeds the int32 stats column")
        mean = None
        if meta["codec"] in mp4_lite.RAW_CODECS:
            # uncompressed samples ARE pixel data; a frame whose byte
            # count contradicts the declared geometry stays
            # metadata-only, never a misread. Other codecs keep a NULL
            # mean next to real container metadata.
            frame = mp4_lite.first_video_sample(content)
            if frame is not None:
                try:
                    mean = _raw_frame_mean(
                        frame, meta["width"], meta["height"],
                        meta["codec"], meta["depth"],
                    )
                except ValueError:
                    pass
        return {
            "byte_len": len(content),
            "width": meta["width"],
            "height": meta["height"],
            "n_frames": meta["n_samples"],
            "mean_intensity": mean,
        }
    raise NotImplementedError(
        f"no decoder for media type {media_type!r}; use fake_decode_stats "
        "for pipeline tests"
    )


def _raw_frame_mean(
    frame: bytes, width: int | None, height: int | None,
    codec: str, depth: int | None,
) -> float:
    """Mean luma of one uncompressed video frame, normalized 0-1 like
    the image stats. '2vuy' (packed 4:2:2: Cb Y'0 Cr Y'1) carries
    video-range luma, mapped (Y-16)/219 per Rec. 601; 'raw ' RGB/ARGB
    is full-range, Rec. 601 luma / 255. Raises ValueError when the
    frame size contradicts the declared geometry (the caller stays
    metadata-only)."""
    if not width or not height:
        raise ValueError("raw frame without tkhd geometry")
    if codec == "2vuy":
        if len(frame) != width * height * 2:
            raise ValueError(
                f"2vuy frame {len(frame)}B != {width}x{height}x2"
            )
        y = np.frombuffer(frame, dtype=np.uint8)[1::2].astype(np.float64)
        return float(min(max((y.mean() - 16.0) / 219.0, 0.0), 1.0))
    if codec == "raw ":
        if depth == 24:
            px, off = 3, 0
        elif depth == 32:
            px, off = 4, 1  # ARGB: alpha leads
        else:
            raise ValueError(f"unsupported 'raw ' depth {depth}")
        if len(frame) != width * height * px:
            raise ValueError(
                f"raw frame {len(frame)}B != {width}x{height}x{px}"
            )
        rgb = np.frombuffer(frame, dtype=np.uint8).reshape(-1, px)
        luma = (
            0.299 * rgb[:, off]
            + 0.587 * rgb[:, off + 1]
            + 0.114 * rgb[:, off + 2]
        )
        return float(luma.mean() / 255.0)
    raise ValueError(f"not a raw video codec: {codec}")


def _decode_wav(content: bytes) -> dict:
    """WAV decode: the stdlib ``wave`` module handles canonical PCM
    (8/16/32-bit); everything it rejects — G.711 mu-law/A-law, IMA and
    MS ADPCM, IEEE float, 24-bit and EXTENSIBLE PCM — routes to
    wav_lite, which decodes the samples too. Both paths map their
    stats through ``_audio_stats``, so one int32 guard covers every
    audio row."""
    try:
        with wave.open(io.BytesIO(content)) as w:
            rate, n_ch, n_frames = (
                w.getframerate(), w.getnchannels(), w.getnframes()
            )
            width_bytes = w.getsampwidth()
            if width_bytes not in (1, 2, 4):
                # 24-bit PCM: delegate BEFORE materializing the whole
                # payload just to discard it
                return _audio_stats(len(content), wav_lite.decode(content))
            frames = w.readframes(n_frames)
    except wave.Error:
        # non-PCM or extensible: the stdlib reader refuses before
        # touching sample data; wav_lite re-parses from the top (and
        # raises ValueError on junk — the quarantine path)
        return _audio_stats(len(content), wav_lite.decode(content))
    if width_bytes == 1:  # unsigned 8-bit
        samples = array("B", frames)
        mean = (
            sum(abs(s - 128) for s in samples) / len(samples) / 127.0
            if samples else 0.0
        )
    else:
        samples = array("h" if width_bytes == 2 else "i", frames)
        full = 32767.0 if width_bytes == 2 else 2147483647.0
        mean = (
            sum(abs(s) for s in samples) / len(samples) / full
            if samples else 0.0
        )
    return _audio_stats(len(content), {
        "sample_rate": rate,
        "channels": n_ch,
        "n_samples": n_frames,
        "mean_abs_amplitude": mean,
    })


def _audio_stats(byte_len: int, meta: dict) -> dict:
    """Audio decoder stats → MEDIA_STATS_SCHEMA (audio has no pixels):
    width = sample rate (Hz), height = channel count, n_frames =
    per-channel sample count, mean_intensity = mean |amplitude|
    normalized to 0-1."""
    if (
        meta["n_samples"] > _INT32_MAX
        or meta["sample_rate"] > _INT32_MAX
        or meta["channels"] > _INT32_MAX
    ):
        # int32 guard on EVERY stats column this mapping feeds: the WAV
        # fmt rate and the data/fact counts are raw header uint32s, and
        # an overflow that escapes real_decode dies in the batch-level
        # astype("Int32") instead of quarantining one row
        raise ValueError("audio metadata exceeds the int32 stats columns")
    return {
        "byte_len": byte_len,
        "width": meta["sample_rate"],
        "height": meta["channels"],
        "n_frames": meta["n_samples"],
        "mean_intensity": meta["mean_abs_amplitude"],
    }


def fake_decode_stats(content: bytes, media_type: str) -> dict:
    """Deterministic stand-in decode: derives plausible-typed stats
    from the raw bytes only (same bytes → same stats, any worker).
    MIME types normalize to their major type here, mirroring
    real_decode, so both decoders see identical labels whichever the
    caller passes."""
    media_type = _major_type(media_type)
    n = len(content)
    width = 16 + (n % 64)
    height = 16 + ((n // 64) % 64)
    n_frames = 1 if media_type == "image" else 2 + (n % 29)
    mean_intensity = (sum(content[:256]) / min(n, 256) / 255.0) if n else 0.0
    return {
        "byte_len": n,
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "mean_intensity": mean_intensity,
    }


def decode_media(
    df: DataFrame,
    id_col: str = "id",
    bin_col: str = "content",
    type_col: str = "media_type",
    use_fake: bool = True,
) -> DataFrame:
    """Arrow-batched decode via mapInPandas: (id, media_type, content)
    → MEDIA_STATS_SCHEMA rows. ``use_fake=False`` routes to
    ``real_decode``. The full MIME string passes through: both
    decoders normalize the major type themselves, so they agree on
    MIME-typed rows.

    Per-row fault isolation: an unsupported type (a real crawl's
    ``application/http`` response payloads) or an undecodable blob
    yields a quarantine row — byte_len real, stats NULL,
    ``decode_status = 'quarantine:<ExceptionType>'`` — instead of
    crashing the whole Arrow batch task (the same per-record
    discipline, INCLUDING the reason string, as the WARC reader that
    feeds this). ImportError is deliberately NOT caught: a decoder
    missing on an executor is a broken deployment, and silently
    NULL-stat-ing the whole corpus would be indistinguishable from
    corrupt data."""
    decoder = fake_decode_stats if use_fake else real_decode

    def _one(content, mt) -> dict:
        blob = bytes(content) if content is not None else b""
        try:
            stats = decoder(blob, mt)
            return {**stats, "decode_status": "ok"}
        except (ImportError, MemoryError, RecursionError):
            # broken environment / resource exhaustion, not bad data —
            # fail loud. An executor OOM-ing on a large blob must kill
            # the task (so Spark retries / surfaces it), not quietly
            # become a quarantine:MemoryError data row.
            raise
        except Exception as e:
            # broad BY DESIGN at this boundary: decoders parse
            # untrusted crawl bytes, and a truncated header raises
            # struct.error, wave.Error or IndexError as readily as
            # ValueError. Any parse failure means "this row can't
            # decode"; the status column carries the reason so data
            # problems stay distinguishable from code problems.
            return {
                "byte_len": len(blob),
                "width": None,
                "height": None,
                "n_frames": None,
                "mean_intensity": None,
                "decode_status": f"quarantine:{type(e).__name__}",
            }

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [
                _one(content, mt)
                for content, mt in zip(pdf["content"], pdf["media_type"])
            ]
            out = pd.DataFrame(stats)
            # metadata-only video decodes (any codec but raw) carry a
            # NULL mean_intensity — and an audio-only MP4 has no
            # width/height/n_frames; nullable pandas dtypes map to SQL
            # NULL through Arrow instead of NaN-poisoning the ints.
            out["mean_intensity"] = out["mean_intensity"].astype("Float64")
            for int_col in ("width", "height", "n_frames"):
                out[int_col] = out[int_col].astype("Int32")
            out["byte_len"] = out["byte_len"].astype("Int64")
            out.insert(0, "media_type", list(pdf["media_type"]))
            out.insert(0, "id", list(pdf["id"]))
            yield out

    narrow = df.select(
        F.col(id_col).alias("id"),
        F.col(type_col).alias("media_type"),
        F.col(bin_col).alias("content"),
    )
    return narrow.mapInPandas(decode_batches, schema=MEDIA_STATS_SCHEMA)
