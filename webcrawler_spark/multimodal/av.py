"""Audio/video multimodal plumbing — opaque binary columns + typed
metadata, with the Spark-side contract (schema, Arrow batch shape,
partition sizing) fully real.

Audio is decoded FOR REAL for the one container that needs no codec
library: RIFF/WAVE PCM (the canonical interchange format; spec is the
public Microsoft/IBM RIFF WAVE format) — ``parse_wav`` below is a
pure-stdlib chunk walker supporting PCM (format tag 1) at 8/16 bits,
mono or multi-channel. ``wav_quality`` computes the screening features
an audio training pipeline gates on (duration/rate/channels, RMS
loudness, clip fraction, silence fraction — the multimodal/quality.py
pattern for the audio axis), vectorized per clip inside one Arrow
``mapInPandas`` stage.

Video likewise decodes FOR REAL for the one container that needs no
codec library: uncompressed RIFF AVI (BI_RGB 'DIB ' frames — the
public Microsoft AVI/BITMAPINFOHEADER format; 8-bit palette-gray or
24-bit BGR, bottom-up rows padded to 4 bytes) via the same chunk
walker, so ``sample_frames`` runs over genuine interchange bytes.

Compressed formats (mp3/ogg/flac; any AVI with a real codec fourcc;
mp4/webm) still raise ``NotImplementedError`` — those genuinely need
codec libraries absent from this container; the deterministic
WCAU/WCVI fake codecs keep the downstream plumbing testable
end-to-end, and a production deployment swaps
``decode_audio``/``decode_video`` bodies for ffmpeg/torchaudio without
touching anything else.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

AUDIO_MAGIC = b"WCAU"
VIDEO_MAGIC = b"WCVI"
RIFF_MAGIC = b"RIFF"


# ---------------------------------------------------------------------------
# deterministic fake codecs (testable stand-ins)
# ---------------------------------------------------------------------------

def encode_audio_fake(samples: np.ndarray, sample_rate: int) -> bytes:
    assert samples.dtype == np.int16 and samples.ndim == 1
    return AUDIO_MAGIC + struct.pack("<II", sample_rate, len(samples)) + samples.tobytes()


def parse_wav(data: bytes) -> tuple[np.ndarray, int, int]:
    """REAL RIFF/WAVE PCM decode, pure stdlib: → (int16 samples shaped
    (n_frames, n_channels), sample_rate, source bits_per_sample).

    Walks the RIFF chunk list (chunks are (4-byte id, LE uint32 size,
    payload padded to even length)); requires a ``fmt `` chunk with
    format tag 1 (integer PCM) at 8 or 16 bits before ``data``. 8-bit
    WAV is unsigned by spec — samples are centered and scaled to int16
    ((x − 128) << 8) so downstream math is width-independent."""
    if data[:4] != RIFF_MAGIC or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, end = 12, min(len(data), 8 + struct.unpack("<I", data[4:8])[0])
    fmt = None
    while pos + 8 <= end:
        cid, size = data[pos:pos + 4], struct.unpack("<I", data[pos + 4:pos + 8])[0]
        body = data[pos + 8:pos + 8 + size]
        if len(body) < size:
            break  # truncated chunk → "no data chunk" below
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("malformed fmt chunk")
            tag, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if ch == 0 or rate == 0:
                # would divide by zero downstream (frame reshape, seconds)
                raise ValueError("malformed fmt chunk")
            if tag != 1:
                raise NotImplementedError(
                    f"WAVE format tag {tag} (non-PCM) needs a codec "
                    "library; only integer PCM decodes here"
                )
            if bits not in (8, 16):
                raise NotImplementedError(f"{bits}-bit PCM unsupported")
            fmt = (ch, rate, bits)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("WAVE data chunk before fmt chunk")
            ch, rate, bits = fmt
            if bits == 16:
                flat = np.frombuffer(body[:len(body) - len(body) % (2 * ch)],
                                     dtype="<i2").astype(np.int16)
            else:
                raw = np.frombuffer(body[:len(body) - len(body) % ch],
                                    dtype=np.uint8)
                flat = ((raw.astype(np.int16) - 128) << 8).astype(np.int16)
            return flat.reshape(-1, ch), rate, bits
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    raise ValueError("WAVE stream has no data chunk")


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """→ (int16 mono samples, sample_rate). WAV decodes for real (multi-
    channel downmixed by integer mean); compressed formats raise — the
    clearly-marked production swap point."""
    if data[:4] == AUDIO_MAGIC:
        rate, n = struct.unpack("<II", data[4:12])
        return np.frombuffer(data[12:12 + 2 * n], dtype=np.int16), rate
    if data[:4] == RIFF_MAGIC:
        frames, rate, _bits = parse_wav(data)
        if frames.shape[1] == 1:
            return frames[:, 0], rate
        # deterministic integer downmix (floor of the channel mean)
        return (frames.astype(np.int32).sum(axis=1)
                // frames.shape[1]).astype(np.int16), rate
    raise NotImplementedError(
        "compressed audio codecs (mp3/ogg/flac) unavailable in this "
        "container; swap decode_audio with ffmpeg/torchaudio in production"
    )


def encode_video_fake(frames: np.ndarray, fps: int) -> bytes:
    """frames: (n, h, w) uint8 grayscale."""
    assert frames.dtype == np.uint8 and frames.ndim == 3
    n, h, w = frames.shape
    return VIDEO_MAGIC + struct.pack("<IIII", fps, n, h, w) + frames.tobytes()


def _avi_chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def _avi_list(ltype: bytes, body: bytes) -> bytes:
    return _avi_chunk(b"LIST", ltype + body)


def encode_avi(frames: np.ndarray, fps: int) -> bytes:
    """REAL uncompressed RIFF AVI encode, pure stdlib: frames (n, h, w)
    uint8 grayscale (8-bit + gray palette) or (n, h, w, 3) uint8 RGB
    (24-bit) → BI_RGB 'DIB ' video stream with '00db' frames, bottom-up
    rows padded to 4 bytes, BGR byte order per the DIB spec."""
    assert frames.dtype == np.uint8 and frames.ndim in (3, 4)
    gray = frames.ndim == 3
    n, h, w = frames.shape[:3]
    bits = 8 if gray else 24
    row_bytes = (w * (bits // 8) + 3) & ~3
    frame_bytes = row_bytes * h

    def dib(frame: np.ndarray) -> bytes:
        rows = []
        for y in range(h - 1, -1, -1):            # bottom-up row order
            row = (frame[y] if gray else frame[y, :, ::-1]).tobytes()
            rows.append(row.ljust(row_bytes, b"\x00"))
        return b"".join(rows)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, frame_bytes * fps, 0, 0,
        n, 0, 1, frame_bytes, w, h, 0, 0, 0, 0)
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps, 0, n, frame_bytes, 0xFFFFFFFF, 0,
        0, 0, w, h)
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bits, 0, frame_bytes, 0, 0,
        256 if gray else 0, 0)
    if gray:
        strf += b"".join(bytes((i, i, i, 0)) for i in range(256))
    hdrl = _avi_list(
        b"hdrl",
        _avi_chunk(b"avih", avih)
        + _avi_list(b"strl", _avi_chunk(b"strh", strh)
                    + _avi_chunk(b"strf", strf)),
    )
    movi = _avi_list(
        b"movi", b"".join(_avi_chunk(b"00db", dib(f)) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_avi(data: bytes) -> tuple[np.ndarray, int]:
    """REAL uncompressed RIFF AVI decode, pure stdlib chunk walker:
    → (frames uint8 — (n, h, w) for 8-bit, (n, h, w, 3) RGB for 24-bit,
    rows re-flipped top-down and BGR→RGB — and fps = rate // scale).
    Any compressed video fourcc raises — the production codec seam."""
    if data[:4] != RIFF_MAGIC or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    dims: list = [None]           # (w, h, bits)
    timing: list = [None]         # (scale, rate)
    frames: list[bytes] = []

    def walk(buf: bytes) -> None:
        pos = 0
        while pos + 8 <= len(buf):
            cid = buf[pos:pos + 4]
            size = struct.unpack("<I", buf[pos + 4:pos + 8])[0]
            body = buf[pos + 8:pos + 8 + size]
            if len(body) < size:
                break             # truncated chunk → error below
            if cid == b"LIST":
                walk(body[4:])
            elif cid == b"strh" and body[:4] == b"vids":
                if body[4:8] not in (b"DIB ", b"\x00\x00\x00\x00"):
                    raise NotImplementedError(
                        f"AVI video codec {body[4:8]!r} needs a codec "
                        "library; only uncompressed DIB decodes here — "
                        "swap decode_video with ffmpeg in production")
                timing[0] = struct.unpack("<II", body[20:28])
            elif cid == b"strf" and dims[0] is None and len(body) >= 20:
                _sz, bw, bh, _pl, bc, comp = struct.unpack("<IiiHHI", body[:20])
                if comp != 0:
                    raise NotImplementedError(
                        "compressed BITMAPINFO (biCompression != BI_RGB)")
                if bc not in (8, 24):
                    raise NotImplementedError(f"{bc}-bit DIB unsupported")
                dims[0] = (bw, abs(bh), bc)
            elif cid == b"00db":
                frames.append(body)
            pos += 8 + size + (size & 1)   # chunks pad to even offsets

    walk(data[12:])
    if dims[0] is None or not frames:
        raise ValueError("AVI stream has no uncompressed video frames")
    w, h, bits = dims[0]
    row_bytes = (w * (bits // 8) + 3) & ~3
    out = []
    for body in frames:
        rows = []
        for y in range(h):
            off = (h - 1 - y) * row_bytes
            row = np.frombuffer(body[off:off + row_bytes], dtype=np.uint8)
            rows.append(row[:w] if bits == 8
                        else row[: w * 3].reshape(w, 3)[:, ::-1])
        out.append(np.stack(rows))
    scale, rate = timing[0] or (0, 0)
    return np.stack(out), int(rate // scale) if scale else 0


def decode_video(data: bytes) -> tuple[np.ndarray, int]:
    """→ ((n, h, w) uint8 grayscale frames, fps). Uncompressed AVI
    decodes for real (24-bit frames reduced by integer BT.601 luma —
    (299R + 587G + 114B) // 1000, deterministic); codec'd containers
    raise — the clearly-marked production swap point."""
    if data[:4] == VIDEO_MAGIC:
        fps, n, h, w = struct.unpack("<IIII", data[4:20])
        return np.frombuffer(data[20:20 + n * h * w], dtype=np.uint8).reshape(n, h, w), fps
    if data[:4] == RIFF_MAGIC and data[8:12] == b"AVI ":
        frames, fps = parse_avi(data)
        if frames.ndim == 4:
            rgb = frames.astype(np.int32)
            frames = ((299 * rgb[..., 0] + 587 * rgb[..., 1]
                       + 114 * rgb[..., 2]) // 1000).astype(np.uint8)
        return frames, fps
    raise NotImplementedError(
        "real video codecs (mp4/webm) unavailable in this container; "
        "swap decode_video with ffmpeg in production"
    )


def synth_audio(seed: int, seconds: float = 1.0, rate: int = 8000) -> bytes:
    rng = np.random.default_rng(seed)
    t = np.arange(int(seconds * rate)) / rate
    f = float(rng.uniform(100, 1000))
    wave = (np.sin(2 * np.pi * f * t) * 12000).astype(np.int16)
    return encode_audio_fake(wave, rate)


def synth_wav(
    seed: int,
    seconds: float = 0.5,
    rate: int = 8000,
    channels: int = 1,
    bits: int = 16,
    kind: str = "tone",
) -> bytes:
    """Deterministic REAL WAV bytes via the stdlib ``wave`` writer —
    intentionally a different code path from ``parse_wav``'s manual chunk
    walker, so encode/decode don't share bugs. ``kind``: 'tone' (sine +
    harmonic), 'silence', 'clipped' (square wave at full scale), 'noise'
    (seeded LCG)."""
    import io
    import wave

    n = int(seconds * rate)
    t = np.arange(n) / rate
    f = 100.0 + (seed * 37) % 900
    if kind == "tone":
        x = 0.5 * np.sin(2 * np.pi * f * t) + 0.2 * np.sin(4 * np.pi * f * t)
    elif kind == "silence":
        x = np.zeros(n)
    elif kind == "clipped":
        x = np.sign(np.sin(2 * np.pi * f * t)) * 0.9999
    elif kind == "noise":
        lcg = (seed * 1103515245 + 12345 + np.arange(n) * 69069) % (2**31)
        x = (lcg / 2**30) - 1.0
    else:
        raise ValueError(kind)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(bits // 8)
        wf.setframerate(rate)
        if bits == 16:
            mono = np.clip(x * 32767.0, -32768, 32767).astype("<i2")
            frames = np.repeat(mono[:, None], channels, axis=1)
            wf.writeframes(frames.tobytes())
        else:
            mono = np.clip(x * 127.0 + 128.0, 0, 255).astype(np.uint8)
            frames = np.repeat(mono[:, None], channels, axis=1)
            wf.writeframes(frames.tobytes())
    return buf.getvalue()


# audio screening gates (the multimodal/quality.py pattern): bounds a
# speech/audio-caption pipeline typically enforces before pairing
MIN_DURATION_S = 0.2
MAX_DURATION_S = 30.0
MIN_RMS = 0.01          # below = effectively silent recording
MAX_CLIP_FRAC = 0.05    # above = hard-clipped/distorted
MAX_SILENCE_FRAC = 0.5  # above = mostly dead air

WAV_STATS_SCHEMA = (
    "clip_id string, sample_rate int, channels int, bits int, "
    "duration_s double, rms double, clip_frac double, silence_frac double"
)


def wav_stats(samples: np.ndarray, rate: int, bits: int
              ) -> tuple[int, int, int, float, float, float, float]:
    """Per-clip features over (n, ch) int16 frames — pure numpy, shared
    by the Spark stage and the tests' independent recompute twin."""
    x = samples.astype(np.float64) / 32768.0
    return (
        int(rate),
        int(samples.shape[1]),
        int(bits),
        round(samples.shape[0] / rate, 6),
        round(float(np.sqrt(np.mean(x ** 2))), 6),
        round(float((np.abs(x) >= 0.99).mean()), 6),
        round(float((np.abs(x) <= 0.001).mean()), 6),
    )


def wav_quality_stats(audio: DataFrame) -> DataFrame:
    """One Arrow stage: (clip_id, bytes[WAV]) → per-clip features."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [wav_stats(*parse_wav(bytes(b))) for b in pdf["bytes"]]
            yield pd.DataFrame(
                [(cid, *r) for cid, r in zip(pdf["clip_id"], rows)],
                columns=["clip_id", "sample_rate", "channels", "bits",
                         "duration_s", "rms", "clip_frac", "silence_frac"],
            )

    return audio.select("clip_id", "bytes").mapInPandas(
        stats, schema=WAV_STATS_SCHEMA
    )


def wav_quality_gates(stats: DataFrame) -> DataFrame:
    """Narrow boolean gates over the stats frame (no byte re-touch)."""
    from pyspark.sql import functions as F

    return stats.select(
        "*",
        (~F.col("duration_s").between(MIN_DURATION_S, MAX_DURATION_S))
        .alias("is_bad_duration"),
        (F.col("rms") < MIN_RMS).alias("is_silent"),
        (F.col("clip_frac") > MAX_CLIP_FRAC).alias("is_clipped"),
        (F.col("silence_frac") > MAX_SILENCE_FRAC).alias("is_dead_air"),
    ).withColumn(
        "keep_audio",
        ~F.col("is_bad_duration") & ~F.col("is_silent")
        & ~F.col("is_clipped") & ~F.col("is_dead_air"),
    )


def audio_pair_funnel(pairs: DataFrame, shards: int = 4) -> DataFrame:
    """The audio-axis counterpart of ``multimodal/funnel.pair_funnel``
    for a speech/audio-caption corpus (the LAION-audio / Whisper-style
    ingest shape): (clip_id, bytes[WAV], caption) → ONE ROW PER INPUT
    pair carrying every stage decision —

    1. real PCM decode + screening gates (``wav_quality_stats/gates``),
    2. caption gate (non-empty),
    3. repeated-caption keep-one: pairs sharing a normalized caption
       fingerprint keep the LONGEST clip (ties → smaller clip_id) via
       the two-phase ``domain_cap(n=1)`` election (caption frequency
       is Zipf-skewed; no exchange carries caption text, only the
       60-bit fingerprint).

    Output: (clip_id, sample_rate, channels, duration_s, rms,
    keep_audio, caption_ok, n_dup, selected) — selected rows are the
    export set (``write_webdataset`` with fmt='wav' carries them
    byte-exactly; tested). Scale shape: one Arrow decode stage over
    (clip_id, bytes), then narrow gates; the only shuffles are the
    fingerprint election over gate survivors."""
    from pyspark.sql import functions as F

    from ..curation import domain_cap
    from ..functions.text import fingerprint64

    stats = wav_quality_gates(
        wav_quality_stats(pairs.select("clip_id", "bytes"))
    )
    staged = stats.join(
        pairs.select(
            "clip_id",
            F.when(
                F.length(F.col("caption")) > 0,
                fingerprint64(F.col("caption")),
            ).alias("caption_fp"),
        ),
        "clip_id",
    ).withColumn("caption_ok", F.col("caption_fp").isNotNull())
    s1 = staged.filter(F.col("keep_audio") & F.col("caption_ok"))
    counts = s1.groupBy("caption_fp").agg(
        F.count("*").cast("long").alias("n_dup")
    )
    winners = domain_cap(
        s1.select("clip_id", "caption_fp",
                  F.col("duration_s").alias("quality")),
        1,
        domain_col="caption_fp",
        id_col="clip_id",
        shards=shards,
    ).select("clip_id").join(counts.join(
        s1.select("clip_id", "caption_fp"), "caption_fp"
    ).select("clip_id", "n_dup"), "clip_id")
    return (
        staged.join(winners, "clip_id", "left")
        .withColumn("selected", F.col("n_dup").isNotNull())
        .select(
            "clip_id", "sample_rate", "channels", "duration_s", "rms",
            "keep_audio", "caption_ok", "n_dup", "selected",
        )
    )


def synth_video(seed: int, frames: int = 16, h: int = 24, w: int = 32, fps: int = 8) -> bytes:
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 255, (h, w), dtype=np.uint8)
    stack = np.stack([np.roll(base, i, axis=1) for i in range(frames)])
    return encode_video_fake(stack, fps)


def synth_avi(seed: int, frames: int = 8, h: int = 12, w: int = 18,
              fps: int = 6, rgb: bool = False) -> bytes:
    """Deterministic REAL AVI bytes (rolling seeded pattern, gray or
    RGB) — the AVI counterpart of synth_wav."""
    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    base = rng.integers(0, 255, shape, dtype=np.uint8)
    stack = np.stack([np.roll(base, i, axis=1) for i in range(frames)])
    return encode_avi(stack, fps)


# ---------------------------------------------------------------------------
# Spark plumbing (real; Arrow-batched mapInPandas)
# ---------------------------------------------------------------------------

def audio_features(audio: DataFrame) -> DataFrame:
    """(clip_id, bytes) → duration, rms, zero-crossing rate."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, b in zip(pdf["clip_id"], pdf["bytes"]):
                samples, rate = decode_audio(bytes(b))
                x = samples.astype(np.float64) / 32768.0
                rows.append((
                    cid,
                    round(len(samples) / rate, 6),
                    round(float(np.sqrt(np.mean(x ** 2))), 6),
                    round(float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))), 6),
                ))
            yield pd.DataFrame(rows, columns=["clip_id", "duration_s", "rms", "zcr"])

    return audio.mapInPandas(
        feats, schema="clip_id string, duration_s double, rms double, zcr double"
    )


def sample_frames(video: DataFrame, every_n: int = 4) -> DataFrame:
    """(video_id, bytes) → one row per sampled frame with mean luminance —
    the frame-sampling stage of a video training pipeline."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids, idxs, lums = [], [], []
            for vid, b in zip(pdf["video_id"], pdf["bytes"]):
                frames, fps = decode_video(bytes(b))
                for i in range(0, len(frames), every_n):
                    vids.append(vid)
                    idxs.append(i)
                    lums.append(round(float(frames[i].mean()), 4))
            yield pd.DataFrame({"video_id": vids, "frame_idx": idxs, "mean_lum": lums})

    return video.mapInPandas(
        sample, schema="video_id string, frame_idx int, mean_lum double"
    )
