"""Real RIFF/WAVE PCM decode + audio screening gates.

`parse_wav` is a manual chunk walker; the twin here re-parses every
fixture with the stdlib `wave` module (a genuinely different code path)
and recomputes every feature with direct numpy, asserting bit-exact
equality with the Spark stage's output. Degenerate kinds (silence,
clipped, sub-minimum duration) pin each gate in both directions, and
WebDataset export carries `<key>.wav` members byte-exactly.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
import pytest

from webcrawler_spark.multimodal.av import (
    MAX_CLIP_FRAC,
    MIN_DURATION_S,
    MIN_RMS,
    decode_audio,
    parse_wav,
    synth_wav,
    wav_quality_gates,
    wav_quality_stats,
)


def _wave_module_parse(data: bytes):
    """Independent reference parse via stdlib wave."""
    with wave.open(io.BytesIO(data), "rb") as wf:
        ch, width, rate, n = (
            wf.getnchannels(), wf.getsampwidth(), wf.getframerate(),
            wf.getnframes())
        raw = wf.readframes(n)
    if width == 2:
        flat = np.frombuffer(raw, dtype="<i2").astype(np.int16)
    else:
        flat = ((np.frombuffer(raw, dtype=np.uint8).astype(np.int16)
                 - 128) << 8).astype(np.int16)
    return flat.reshape(-1, ch), rate, width * 8


FIXTURES = [
    (0, dict(kind="tone")),
    (1, dict(kind="tone", rate=16000, channels=2)),
    (2, dict(kind="tone", bits=8)),
    (3, dict(kind="silence")),
    (4, dict(kind="clipped")),
    (5, dict(kind="noise", channels=2, bits=8)),
    (6, dict(kind="tone", seconds=0.05)),  # under MIN_DURATION_S
]


@pytest.mark.parametrize("seed,kw", FIXTURES)
def test_parse_wav_matches_stdlib_wave(seed, kw):
    data = synth_wav(seed, **kw)
    got_s, got_r, got_b = parse_wav(data)
    want_s, want_r, want_b = _wave_module_parse(data)
    assert (got_r, got_b) == (want_r, want_b)
    assert got_s.shape == want_s.shape
    assert np.array_equal(got_s, want_s)


def test_parse_wav_walks_extra_chunks_and_odd_padding():
    """Real-world WAVs carry LIST/INFO etc. before data; odd-sized chunks
    pad to even offsets — build one by hand and parse it."""
    body = synth_wav(7, seconds=0.1)
    # splice an odd-length junk chunk between fmt and data
    fmt_end = 12 + 8 + 16
    junk = b"JUNK" + struct.pack("<I", 5) + b"abcde" + b"\x00"  # pad
    spliced = body[:fmt_end] + junk + body[fmt_end:]
    spliced = (spliced[:4]
               + struct.pack("<I", len(spliced) - 8)
               + spliced[8:])
    got_s, got_r, _ = parse_wav(spliced)
    want_s, want_r, _ = parse_wav(body)
    assert got_r == want_r and np.array_equal(got_s, want_s)


def test_parse_wav_rejects_non_pcm_and_truncated():
    good = synth_wav(8, seconds=0.1)
    with pytest.raises(ValueError, match="RIFF"):
        parse_wav(b"OggS" + good[4:])
    # flip the fmt tag to 3 (IEEE float) — needs a codec path
    tag_off = 12 + 8
    bad = good[:tag_off] + struct.pack("<H", 3) + good[tag_off + 2:]
    with pytest.raises(NotImplementedError, match="format tag"):
        parse_wav(bad)
    with pytest.raises(ValueError, match="no data chunk"):
        parse_wav(good[:30])


def test_parse_wav_rejects_zero_rate_and_zero_channels():
    # both would divide by zero later (reshape by channels, duration by
    # rate); the header is refused at parse time instead
    good = synth_wav(8, seconds=0.1)
    ch_off, rate_off = 12 + 8 + 2, 12 + 8 + 4
    zero_ch = good[:ch_off] + struct.pack("<H", 0) + good[ch_off + 2:]
    zero_rate = good[:rate_off] + struct.pack("<I", 0) + good[rate_off + 4:]
    for bad in (zero_ch, zero_rate):
        with pytest.raises(ValueError, match="malformed fmt chunk"):
            parse_wav(bad)
        with pytest.raises(ValueError, match="malformed fmt chunk"):
            decode_audio(bad)


def test_decode_audio_wav_branch_and_downmix():
    mono = synth_wav(9, seconds=0.2)
    stereo = synth_wav(9, seconds=0.2, channels=2)
    sm, rm = decode_audio(mono)
    ss, rs = decode_audio(stereo)
    assert rm == rs and sm.shape == ss.shape
    # synth duplicates the mono signal per channel: integer-mean downmix
    # of identical channels reproduces the mono samples exactly
    assert np.array_equal(sm, ss)
    # compressed formats still raise (the documented codec seam)
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x03rest-of-an-mp3")


def test_wav_quality_stats_match_numpy_twin(spark):
    clips = [(f"c{seed}", synth_wav(seed, **kw)) for seed, kw in FIXTURES]
    df = spark.createDataFrame(clips, "clip_id string, bytes binary")
    got = {r["clip_id"]: r for r in wav_quality_stats(df).collect()}
    assert set(got) == {c for c, _ in clips}
    for cid, data in clips:
        s, rate, bits = _wave_module_parse(data)
        x = s.astype(np.float64) / 32768.0
        r = got[cid]
        assert r["sample_rate"] == rate
        assert r["channels"] == s.shape[1]
        assert r["bits"] == bits
        assert r["duration_s"] == round(s.shape[0] / rate, 6)
        assert r["rms"] == round(float(np.sqrt(np.mean(x ** 2))), 6)
        assert r["clip_frac"] == round(float((np.abs(x) >= 0.99).mean()), 6)
        assert r["silence_frac"] == round(
            float((np.abs(x) <= 0.001).mean()), 6)


def test_wav_quality_gates_fire_both_ways(spark):
    clips = [("tone", synth_wav(0, kind="tone")),
             ("silence", synth_wav(1, kind="silence")),
             ("clipped", synth_wav(2, kind="clipped")),
             ("short", synth_wav(3, kind="tone", seconds=0.05))]
    df = spark.createDataFrame(clips, "clip_id string, bytes binary")
    got = {r["clip_id"]: r for r in
           wav_quality_gates(wav_quality_stats(df)).collect()}
    assert got["tone"]["keep_audio"]
    assert got["silence"]["is_silent"] and not got["silence"]["keep_audio"]
    assert got["clipped"]["is_clipped"] and not got["clipped"]["keep_audio"]
    assert (got["short"]["is_bad_duration"]
            and not got["short"]["keep_audio"])
    # thresholds actually separate the fixtures (not vacuously true)
    assert got["tone"]["rms"] >= MIN_RMS
    assert got["clipped"]["clip_frac"] > MAX_CLIP_FRAC
    assert got["short"]["duration_s"] < MIN_DURATION_S


def test_audio_quality_driver_query_nonvacuous(spark):
    import __spark_entry__ as entrymod

    rows = entrymod._q_audio_quality(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 64
    keeps = [r["keep_audio"] for r in rows]
    assert any(keeps) and not all(keeps)
    # the corpus exercises both widths and both channel counts
    assert {r["bits"] for r in rows} == {8, 16}
    assert {r["channels"] for r in rows} == {1, 2}


def test_webdataset_carries_wav_members_byte_exactly(spark, tmp_path):
    from pyspark.sql import functions as F

    from webcrawler_spark.multimodal.webdataset import (
        plan_wds_shards, read_webdataset, write_webdataset)

    clips = [(f"a{i:02d}", synth_wav(i, seconds=0.1 + 0.05 * (i % 3)),
              f"caption {i}") for i in range(12)]
    df = spark.createDataFrame(
        clips, "image_id string, bytes binary, caption string"
    ).withColumn("fmt", F.lit("wav"))
    planned = plan_wds_shards(
        df, budget_bytes=64 * 1024, bucket=F.lit(0))
    out = str(tmp_path / "wds_audio")
    manifest = write_webdataset(planned, out).collect()
    assert sum(m["n_samples"] for m in manifest) == 12
    back = {r["key"]: r for r in
            read_webdataset(spark, f"{out}/*.tar").collect()}
    assert set(back) == {c[0] for c in clips}
    for key, data, cap in clips:
        assert bytes(back[key]["bytes"]) == data  # byte-exact .wav member
        assert back[key]["caption"] == cap
        assert back[key]["fmt"] == "wav"
        # and the member still parses as real WAV after the round-trip
        parse_wav(bytes(back[key]["bytes"]))


def test_audio_pair_funnel_stages_and_election(spark):
    """Planted duplicate captions: within each caption group the LONGEST
    keep_audio clip must win; silent/clipped/empty-caption rows carry
    their stage flags and never select."""
    from webcrawler_spark.multimodal.av import audio_pair_funnel

    clips = [
        # caption "dup": three good tones, durations 0.3 / 0.6 / 0.45
        ("a", synth_wav(1, seconds=0.3), "dup"),
        ("b", synth_wav(2, seconds=0.6), "dup"),
        ("c", synth_wav(3, seconds=0.45), "dup"),
        # caption "solo": one good clip
        ("d", synth_wav(4, seconds=0.4), "solo"),
        # gate failures: silence, and a good tone with empty caption
        ("e", synth_wav(5, kind="silence"), "dup"),
        ("f", synth_wav(6, seconds=0.5), ""),
    ]
    df = spark.createDataFrame(
        clips, "clip_id string, bytes binary, caption string")
    got = {r["clip_id"]: r for r in audio_pair_funnel(df).collect()}
    assert len(got) == 6  # one row per input pair
    assert got["b"]["selected"] and got["b"]["n_dup"] == 3  # longest dup
    assert not got["a"]["selected"] and not got["c"]["selected"]
    assert got["d"]["selected"] and got["d"]["n_dup"] == 1
    assert not got["e"]["keep_audio"] and not got["e"]["selected"]
    assert got["f"]["keep_audio"] and not got["f"]["caption_ok"]
    assert not got["f"]["selected"]
    # silent clip e is excluded from the "dup" election (n_dup counts
    # gate survivors only: a, b, c)
    assert got["e"]["n_dup"] is None


def test_audio_pairs_driver_query_nonvacuous(spark):
    import __spark_entry__ as entrymod

    rows = entrymod._q_audio_pairs(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 48
    sel = [r for r in rows if r["selected"]]
    assert 0 < len(sel) < 48
    # every selected row passed both gates; winners are unique captions
    for r in sel:
        assert r["keep_audio"] and r["caption_ok"]
