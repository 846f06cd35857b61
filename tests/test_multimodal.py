"""Real image decode: byte-layout tests for the lib-free formats
(PPM P6 / BMP-24) plus the Spark plumbing around them."""

import struct

import numpy as np
import pytest

from htmlparser_spark.operators.multimodal import (
    _decode_rgb, decode_image_features, decode_image_pixels,
    synth_ppm_blob)


def make_bmp24(pixels: np.ndarray, bottom_up: bool = True) -> bytes:
    """Hand-rolled 24-bit uncompressed BMP from an (h, w, 3) RGB array —
    written the way the format really stores it: BGR samples, rows
    padded to 4 bytes, bottom-up unless height is negative."""
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    rows = pixels[::-1] if bottom_up else pixels
    body = bytearray()
    for r in rows:
        line = r[:, ::-1].tobytes()                      # RGB → BGR
        body += line + b"\x00" * (stride - len(line))
    off = 14 + 40
    header = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
              + struct.pack("<IiiHHIIiiII", 40, w,
                            h if bottom_up else -h, 1, 24, 0,
                            len(body), 2835, 2835, 0, 0))
    return bytes(header + body)


PX = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
               [[10, 20, 30], [40, 50, 60], [70, 80, 90]]], dtype=np.uint8)


def test_bmp24_decode_bottom_up_and_top_down():
    for bottom_up in (True, False):
        w, h, got = _decode_rgb(make_bmp24(PX, bottom_up))
        assert (w, h) == (3, 2)
        assert np.array_equal(got, PX)


def test_bmp24_rejects_compressed_or_deep():
    blob = bytearray(make_bmp24(PX))
    blob[30] = 1                                          # BI_RLE8
    with pytest.raises(ValueError, match="compression"):
        _decode_rgb(bytes(blob))


def test_ppm_header_with_comments():
    px = PX.reshape(-1).tobytes()
    blob = b"P6\n# a comment\n3 2\n# another\n255\n" + px
    w, h, got = _decode_rgb(blob)
    assert (w, h) == (3, 2)
    assert np.array_equal(got, PX)


def test_ppm_truncated_raises():
    with pytest.raises(ValueError, match="truncated"):
        _decode_rgb(b"P6\n3 2\n255\n\x00\x01")


def test_jpeg_dispatch_and_gates():
    """Baseline JPEG now decodes lib-free (round 5, operators/jpeg.py);
    malformed JPEG bytes quarantine as ValueError; the non-baseline
    shapes stay honestly lib-gated."""
    from htmlparser_spark.operators.jpeg import _synth_jpeg_bytes
    w, h, px = _decode_rgb(_synth_jpeg_bytes(5))
    assert px.shape == (h, w, 3)
    with pytest.raises(ValueError):
        _decode_rgb(b"\xff\xd8\xff\xe0rest-of-jpeg")
    with pytest.raises(NotImplementedError, match="library"):
        _decode_rgb(b"RIFF....WEBP")


def test_decode_pixels_spark_roundtrip(spark):
    """synth → decode over mapInPandas: sums must equal numpy's direct
    computation of the generation formula, and None blobs pass through
    as nulls."""
    ids = spark.range(7).withColumnRenamed("id", "doc_id")
    out = decode_image_pixels(synth_ppm_blob(ids)).orderBy("doc_id")
    rows = out.collect()
    assert len(rows) == 7
    for r in rows:
        i = r.doc_id
        w, h = i % 13 + 4, i % 11 + 4
        px = (i * 7 + 31 * np.arange(w * h * 3, dtype=np.int64)) % 256
        assert (r.width, r.height) == (w, h)
        assert [r.sum_r, r.sum_g, r.sum_b] == \
            [int(px[c::3].sum()) for c in range(3)]


def test_decode_features_real_path(spark):
    """fake=False now really decodes: features = [w, h, mean_r/g/b,
    0...] for PPM input."""
    ids = spark.range(3).withColumnRenamed("id", "doc_id")
    out = decode_image_features(synth_ppm_blob(ids), fake=False) \
        .orderBy("doc_id").collect()
    for r in out:
        i = r.doc_id
        w, h = i % 13 + 4, i % 11 + 4
        px = ((i * 7 + 31 * np.arange(w * h * 3, dtype=np.int64)) % 256) \
            .reshape(-1, 3)
        exp = [w, h] + [float(np.float32(px[:, c].mean())) for c in range(3)]
        assert r.features[:5] == pytest.approx(exp, rel=1e-6)
        assert r.features[5:] == [0.0, 0.0, 0.0]


def test_wav_parse_golden_and_malformed(spark):
    """Hand-built WAV with an extra unknown odd-size chunk before
    data (word-alignment walk), plus quarantine on malformed blobs."""
    import numpy as np
    from htmlparser_spark.operators.multimodal import (
        _parse_wav, decode_audio_features)
    s = np.array([-3, 7, -32768, 32767, 0], dtype="<i2")
    fmt = (b"\x01\x00\x01\x00" + (8000).to_bytes(4, "little")
           + (16000).to_bytes(4, "little") + b"\x02\x00\x10\x00")
    junk = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"
    body = (b"WAVEfmt " + (16).to_bytes(4, "little") + fmt + junk
            + b"data" + len(s.tobytes()).to_bytes(4, "little")
            + s.tobytes())
    wav = b"RIFF" + len(body).to_bytes(4, "little") + body
    ch, rate, got = _parse_wav(wav)
    assert (ch, rate) == (1, 8000) and list(got) == list(s)
    # malformed rows -> null features, job does not fail
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not a wav"))],
        "doc_id long, blob binary")
    rows = {r.doc_id: r for r in decode_audio_features(df).collect()}
    assert rows[1].sum_abs == 3 + 7 + 32768 + 32767
    assert rows[1].max_abs == 32768 and rows[1].n_frames == 5
    assert rows[2].sum_abs is None and rows[2].n_channels is None


def test_wav_synth_decode_round_trip(spark):
    from htmlparser_spark.operators.multimodal import (
        decode_audio_features, synth_wav_blob)
    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    out = decode_audio_features(synth_wav_blob(docs)).collect()
    assert len(out) == 40
    for r in out:
        i = r.doc_id
        assert r.n_channels == i % 2 + 1 and r.sample_rate == 8000
        assert r.n_frames == i % 50 + 20
        n = r.n_frames * r.n_channels
        vals = [abs((i * 13 + j * 37) % 65536 - 32768) for j in range(n)]
        assert r.sum_abs == sum(vals) and r.max_abs == max(vals)


def test_y4m_sample_golden_and_quarantine(spark):
    """Hand-built 2-frame 4x2 C420 Y4M: sampled frame 0's Y sums, a
    non-C420 stream and a truncated stream yield no rows."""
    import numpy as np
    from htmlparser_spark.operators.multimodal import frame_sample_real
    w, h = 4, 2
    fsz = w * h * 3 // 2
    head = b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420\n"
    f0 = bytes(range(fsz))            # Y plane = bytes 0..7
    f1 = bytes(200 for _ in range(fsz))
    good = head + b"FRAME\n" + f0 + b"FRAME\n" + f1
    bad_c = b"YUV4MPEG2 W4 H2 C444\n" + b"FRAME\n" + bytes(w * h * 3)
    trunc = head + b"FRAME\n" + f0[:-1]
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad_c)),
         (3, bytearray(trunc))],
        "doc_id long, blob binary")
    rows = frame_sample_real(df, every=2).collect()
    assert [(r.doc_id, r.frame_idx, r.sum_y, r.max_y) for r in rows] \
        == [(1, 0, sum(range(8)), 7)]


def test_y4m_synth_decode_round_trip(spark):
    from htmlparser_spark.operators.multimodal import (
        frame_sample_real, synth_y4m_blob)
    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    rows = frame_sample_real(synth_y4m_blob(docs), every=2).collect()
    for r in rows:
        i, f = r.doc_id, r.frame_idx
        w, h = (i % 8 + 2) * 2, (i % 6 + 2) * 2
        vals = [(i * 11 + f * 101 + j * 7) % 256 for j in range(w * h)]
        assert f % 2 == 0 and r.sum_y == sum(vals) and r.max_y == max(vals)
    # every doc contributes ceil(nf/2) sampled frames
    from collections import Counter
    per = Counter(r.doc_id for r in rows)
    for i in range(30):
        assert per[i] == -(-(i % 7 + 3) // 2)


def test_media_decoders_quarantine_random_blobs(spark):
    """One batch of seeded pseudo-random blobs through all three
    decode stages: jobs complete, malformed inputs become nulls
    (audio), zero rows (video), or decode errors never escape the
    try (image path is only fed its two real formats elsewhere)."""
    import random
    from htmlparser_spark.operators.multimodal import (
        decode_audio_features, frame_sample_real)
    rng = random.Random(99)
    rows = [(i, bytearray(rng.randbytes(rng.randrange(0, 200))))
            for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    audio = decode_audio_features(df).collect()
    assert len(audio) == 100
    assert all(r.sum_abs is None for r in audio)
    assert frame_sample_real(df).count() == 0


# ---------------------------------------------------------------- PNG

def test_png_round_trip_all_filters():
    """Every scanline filter type (None/Sub/Up/Average/Paeth), solo and
    mixed, must unfilter back to the exact source pixels — including
    1-pixel-wide/tall edge shapes where the left neighbor is absent."""
    from htmlparser_spark.operators.multimodal import _png_encode
    rng = np.random.RandomState(7)
    for ft in range(5):
        for (w, h) in [(1, 1), (1, 5), (5, 1), (4, 4), (17, 3)]:
            px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
            w2, h2, px2 = _decode_rgb(_png_encode(w, h, px, [ft] * h))
            assert (w2, h2) == (w, h)
            assert np.array_equal(px, px2), (ft, w, h)
    for _ in range(10):
        w, h = rng.randint(1, 33), rng.randint(1, 33)
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        filters = rng.randint(0, 5, size=h)
        assert np.array_equal(px, _decode_rgb(_png_encode(w, h, px,
                                                          filters))[2])


def test_png_rgba_alpha_stripped():
    """Color type 6 (RGBA) decodes with the alpha plane dropped."""
    from htmlparser_spark.operators.multimodal import (_PNG_SIG,
                                                       _decode_png)
    import zlib as _z

    def chunk(typ, data):
        return (len(data).to_bytes(4, "big") + typ + data
                + (_z.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big"))

    w, h = 3, 2
    px = np.arange(w * h * 4, dtype=np.uint8).reshape(h, w, 4)
    lines = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 6, 0, 0, 0]))
    blob = (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _z.compress(lines)) + chunk(b"IEND", b""))
    w2, h2, out = _decode_png(blob)
    assert (w2, h2) == (w, h)
    assert np.array_equal(out, px[:, :, :3])


def test_png_malformed_rejected():
    """CRC corruption, truncation, and size mismatch raise ValueError
    (quarantine path); unknown interlace methods raise the honest
    NotImplementedError. (Palette/16-bit/Adam7 are DECODED since
    round 5 — see test_png_full.py.)"""
    import zlib as _z

    from htmlparser_spark.operators.multimodal import (_PNG_SIG,
                                                       _png_encode)
    good = bytearray(_png_encode(4, 4, np.zeros((4, 4, 3), np.uint8)))
    bad = bytearray(good)
    bad[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        _decode_rgb(bytes(bad))
    with pytest.raises(ValueError, match="truncated|missing"):
        _decode_rgb(bytes(good[:30]))

    def patch_ihdr(byte12):
        ihdr = bytearray(good[16:29])
        ihdr[12] = byte12
        return (bytes(good[:16]) + bytes(ihdr)
                + (_z.crc32(b"IHDR" + bytes(ihdr)) & 0xFFFFFFFF
                   ).to_bytes(4, "big") + bytes(good[33:]))

    # flipping the interlace FLAG on sequential scan data is now a
    # size mismatch (Adam7 expects different pass layout), not a gate
    with pytest.raises(ValueError, match="size mismatch"):
        _decode_rgb(patch_ihdr(1))
    # unknown interlace method stays an honest refusal
    with pytest.raises(NotImplementedError, match="interlace"):
        _decode_rgb(patch_ihdr(2))


def test_png_spark_roundtrip(spark):
    """synth_png_blob → decode_image_pixels over mapInPandas matches
    the generation arithmetic — same witness as the PPM path, but the
    bytes went through zlib + cycling filter types."""
    from htmlparser_spark.operators.multimodal import synth_png_blob
    ids = spark.range(9).withColumnRenamed("id", "doc_id")
    rows = decode_image_pixels(synth_png_blob(ids)) \
        .orderBy("doc_id").collect()
    assert len(rows) == 9
    for r in rows:
        i = r.doc_id
        w, h = i % 13 + 4, i % 11 + 4
        px = (i * 7 + 31 * np.arange(w * h * 3, dtype=np.int64)) % 256
        assert (r.width, r.height) == (w, h)
        assert [r.sum_r, r.sum_g, r.sum_b] == \
            [int(px[c::3].sum()) for c in range(3)]


class TestImageAhash:
    def test_ahash_matches_local_replay(self, spark):
        import numpy as np
        from htmlparser_spark.operators.multimodal import (
            ahash_bits, image_ahash, synth_ppm_blob)
        df = spark.range(0, 12).withColumnRenamed("id", "doc_id")
        got = {r.doc_id: r.ahash
               for r in image_ahash(synth_ppm_blob(df)).collect()}
        for i in range(12):
            w, h = i % 13 + 4, i % 11 + 4
            n = w * h * 3
            px = (i * 7 + 31 * np.arange(n, dtype=np.int64)) % 256
            assert got[i] == ahash_bits(w, h, px)

    def test_identical_images_identical_hash(self, spark):
        from pyspark.sql import functions as F
        from htmlparser_spark.operators.multimodal import (
            image_ahash, synth_ppm_blob)
        df = spark.range(0, 10).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 2).alias("seed"))
        out = image_ahash(synth_ppm_blob(df, seed_col="seed"))
        hashes = {r.doc_id: r.ahash for r in out.collect()}
        assert len({hashes[i] for i in range(0, 10, 2)}) == 1
        assert len({hashes[i] for i in range(1, 10, 2)}) == 1
        assert hashes[0] != hashes[1]

    def test_null_blob(self, spark):
        from htmlparser_spark.operators.multimodal import image_ahash
        df = spark.createDataFrame([(1, None)],
                                   "doc_id long, blob binary")
        assert image_ahash(df).collect()[0].ahash is None

    def test_near_dup_pairs_via_generic_kernel(self, spark):
        from pyspark.sql import functions as F
        from htmlparser_spark.operators.dedup import hamming_candidates
        from htmlparser_spark.operators.multimodal import (
            image_ahash, synth_ppm_blob)
        df = spark.range(0, 8).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).alias("seed"))
        sigs = image_ahash(synth_ppm_blob(df, seed_col="seed")) \
            .withColumnRenamed("ahash", "sh")
        pairs = hamming_candidates(sigs, sig_col="sh")
        exact = {(r.id_a, r.id_b) for r in pairs.collect()
                 if r.hamming == 0}
        # planted duplicates: ids congruent mod 4 share an image
        for a, b in [(0, 4), (1, 5), (2, 6), (3, 7)]:
            assert (a, b) in exact


class TestAudioFingerprint:
    def test_afp_matches_local_replay(self, spark):
        import numpy as np
        from htmlparser_spark.operators.multimodal import (
            afp_bits, audio_fingerprint, synth_wav_blob)
        df = spark.range(0, 12).withColumnRenamed("id", "doc_id")
        got = {r.doc_id: r.afp
               for r in audio_fingerprint(synth_wav_blob(df)).collect()}
        for i in range(12):
            ch, frames = i % 2 + 1, i % 50 + 20
            n = frames * ch
            s = ((i * 13 + 37 * np.arange(n, dtype=np.int64))
                 % 65536 - 32768)
            assert got[i] == afp_bits(ch, s)

    def test_planted_classes_and_null(self, spark):
        from pyspark.sql import functions as F
        from htmlparser_spark.operators.multimodal import (
            audio_fingerprint, synth_wav_blob)
        df = spark.range(0, 10).select(
            F.col("id").alias("doc_id"), (F.col("id") % 2).alias("seed"))
        out = audio_fingerprint(synth_wav_blob(df, seed_col="seed"))
        fps = {r.doc_id: r.afp for r in out.collect()}
        assert len({fps[i] for i in range(0, 10, 2)}) == 1
        assert len({fps[i] for i in range(1, 10, 2)}) == 1
        assert fps[0] != fps[1]
        nul = spark.createDataFrame([(1, None)], "doc_id long, blob binary")
        assert audio_fingerprint(nul).collect()[0].afp is None

    def test_near_dup_pairs_via_generic_kernel(self, spark):
        from pyspark.sql import functions as F
        from htmlparser_spark.operators.dedup import hamming_candidates
        from htmlparser_spark.operators.multimodal import (
            audio_fingerprint, synth_wav_blob)
        df = spark.range(0, 8).select(
            F.col("id").alias("doc_id"), (F.col("id") % 4).alias("seed"))
        sigs = audio_fingerprint(synth_wav_blob(df, seed_col="seed")) \
            .withColumnRenamed("afp", "sh")
        exact = {(r.id_a, r.id_b)
                 for r in hamming_candidates(sigs, sig_col="sh").collect()
                 if r.hamming == 0}
        for a, b in [(0, 4), (1, 5), (2, 6), (3, 7)]:
            assert (a, b) in exact


class TestSceneCuts:
    def test_matches_local_replay(self, spark):
        import numpy as np
        from htmlparser_spark.operators.multimodal import (
            scene_cuts, synth_y4m_blob)
        df = spark.range(0, 10).withColumnRenamed("id", "doc_id")
        got = {}
        for r in scene_cuts(synth_y4m_blob(df)).collect():
            got.setdefault(r.doc_id, {})[r.frame_idx] = (
                r.diff_sum, r.diff_ppm, r.is_cut)
        for i in range(10):
            w, h, nf = (i % 8 + 2) * 2, (i % 6 + 2) * 2, i % 7 + 3
            j = np.arange(w * h, dtype=np.int64)
            planes = np.stack([(i * 11 + f * 101 + j * 7) % 256
                               for f in range(nf)])
            diffs = np.abs(planes[1:] - planes[:-1]).sum(axis=1)
            ppm = diffs * 1_000_000 // (w * h * 255)
            assert set(got[i]) == set(range(1, nf))
            for f in range(1, nf):
                assert got[i][f] == (int(diffs[f - 1]), int(ppm[f - 1]),
                                     int(ppm[f - 1] > 250_000))

    def test_quarantine_and_short_clips(self, spark):
        from htmlparser_spark.operators.multimodal import scene_cuts
        one_frame = (b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420\n"
                     + b"FRAME\n" + bytes(24))
        df = spark.createDataFrame(
            [(1, None), (2, b"garbage"), (3, one_frame)],
            "doc_id long, blob binary")
        assert scene_cuts(df).count() == 0


class TestAudioEnergyWindows:
    def test_matches_local_replay(self, spark):
        import numpy as np
        from htmlparser_spark.operators.multimodal import (
            audio_energy_windows, synth_wav_blob)
        df = spark.range(0, 10).withColumnRenamed("id", "doc_id")
        got = {}
        for r in audio_energy_windows(synth_wav_blob(df),
                                      window=8).collect():
            got.setdefault(r.doc_id, {})[r.win_idx] = (r.energy,
                                                       r.is_silent)
        for i in range(10):
            ch, frames = i % 2 + 1, i % 50 + 20
            n = frames * ch
            a = np.abs((i * 13 + 37 * np.arange(n, dtype=np.int64))
                       % 65536 - 32768)
            m = a.reshape(frames, ch).sum(axis=1) // ch
            nw = frames // 8
            e = m[:nw * 8].reshape(nw, 8).sum(axis=1) // 8
            assert set(got[i]) == set(range(nw))
            for w in range(nw):
                assert got[i][w] == (int(e[w]), int(e[w] < 8192))

    def test_silent_clip_flagged(self, spark):
        from htmlparser_spark.operators.multimodal import (
            audio_energy_windows)
        # hand-built mono 8kHz WAV of 32 zero samples = pure silence
        data = bytes(64)
        fmt = (b"\x01\x00\x01\x00" + (8000).to_bytes(4, "little")
               + (16000).to_bytes(4, "little") + b"\x02\x00\x10\x00")
        body = (b"WAVEfmt " + len(fmt).to_bytes(4, "little") + fmt
                + b"data" + len(data).to_bytes(4, "little") + data)
        wav = b"RIFF" + len(body).to_bytes(4, "little") + body
        df = spark.createDataFrame([(1, wav), (2, None), (3, b"junk")],
                                   "doc_id long, blob binary")
        rows = audio_energy_windows(df, window=16).collect()
        assert {r.doc_id for r in rows} == {1}
        assert all(r.energy == 0 and r.is_silent == 1 for r in rows)
        assert len(rows) == 2


def test_media_signature_ops_map_only_plans(spark):
    # every media signature/segmentation op is ONE Arrow stage over
    # (keys, blob) — no Exchange anywhere (blobs never shuffle)
    from htmlparser_spark.operators.multimodal import (
        audio_energy_windows, audio_fingerprint, image_ahash,
        scene_cuts, synth_ppm_blob, synth_wav_blob, synth_y4m_blob)
    df = spark.range(0, 4).withColumnRenamed("id", "doc_id")
    for out in (image_ahash(synth_ppm_blob(df)),
                audio_fingerprint(synth_wav_blob(df)),
                audio_energy_windows(synth_wav_blob(df)),
                scene_cuts(synth_y4m_blob(df))):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_image_ahash_quarantines_undecodable_blobs(spark):
    # a truncated JPEG and a garbled PPM (both ValueError) must null
    # the signature, not crash the task
    from htmlparser_spark.operators.multimodal import image_ahash
    good = (b"P6\n2 2\n255\n" + bytes(range(12)))
    df = spark.createDataFrame(
        [(1, b"\xff\xd8\xff\xe0junk"), (2, b"P6 bad header"),
         (3, None), (4, good)],
        "doc_id long, blob binary")
    got = {r.doc_id: r.ahash for r in image_ahash(df).collect()}
    assert got[1] is None and got[2] is None and got[3] is None
    assert got[4] is not None


def test_y4m_negative_dims_quarantined(spark):
    # 'W-1' is truthy but would give stride 0 — must be ValueError
    # inside the parser (quarantine), not ZeroDivisionError (crash)
    import pytest as _pytest
    from htmlparser_spark.operators.multimodal import (_parse_y4m_y,
                                                       scene_cuts)
    bad = b"YUV4MPEG2 W-1 H4 F25:1 Ip A1:1 C420\nFRAME\n" + bytes(24)
    with _pytest.raises(ValueError):
        _parse_y4m_y(bad)
    df = spark.createDataFrame([(1, bad)], "doc_id long, blob binary")
    assert scene_cuts(df).count() == 0


def test_shot_keyframes_composition(spark):
    # hand-built cuts frame: doc 1 cuts at frames 2 and 5; doc 2 none
    from htmlparser_spark.operators.multimodal import shot_keyframes
    cuts = spark.createDataFrame(
        [(1, 1, 0), (1, 2, 1), (1, 3, 0), (1, 4, 0), (1, 5, 1),
         (2, 1, 0)],
        "doc_id long, frame_idx long, is_cut long")
    got = {(r.doc_id, r.shot_idx): r.start_frame
           for r in shot_keyframes(cuts).collect()}
    assert got == {(1, 0): 0, (1, 1): 2, (1, 2): 5, (2, 0): 0}


def test_shot_keyframes_single_frame_clip(spark):
    # a valid 1-frame clip has no frame pair: scene_cuts emits no row,
    # so only the clip universe passed as ``clips`` gives it its
    # (shot 0, frame 0) keyframe
    from htmlparser_spark.operators.multimodal import (scene_cuts,
                                                       shot_keyframes)
    one_frame = (b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420\n"
                 + b"FRAME\n" + bytes(range(24)))
    clips = spark.createDataFrame([(7, one_frame)],
                                  "doc_id long, blob binary")
    cuts = scene_cuts(clips)
    assert cuts.collect() == []
    got = [(r.doc_id, r.shot_idx, r.start_frame)
           for r in shot_keyframes(cuts, clips=clips).collect()]
    assert got == [(7, 0, 0)]
    assert shot_keyframes(cuts).collect() == []
