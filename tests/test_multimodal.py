"""Multimodal plumbing: frame sampling (1→N mapInPandas fan-out),
payload resize (media-layout-preserving transform), decode stub."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from timebox_spark.operators import multimodal
from timebox_spark.plans.tables import load


def _media(spark):
    return multimodal.to_media_table(load(spark, SF_SMOKE, "documents"))


def test_sample_frames_reconstructs_payload(spark):
    media = _media(spark).filter("doc_id < 5")
    src = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    frames = multimodal.sample_frames(media, frame_bytes=64, every_n=1).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        b = src[doc_id]
        rows.sort(key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in rows] == list(range(len(rows)))
        assert sum(r["n_bytes"] for r in rows) == len(b)
        assert rows[0]["byte_sum_mod"] == sum(b[:64]) % 2147483647


def test_sample_frames_every_n_skips(spark):
    media = _media(spark).filter("doc_id < 5")
    every4 = multimodal.sample_frames(media, frame_bytes=64, every_n=4).collect()
    assert every4 and all(r["frame_idx"] % 4 == 0 for r in every4)


def test_unsupported_codecs_still_raise():
    # unknown containers raise; truncated JPEG raises cleanly too
    with pytest.raises(ValueError):
        multimodal.decode_image(b"GIF87a" + b"\x00" * 16)
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 16)


def test_png_roundtrip_exact():
    import numpy as np

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (3, 5), (16, 7), (9, 16)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(multimodal.decode_image(multimodal.encode_png(px)), px)


def _spec_filtered_png(px, filter_types):
    """Build PNG bytes with the given per-row filter types, filtering
    each scanline by the PNG spec formulas directly — independent of
    the decoder's unfilter code, so a shared misreading can't cancel."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = px.shape
    lines, prev = [], np.zeros(w * ch, dtype=np.int64)
    for y, ftype in enumerate(filter_types):
        cur = px[y].reshape(-1).astype(np.int64)
        filt = np.zeros(w * ch, dtype=np.int64)
        for i in range(w * ch):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[i] = (cur[i] - pred) % 256
        lines.append(bytes([ftype]) + bytes(filt.astype(np.uint8)))
        prev = cur
    raw = b"".join(lines)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ctype = 2 if ch == 3 else 6
    return (
        multimodal.PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_all_filters_decode():
    import numpy as np

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    png = _spec_filtered_png(px, [0, 1, 2, 3, 4])
    assert np.array_equal(multimodal.decode_image(png), px)


def test_png_foreign_all_paeth_average_decode():
    """Golden foreign-encoder shape: every row Paeth (then every row
    Average) on a larger image — drives the vectorized x-scan
    unfilter path against the spec-side filter formulas."""
    import numpy as np

    rng = np.random.default_rng(23)
    px = rng.integers(0, 256, size=(24, 31, 3), dtype=np.uint8)
    for f in (3, 4):
        png = _spec_filtered_png(px, [f] * px.shape[0])
        assert np.array_equal(multimodal.decode_image(png), px)
    rgba = rng.integers(0, 256, size=(9, 7, 4), dtype=np.uint8)
    png = _spec_filtered_png(rgba, [4, 3] * 4 + [4])
    assert np.array_equal(multimodal.decode_image(png), rgba[:, :, :3])


def test_png_rgba_drops_alpha():
    import numpy as np

    rng = np.random.default_rng(3)
    rgba = rng.integers(0, 256, size=(3, 3, 4), dtype=np.uint8)
    png = _spec_filtered_png(rgba, [0, 2, 1])
    assert np.array_equal(multimodal.decode_image(png), rgba[:, :, :3])


def test_bmp_ppm_roundtrip_exact():
    import numpy as np

    rng = np.random.default_rng(7)
    # odd widths exercise BMP row padding; 1-pixel edge cases too
    for h, w in [(1, 1), (3, 5), (16, 7), (9, 16)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(multimodal.decode_image(multimodal.encode_bmp(px)), px)
        assert np.array_equal(multimodal.decode_image(multimodal.encode_ppm(px)), px)


def test_ppm_header_comments():
    import numpy as np

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    raw = multimodal.encode_ppm(px)
    commented = b"P6\n# a comment\n3 2\n# another\n255\n" + raw.split(b"\n255\n", 1)[1]
    assert np.array_equal(multimodal.decode_image(commented), px)


def test_synth_decode_matches_formula(spark):
    """decode(encode(synth(doc_id))) must reproduce the closed-form
    dims and pixel sums the oracle derives from doc_id."""
    import numpy as np

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    media = multimodal.synth_media_table(docs)
    out = {r["doc_id"]: r for r in multimodal.decode_features(media).collect()}
    assert len(out) == 40
    for doc_id in range(40):
        r = out[doc_id]
        assert r["fmt"] == {0: "bmp", 1: "ppm", 2: "png", 3: "jpeg"}[doc_id % 4]
        if doc_id % 4 == 3:
            h, w = multimodal.synth_jpeg_dims(doc_id)
            px = multimodal.synth_jpeg_pixels(doc_id)
            expected_sum = 3 * int(px.astype(np.int64).sum())  # gray → RGB
        else:
            h, w = multimodal.synth_dims(doc_id)
            px = multimodal.synth_pixels(doc_id)
            expected_sum = int(px.astype(np.int64).sum())
        assert (r["height"], r["width"]) == (h, w)
        assert r["pixel_sum"] == expected_sum


def test_wav_roundtrip_and_foreign_chunk_walk():
    """encode→decode is exact; a foreign WAV with a LIST chunk before
    data and an odd-length (word-padded) chunk parses per spec; wrong
    variants are rejected with clear errors."""
    import struct

    import numpy as np
    import pytest

    from timebox_spark.operators import audio as AU

    s = AU.synth_samples(123)
    rate, back = AU.decode_wav(AU.encode_wav(s, 44100))
    assert rate == 44100
    assert np.array_equal(back, s)

    # hand-assembled foreign file: fmt, LIST (odd length -> pad byte),
    # then data with trailing junk after the declared length
    data = np.array([1, -2, 3], dtype="<i2").tobytes()
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    lst = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
    dat = b"data" + struct.pack("<I", len(data)) + data
    body = b"WAVE" + fmt + lst + dat
    foreign = b"RIFF" + struct.pack("<I", len(body)) + body + b"JUNK"
    rate2, back2 = AU.decode_wav(foreign)
    assert rate2 == 8000
    assert back2.tolist() == [1, -2, 3]

    with pytest.raises(ValueError, match="RIFF"):
        AU.decode_wav(b"NOPE" + bytes(40))
    stereo = b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16
    ) + b"data" + struct.pack("<I", 0)
    with pytest.raises(ValueError, match="mono"):
        AU.decode_wav(stereo)


def test_audio_features_kernel(spark):
    """The Arrow kernel decodes real WAV payloads and emits exact
    integer digests matching a local numpy recompute."""
    import numpy as np

    from timebox_spark.operators import audio as AU

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    feats = {
        r["doc_id"]: (r["sample_rate"], r["n_samples"], r["sample_sum"], r["peak"])
        for r in AU.audio_features(AU.synth_audio_table(docs)).collect()
    }
    for d in range(20):
        s = AU.synth_samples(d).astype(np.int64)
        assert feats[d] == (
            AU.WAV_RATE,
            s.size,
            int(s.sum()),
            int(np.abs(s).max()),
        )


def test_y4m_roundtrip_and_foreign_header():
    """Y4M encode→decode is exact; a foreign stream with extra header
    tags and frame parameter lines parses per spec; non-mono
    colorspace is rejected."""
    import numpy as np
    import pytest

    from timebox_spark.operators import audio as AU

    frames = [AU.synth_frame(5, f) for f in range(3)]
    w, h, back = AU.decode_y4m(AU.encode_y4m(frames))
    assert (w, h) == (AU.VIDEO_W, AU.VIDEO_H)
    assert all(np.array_equal(a, b) for a, b in zip(back, frames))

    # foreign: unknown X tag, frame params after FRAME, 2x2 mono
    f0 = np.arange(4, dtype=np.uint8).reshape(2, 2)
    raw = (
        b"YUV4MPEG2 W2 H2 F30000:1001 Ip A1:1 Cmono XYSCSS=MONO\n"
        b"FRAME Ix\n" + f0.tobytes()
    )
    w2, h2, fr2 = AU.decode_y4m(raw)
    assert (w2, h2) == (2, 2)
    assert np.array_equal(fr2[0], f0)

    with pytest.raises(ValueError, match="Cmono"):
        AU.decode_y4m(b"YUV4MPEG2 W2 H2 C420jpeg\nFRAME\n" + bytes(6))
    with pytest.raises(ValueError, match="YUV4MPEG2"):
        AU.decode_y4m(b"AVI nope\n")


def test_video_features_kernel(spark):
    """The Arrow kernel parses real Y4M payloads; frame counts and
    every-2nd-frame pixel sums match a local numpy recompute."""
    import numpy as np

    from timebox_spark.operators import audio as AU

    docs = spark.range(0, 15).withColumnRenamed("id", "doc_id")
    feats = {
        r["doc_id"]: (r["n_frames"], r["dims"], r["sampled_sum"])
        for r in AU.video_features(AU.synth_video_table(docs)).collect()
    }
    for d in range(15):
        n = AU.synth_n_frames(d)
        ssum = sum(
            int(AU.synth_frame(d, f).astype(np.int64).sum())
            for f in range(0, n, 2)
        )
        assert feats[d] == (n, f"{AU.VIDEO_W}x{AU.VIDEO_H}", ssum)


def test_wav_y4m_property_roundtrip():
    """Property: arbitrary int16 sample arrays and arbitrary uint8
    frame stacks round-trip bit-exactly through the containers."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from timebox_spark.operators import audio as AU

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=0,
            max_size=300,
        ),
        st.integers(min_value=1, max_value=192000),
    )
    def wav_case(vals, rate):
        s = np.asarray(vals, dtype=np.int16)
        r, back = AU.decode_wav(AU.encode_wav(s, rate))
        assert r == rate
        assert np.array_equal(back, s)

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(min_value=0, max_value=6),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=0, max_value=2**32 - 1),
    )
    def y4m_case(n_frames, w, h, seed):
        rng = np.random.default_rng(seed)
        frames = [
            rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            for _ in range(n_frames)
        ]
        w2, h2, back = AU.decode_y4m(AU.encode_y4m(frames, w=w, h=h))
        assert (w2, h2) == (w, h)
        assert len(back) == n_frames
        assert all(np.array_equal(a, b) for a, b in zip(back, frames))

    wav_case()
    y4m_case()


def test_bilinear_resize_properties_and_goldens():
    """Identity at same dims; constant stays constant; a hand-checked
    2x2→4x4 golden matches the half-pixel-center bilinear formula."""
    import numpy as np

    from timebox_spark.operators.multimodal import bilinear_resize

    px = np.arange(8 * 6 * 3, dtype=np.uint8).reshape(8, 6, 3)
    assert np.array_equal(bilinear_resize(px, 8, 6), px)  # identity

    const = np.full((5, 7, 3), 123, dtype=np.uint8)
    assert (bilinear_resize(const, 11, 3) == 123).all()

    # 2x2 -> 4x4: src coords (d+0.5)/2 - 0.5 = [-0.25, 0.25, 0.75, 1.25]
    # clamp to [0,1]; weights 0, .25, .75, 1 against neighbors
    g = np.zeros((2, 2, 3), dtype=np.uint8)
    g[0, 0] = 0
    g[0, 1] = 100
    g[1, 0] = 200
    g[1, 1] = 40
    out = bilinear_resize(g, 4, 4).astype(int)
    assert out[0, 0, 0] == 0 and out[0, 3, 0] == 100
    assert out[3, 0, 0] == 200 and out[3, 3, 0] == 40
    # interior: y=1 -> wy=.25, x=1 -> wx=.25
    exp = (1 - 0.25) * ((1 - 0.25) * 0 + 0.25 * 100) + 0.25 * (
        (1 - 0.25) * 200 + 0.25 * 40
    )
    assert out[1, 1, 0] == int(np.floor(exp + 0.5))


def test_resize_images_kernel_roundtrip(spark):
    """The Arrow resize kernel decodes real payloads (all four image
    formats), resamples, and re-encodes BMPs that decode back to the
    target dims."""
    from timebox_spark.operators import multimodal as M

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    media = M.synth_media_table(docs)
    out = M.resize_images(media, out_h=5, out_w=6).collect()
    assert len(out) == 12
    for r in out:
        px = M.decode_image(bytes(r["payload"]))
        assert px.shape == (5, 6, 3)
        assert r["meta"]["source"] == "resize"


def test_audio_resample_properties_and_kernel(spark):
    """Same-rate is identity; constant stays constant; 2x upsample of
    a ramp matches the half-center linear formula; the Arrow kernel
    re-encodes at the target rate with ~rate-scaled length."""
    import numpy as np

    from timebox_spark.operators import audio as AU

    s = np.array([0, 100, -200, 300], dtype=np.int16)
    assert np.array_equal(AU.resample_linear(s, 8000, 8000), s)
    const = np.full(50, 777, dtype=np.int16)
    assert (AU.resample_linear(const, 8000, 16000) == 777).all()

    ramp = np.array([0, 100], dtype=np.int16)
    up = AU.resample_linear(ramp, 8000, 16000)
    # positions: (d+0.5)/2 - 0.5 = [-0.25, 0.25, 0.75, 1.25] -> clamp
    assert up.tolist() == [0, 25, 75, 100]

    docs = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    out = AU.resample_audio(AU.synth_audio_table(docs), 16000).collect()
    for r in out:
        rate, back = AU.decode_wav(bytes(r["payload"]))
        assert rate == 16000
        n_src = AU.synth_n_samples(r["doc_id"])
        assert back.size == round(n_src * 2)


def test_image_dhash_matches_python_reference(spark):
    """The distributed dHash equals an independent per-image Python
    recompute (decode → r+g+b gray → bilinear 8×9 → neighbor bits)."""
    import numpy as np

    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    media = multimodal.synth_media_table(docs)
    got = {
        r["doc_id"]: (r["dhash_lo"], r["dhash_hi"])
        for r in multimodal.image_dhash(media).collect()
    }
    rows = media.select("doc_id", "payload").collect()
    for r in rows:
        px = multimodal.decode_image(bytes(r["payload"]))
        gray = (
            3 * px.astype(np.int64)
            if px.ndim == 2
            else px.astype(np.int64).sum(axis=2)
        )
        g2 = multimodal._bilinear_gray(
            gray, multimodal.DHASH_H, multimodal.DHASH_W
        )
        val = 0
        for k, b in enumerate((g2[:, 1:] > g2[:, :-1]).reshape(-1)):
            if b:
                val |= 1 << k
        assert got[r["doc_id"]] == (val & 0xFFFFFFFF, val >> 32), r["doc_id"]


def test_dhash_near_dups_planted_pairs(spark):
    """Visually identical images (one-pixel perturbation) collide
    within the Hamming threshold; structurally different images
    don't pair. Pigeonhole blocking must not lose a ≤3-bit pair."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    near = base.copy()
    near[3, 4, 1] = (int(near[3, 4, 1]) + 1) % 256  # tiny perturbation
    other = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    rows = [
        (0, bytearray(multimodal.encode_png(base))),
        (1, bytearray(multimodal.encode_bmp(near))),
        (2, bytearray(multimodal.encode_ppm(other))),
    ]
    media = spark.createDataFrame(
        [(i, bytes(p), {"format": "x", "n_bytes": len(p), "source": "t"}) for i, p in rows],
        multimodal.MEDIA_SCHEMA,
    )
    from pyspark.sql import functions as F

    from timebox_spark.operators.audio import _pigeonhole_pairs

    # the 64 dHash bits packed into one long pair through the shared
    # 4-block pigeonhole join (a constant length key: one image size)
    hashes = multimodal.image_dhash(media).select(
        "doc_id",
        F.expr("shiftleft(dhash_hi, 32) | dhash_lo").alias("dh"),
        F.lit(1).alias("n"),
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in _pigeonhole_pairs(hashes, "dh", "n", 64, max_hamming=3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 3
    assert all(p == (0, 1) for p in pairs)


def test_audio_fingerprint_planted_near_dups(spark):
    """Envelope fingerprints: identical audio (re-encoded) and a
    lightly perturbed copy share the fingerprint; an inverted-envelope
    signal doesn't. Equality-join pairing finds exactly the planted
    pairs."""
    import numpy as np

    from timebox_spark.operators import audio as AU

    rng = np.random.default_rng(17)
    n = 170
    # strong rising-energy staircase: tiny noise can't flip frame order
    base = (
        np.concatenate(
            [
                rng.integers(-40 * (j + 1), 40 * (j + 1) + 1, size=10)
                for j in range(17)
            ]
        )
        .astype(np.int16)
    )
    noisy = base.copy()
    noisy[5] = base[5] + 1
    falling = base[::-1].copy()
    rows = [
        (0, AU.encode_wav(base)),
        (1, AU.encode_wav(noisy)),
        (2, AU.encode_wav(falling)),
    ]
    audio = spark.createDataFrame(
        [(i, bytes(p), {"format": "audio/wav", "n_bytes": len(p), "source": "t"})
         for i, p in rows],
        AU.AUDIO_SCHEMA,
    )
    fps = AU.audio_fingerprint(audio)
    got = {r["doc_id"]: r["afp"] for r in fps.collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]
    assert len(got) == 3 and got[0] > 0
    pairs = [
        (r["id_a"], r["id_b"])
        for r in AU.audio_near_dups_hamming(fps, max_hamming=0).collect()
    ]
    assert pairs == [(0, 1)]


def test_video_fingerprint_planted(spark):
    """Brightness-envelope video fingerprints: a lightly perturbed
    copy of a rising-brightness clip shares the fingerprint; the
    reversed clip doesn't."""
    import numpy as np

    from timebox_spark.operators import audio as AU

    frames = [
        np.full((8, 8), 20 * (f + 1), dtype=np.uint8) for f in range(6)
    ]
    noisy = [fr.copy() for fr in frames]
    noisy[2][3, 3] += 1
    rows = [
        (0, AU.encode_y4m(frames)),
        (1, AU.encode_y4m(noisy)),
        (2, AU.encode_y4m(frames[::-1])),
    ]
    video = spark.createDataFrame(
        [(i, bytes(p), {"format": "video/y4m", "n_bytes": len(p), "source": "t"})
         for i, p in rows],
        AU.AUDIO_SCHEMA,
    )
    got = {r["doc_id"]: (r["vfp"], r["n_frames"])
           for r in AU.video_fingerprint(video).collect()}
    assert got[0] == (0b11111, 6)  # strictly rising: all 5 bits set
    assert got[1] == got[0]
    assert got[2] == (0, 6)  # strictly falling: no bits


def test_audio_hamming_near_dups_planted_near_miss(spark):
    """A one-envelope-bit flip (one frame's energy perturbed past its
    neighbor) is INVISIBLE to the exact-equality join but caught by
    the 4x4-bit pigeonhole Hamming join (round-6 verdict task 4)."""
    import numpy as np

    from timebox_spark.operators import audio as AU

    # 17 constant-amplitude chunks of 10 samples → frame j energy is
    # exactly 10*(20*(j+1))², strictly rising: afp = 0xFFFF for base
    base = np.concatenate(
        [np.full(10, 20 * (j + 1), dtype=np.int16) for j in range(17)]
    )
    # flip exactly one envelope comparison: frame 9's energy becomes
    # huge, so bit 8 (e[9] > e[8]) stays set but bit 9 (e[10] > e[9])
    # flips off — Hamming distance exactly 1
    flipped = base.copy()
    flipped[90:100] = 4000
    falling = base[::-1].copy()
    rows = [
        (0, AU.encode_wav(base)),
        (1, AU.encode_wav(flipped)),
        (2, AU.encode_wav(falling)),
    ]
    audio = spark.createDataFrame(
        [(i, bytes(p), {"format": "audio/wav", "n_bytes": len(p), "source": "t"})
         for i, p in rows],
        AU.AUDIO_SCHEMA,
    )
    fps = AU.audio_fingerprint(audio)
    got = {r["doc_id"]: r["afp"] for r in fps.collect()}
    d01 = bin(got[0] ^ got[1]).count("1")
    d02 = bin(got[0] ^ got[2]).count("1")
    assert d01 == 1 and d02 == 16, (d01, d02)
    # exact-equality join misses the near-miss pair entirely
    assert AU.audio_near_dups_hamming(fps, max_hamming=0).count() == 0
    # Hamming-tolerant pigeonhole join finds exactly (0, 1)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in AU.audio_near_dups_hamming(fps).collect()
    }
    assert set(pairs) == {(0, 1)} and pairs[(0, 1)] == d01
    import pytest as _pt

    with _pt.raises(ValueError):
        AU.audio_near_dups_hamming(fps, max_hamming=4)


def test_video_hamming_near_dups_and_64frame_cap(spark):
    """(a) One flipped brightness comparison pairs under the Hamming
    join but not under exact vfp equality; (b) a 100-frame clip does
    NOT overflow int64 (ADVICE round 6: uncapped `1 << f` raised
    OverflowError past 64 frames) — the envelope caps at 63 bits."""
    import numpy as np

    from timebox_spark.operators import audio as AU

    frames = [
        np.full((8, 8), 20 * (f + 1), dtype=np.uint8) for f in range(6)
    ]
    dipped = [fr.copy() for fr in frames]
    dipped[3][:, :] = 10  # one valley: flips bits 2 and 3 (hamming 2)
    rows = [
        (0, AU.encode_y4m(frames)),
        (1, AU.encode_y4m(dipped)),
        (2, AU.encode_y4m(frames[::-1])),
        # 100 frames of alternating brightness: all 63 capped bits
        # exercise the `1 << f` path right up to the int64 edge
        (3, AU.encode_y4m(
            [np.full((8, 8), 200 if f % 2 else 50, dtype=np.uint8)
             for f in range(100)]
        )),
    ]
    video = spark.createDataFrame(
        [(i, bytes(p), {"format": "video/y4m", "n_bytes": len(p), "source": "t"})
         for i, p in rows],
        AU.AUDIO_SCHEMA,
    )
    fps = AU.video_fingerprint(video)
    got = {r["doc_id"]: (r["vfp"], r["n_frames"]) for r in fps.collect()}
    assert got[3][1] == 100
    # odd frames are bright: bits 0,2,4,...,62 set within the 63-bit cap
    expect = sum(1 << f for f in range(0, AU.VFP_MAX_BITS, 2))
    assert got[3][0] == expect
    d01 = bin(got[0][0] ^ got[1][0]).count("1")
    assert 1 <= d01 <= 3
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in AU.video_near_dups(fps).collect()
    }
    assert set(pairs) == {(0, 1)} and pairs[(0, 1)] == d01


def test_pigeonhole_blocks_sized_from_actual_width(spark):
    """Round-8 verdict task 3: blocks tile the ACTUAL envelope width.
    For 8-frame clips (7-bit envelopes) the old fixed-16-bit layout
    put the whole fingerprint in block 0 and emitted every
    same-length pair 3x through all-zero blocks 1-3; the width-tiled
    layout emits only genuine block agreements (pinned against a
    Python mirror of the tiling) — at least a 3x candidate drop —
    while hamming<=3 recall on the short envelope is preserved."""
    from pyspark.sql import functions as F

    from timebox_spark.operators import audio as AU

    fps_vals = [0b0000000, 0b1111111, 0b1010101, 0b0110011, 0b1001110]
    fps = spark.createDataFrame(
        [(i, v, 8) for i, v in enumerate(fps_vals)],
        "doc_id long, vfp long, n_frames long",
    )
    w = 7  # envelope width for 8-frame clips

    def keys(fp: int) -> list[int]:
        return [
            (fp >> (k * w // 4)) % (1 << ((k + 1) * w // 4 - k * w // 4))
            for k in range(4)
        ]

    expect = sum(
        sum(ka == kb for ka, kb in zip(keys(a), keys(b)))
        for x, a in enumerate(fps_vals)
        for b in fps_vals[x + 1 :]
    )
    raw = AU._pigeonhole_pairs(
        fps,
        "vfp",
        "n_frames",
        F.least(F.col("n_frames") - 1, F.lit(AU.VFP_MAX_BITS)),
        _candidates_only=True,
    )
    n_raw = raw.count()
    assert n_raw == expect, (n_raw, expect)
    # old layout: 3 all-zero blocks -> every same-length pair 3x
    old_floor = 3 * (len(fps_vals) * (len(fps_vals) - 1) // 2)
    assert n_raw * 3 <= old_floor, (n_raw, old_floor)

    # recall survives the tiling: a hamming-3 pair on the 7-bit
    # envelope still agrees on a block and is emitted
    fps2 = spark.createDataFrame(
        [(0, 0b0000000, 8), (1, 0b0001011, 8), (2, 0b1111111, 8)],
        "doc_id long, vfp long, n_frames long",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in AU.video_near_dups(fps2).collect()
    }
    assert pairs == {(0, 1): 3}, pairs
