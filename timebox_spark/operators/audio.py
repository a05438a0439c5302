"""Audio modality: real RIFF/WAVE PCM codec + feature extraction.

The reference has no media surface at all (numeric time series only,
SURVEY §2.7); this extends the multimodal column family
(operators/multimodal.py) to audio. Payloads are REAL WAV files —
RIFF container, fmt chunk, 16-bit mono PCM — encoded and decoded by
pure-numpy code (the container rules this repo can ship without
audio libraries), with the same Arrow-batched mapInPandas plumbing
and digest-without-decoding oracle trick the image codecs use: the
synthetic sample stream is a closed-form function of doc_id, so the
DuckDB oracle predicts the decoded sample sum arithmetically and any
header/chunk/endianness mis-parse breaks the driver hash.

Compressed codecs (MP3/AAC/Opus) need DSP libraries that are not in
this container; their decode slots into ``decode_wav``'s seam the
same way Pillow slots into the PNG path (multimodal._decode_png).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timebox_spark.session import ensure_parallelism, ship_package

WAV_RATE = 8000
SYNTH_SAMPLE_MOD = 4096
SYNTH_SAMPLE_OFF = 2048


def encode_wav(samples, sample_rate: int = WAV_RATE) -> bytes:
    """int16 mono PCM → canonical 44-byte-header WAV bytes."""
    import numpy as np

    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    byte_rate = sample_rate * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_wav(b: bytes):
    """WAV bytes → (sample_rate, int16 numpy samples). Walks the RIFF
    chunk list (unknown chunks like LIST/INFO are skipped, per spec),
    validates PCM/mono/16-bit, and honors the data chunk's declared
    length — the three places naive parsers go wrong on foreign
    files."""
    import numpy as np

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(b):
        tag, ln = struct.unpack_from("<4sI", b, pos)
        pos += 8
        body = b[pos : pos + ln]
        pos += ln + (ln & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            fmt_code, channels, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if fmt_code != 1 or channels != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV variant (fmt={fmt_code}, "
                    f"ch={channels}, bits={bits}); 16-bit mono PCM only"
                )
        elif tag == b"data":
            data = body
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return rate, np.frombuffer(data, dtype="<i2")


def synth_n_samples(doc_id: int) -> int:
    return 64 + doc_id % 65


def synth_samples(doc_id: int):
    """Deterministic int16 stream the oracle re-derives:
    s[i] = (37·doc_id + 13·i) mod 4096 − 2048."""
    import numpy as np

    n = synth_n_samples(doc_id)
    i = np.arange(n, dtype=np.int64)
    return ((37 * doc_id + 13 * i) % SYNTH_SAMPLE_MOD - SYNTH_SAMPLE_OFF).astype(
        np.int16
    )


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("source", T.StringType()),
                ]
            ),
        ),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_sum", T.LongType()),
        T.StructField("peak", T.LongType()),
    ]
)


def synth_audio_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One real WAV payload per document row, Arrow-batched."""
    ship_package(docs.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_wav(synth_samples(int(d)))
                for d in pdf[id_col].astype("int64")
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "meta": [
                        {
                            "format": "audio/wav",
                            "n_bytes": len(p),
                            "source": "synth",
                        }
                        for p in payloads
                    ],
                }
            )

    return ensure_parallelism(docs.select(id_col)).mapInPandas(
        gen, schema=AUDIO_SCHEMA
    )


def audio_features(audio: DataFrame) -> DataFrame:
    """REAL decode over mapInPandas: parse each WAV and emit rate,
    length, exact sample sum, and peak amplitude — integer digests
    the oracle can hash-check. A container mis-parse (chunk walk,
    endianness, data length) shifts the digest."""
    ship_package(audio.sparkSession)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "sample_rate", "n_samples", "sample_sum", "peak")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, s = decode_wav(bytes(payload))
                out["doc_id"].append(int(doc_id))
                out["sample_rate"].append(int(rate))
                out["n_samples"].append(int(s.size))
                out["sample_sum"].append(int(s.astype(np.int64).sum()))
                out["peak"].append(int(np.abs(s.astype(np.int64)).max()) if s.size else 0)
            yield pd.DataFrame(out)

    return audio.mapInPandas(extract, schema=AUDIO_FEATURES_SCHEMA)


# ------------------------------------------------------------------
# Video modality: YUV4MPEG2 (Y4M) — the uncompressed video container
# (mplayer/ffmpeg interchange format): one ASCII header line, then
# per-frame "FRAME\n" + raw planar pixel data. Plain enough to
# encode/decode with numpy alone, which makes the VIDEO path real the
# same way WAV made audio real: a genuine container parse, not opaque
# bytes. Compressed codecs (H.264 etc.) slot into decode_y4m's seam.

VIDEO_W = 8
VIDEO_H = 8


def synth_n_frames(doc_id: int) -> int:
    return 4 + doc_id % 5


def synth_frame(doc_id: int, f: int):
    """(h, w) uint8 luma plane, closed form the oracle re-derives:
    p(y, x) = (23·doc_id + 19·f + 7·y + 3·x) mod 256."""
    import numpy as np

    y, x = np.ogrid[0:VIDEO_H, 0:VIDEO_W]
    return ((23 * doc_id + 19 * f + 7 * y + 3 * x) % 256).astype(np.uint8)


def encode_y4m(frames, w: int = VIDEO_W, h: int = VIDEO_H) -> bytes:
    """Mono (Cmono) Y4M: header + FRAME-delimited raw luma planes."""
    hdr = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\n".encode()
    body = b"".join(b"FRAME\n" + bytes(fr.tobytes()) for fr in frames)
    return hdr + body


def decode_y4m(b: bytes):
    """Y4M bytes → (w, h, [frames]) — parses the parameter header
    (tag letters + values, unknown tags skipped per spec), then walks
    FRAME markers; frame parameter lines (e.g. 'FRAME Ix\\n') are
    tolerated. Mono (Cmono) only — C420 upsampling needs chroma
    interpolation policy, rejected explicitly."""
    import numpy as np

    nl = b.index(b"\n")
    head = b[:nl].decode("ascii", "strict").split(" ")
    if head[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    colorspace = "C420"  # spec default
    for tag in head[1:]:
        if not tag:
            continue
        if tag[0] == "W":
            w = int(tag[1:])
        elif tag[0] == "H":
            h = int(tag[1:])
        elif tag[0] == "C":
            colorspace = tag
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H")
    if colorspace != "Cmono":
        raise ValueError(
            f"unsupported Y4M colorspace {colorspace}; Cmono only"
        )
    frames, pos, fsize = [], nl + 1, w * h
    while pos < len(b):
        if b[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at byte {pos}")
        pos = b.index(b"\n", pos) + 1  # skip optional frame params
        frames.append(
            np.frombuffer(b[pos : pos + fsize], dtype=np.uint8).reshape(h, w)
        )
        pos += fsize
    return w, h, frames


VIDEO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("dims", T.StringType()),
        T.StructField("sampled_sum", T.LongType()),
    ]
)


def synth_video_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One real Y4M payload per document row, Arrow-batched."""
    ship_package(docs.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_y4m(
                    [
                        synth_frame(int(d), f)
                        for f in range(synth_n_frames(int(d)))
                    ]
                )
                for d in pdf[id_col].astype("int64")
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "meta": [
                        {
                            "format": "video/x-yuv4mpeg",
                            "n_bytes": len(p),
                            "source": "synth",
                        }
                        for p in payloads
                    ],
                }
            )

    return ensure_parallelism(docs.select(id_col)).mapInPandas(
        gen, schema=AUDIO_SCHEMA
    )


def video_features(video: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL container parse + frame sampling: decode the Y4M stream,
    keep every ``every_n``-th frame (the standard keyframe-sampling
    step of a video training pipeline), and emit frame count, dims,
    and the exact pixel sum over the SAMPLED frames — integers the
    oracle re-derives arithmetically."""
    ship_package(video.sparkSession)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "n_frames", "dims", "sampled_sum")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, frames = decode_y4m(bytes(payload))
                sampled = frames[::every_n]
                out["doc_id"].append(int(doc_id))
                out["n_frames"].append(len(frames))
                out["dims"].append(f"{w}x{h}")
                out["sampled_sum"].append(
                    int(sum(fr.astype(np.int64).sum() for fr in sampled))
                )
            yield pd.DataFrame(out)

    return video.mapInPandas(extract, schema=VIDEO_FEATURES_SCHEMA)


def resample_linear(samples, src_rate: int, dst_rate: int):
    """Linear-interpolation sample-rate conversion of an int16 mono
    stream (vectorized numpy; half-sample-center mapping like the
    image path's bilinear_resize). The normalize-to-one-rate step an
    audio training pipeline runs before featurization."""
    import numpy as np

    s = np.asarray(samples, dtype=np.float64)
    if s.size == 0 or src_rate == dst_rate:
        return np.asarray(samples, dtype=np.int16).copy()
    n_out = max(1, int(round(s.size * dst_rate / src_rate)))
    pos = (np.arange(n_out, dtype=np.float64) + 0.5) * (s.size / n_out) - 0.5
    pos = np.clip(pos, 0, s.size - 1)
    i0 = np.floor(pos).astype(np.int64)
    i1 = np.minimum(i0 + 1, s.size - 1)
    frac = pos - i0
    out = s[i0] * (1 - frac) + s[i1] * frac
    return np.clip(np.floor(out + 0.5), -32768, 32767).astype(np.int16)


def resample_audio(
    audio: DataFrame, dst_rate: int = 16000
) -> DataFrame:
    """REAL rate conversion over the audio table: decode each WAV,
    linearly resample to ``dst_rate``, re-encode — Arrow-batched,
    map-only, mirrors ``multimodal.resize_images`` for the audio
    modality."""
    ship_package(audio.sparkSession)

    def conv(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for payload in pdf["payload"]:
                rate, s = decode_wav(bytes(payload))
                payloads.append(
                    encode_wav(resample_linear(s, rate, dst_rate), dst_rate)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": payloads,
                    "meta": [
                        {
                            "format": "audio/wav",
                            "n_bytes": len(p),
                            "source": "resample",
                        }
                        for p in payloads
                    ],
                }
            )

    return audio.mapInPandas(conv, schema=AUDIO_SCHEMA)


# energy-envelope fingerprint constants (shared with the q30 oracle)
AFP_FRAMES = 17  # 17 frames → 16 adjacent-energy comparison bits

AFP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("afp", T.LongType()),
        T.StructField("n_samples", T.LongType()),
    ]
)


def audio_fingerprint(audio: DataFrame) -> DataFrame:
    """Energy-envelope audio fingerprint — the audio analog of the
    image dHash: decode each WAV, partition the stream into
    ``AFP_FRAMES`` integer-bound frames (frame j = samples
    [j·n//F, (j+1)·n//F)), compute exact integer frame energies
    Σ s², and set bit j iff energy[j+1] > energy[j] — a 16-bit
    loudness-shape fingerprint robust to small per-sample noise.
    All-integer arithmetic, so the oracle re-derives it exactly from
    the synthetic closed form. Arrow map-only; near-dup pairs come
    from the pigeonhole block join of ``audio_near_dups_hamming``
    (``max_hamming=0`` for exact fingerprint equality), never
    all-pairs."""
    ship_package(audio.sparkSession)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, fps, ns = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, s = decode_wav(bytes(payload))
                n = int(s.size)
                sq = s.astype(np.int64) ** 2
                bounds = [j * n // AFP_FRAMES for j in range(AFP_FRAMES + 1)]
                e = [int(sq[bounds[j]:bounds[j + 1]].sum()) for j in range(AFP_FRAMES)]
                val = 0
                for j in range(AFP_FRAMES - 1):
                    if e[j + 1] > e[j]:
                        val |= 1 << j
                ids.append(int(doc_id))
                fps.append(val)
                ns.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "afp": pd.Series(fps, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                }
            )

    return audio.select("doc_id", "payload").mapInPandas(
        extract, schema=AFP_SCHEMA
    )


# Envelope bits packed into one signed int64: at most 63 comparisons
# (first 64 frames) so `1 << f` never overflows the int64 column.
VFP_MAX_BITS = 63

VFP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("vfp", T.LongType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def video_fingerprint(video: DataFrame) -> DataFrame:
    """Frame-brightness-envelope video fingerprint — the video member
    of the perceptual near-dup family (text SimHash/MinHash, image
    dHash, audio envelope): parse the Y4M container, compute each
    frame's exact integer pixel sum, set bit f iff
    sum[f+1] > sum[f]. A clip's brightness trajectory survives
    re-encoding and mild noise; exact integers mean the oracle
    re-derives the bits from the synthetic closed form. Pair with
    ``video_near_dups`` (pigeonhole blocks keyed on n_frames), never
    all-pairs.

    The envelope is capped at ``VFP_MAX_BITS`` (63) comparisons — the
    first 64 frames — so the packed value always fits a signed int64
    (an uncapped ``1 << f`` overflows for any clip over 64 frames,
    >2.6 s at 25 fps). Joining on (n_frames, vfp) remains sound with
    the truncated envelope: equal clips truncate equally."""
    ship_package(video.sparkSession)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, fps, nf = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _w, _h, frames = decode_y4m(bytes(payload))
                sums = [int(fr.astype(np.int64).sum()) for fr in frames]
                val = 0
                for f in range(min(len(sums) - 1, VFP_MAX_BITS)):
                    if sums[f + 1] > sums[f]:
                        val |= 1 << f
                ids.append(int(doc_id))
                fps.append(val)
                nf.append(len(frames))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "vfp": pd.Series(fps, dtype="int64"),
                    "n_frames": pd.Series(nf, dtype="int64"),
                }
            )

    return video.select("doc_id", "payload").mapInPandas(
        extract, schema=VFP_SCHEMA
    )


# ------------------------------------------------------------------
# Hamming-tolerant fingerprint pairing (round-6 verdict task 4): an
# exact-equality join misses a near-dup whose envelope differs by a
# single bit flip, so every fingerprint (audio, video, and a dHash
# packed into one long) pairs through one 4-block pigeonhole join.
# ------------------------------------------------------------------

def _pigeonhole_pairs(
    fps: DataFrame,
    fp_col: str,
    len_col: str,
    width,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    _candidates_only: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs by fingerprint Hamming distance with
    4-block pigeonhole blocking: the fingerprint splits into four blocks tiling its ACTUAL bit
    width (block k covers bits [k·w div 4, (k+1)·w div 4)); any pair
    within ``max_hamming`` <= 3 must agree on at least one block, so
    candidates come from four block equi-joins — never an all-pairs
    product. ``width`` is the fingerprint's bit width — an int for
    fixed-width fingerprints, or a Column derived from ``len_col``
    for variable-width envelopes (both sides of any candidate pair
    share ``len_col``, so the per-row block layout is
    join-consistent). Tiling the real width, instead of assuming a
    fixed ``block_bits``, is what keeps short envelopes from
    degenerating: with fixed 16-bit blocks an 8-frame clip put its
    whole 7-bit envelope in block 0 and blocks 1–3 were all-zero for
    EVERY row, so each same-length pair was emitted 3× through what
    was effectively an unblocked product. With width tiling every
    block is non-empty once width >= 4; for width < 4 the zero-width
    blocks still always agree — the same-length product they emit is
    then REQUIRED for recall (3 flips can hit all <4 real blocks) and
    such envelopes carry almost no signal anyway. The exact
    ``len_col`` is part of every block key (equal envelopes require
    equal lengths, and it keeps buckets to same-length media at
    corpus scale). Returns (id_a, id_b, <len_col>, hamming) with
    id_a < id_b.

    ``max_hamming`` > 3 is rejected, not silently missed — 4 flipped
    bits can hit all 4 blocks (CLAUDE.md pigeonhole rule)."""
    if max_hamming > 3:
        raise ValueError(
            "4-block pigeonhole blocking guarantees recall only for "
            f"max_hamming <= 3 (got {max_hamming})"
        )
    w = F.lit(int(width)) if isinstance(width, int) else width
    src = fps.withColumn("__w", w.cast("int"))

    def _key(k: int):
        # block k = bits [lo, hi) of the fingerprint; shiftleft needs
        # F.expr for a column bit count (CLAUDE.md). pmod(x, 1) == 0
        # for zero-width blocks, a constant always-agree key.
        lo = f"(({k} * __w) div 4)"
        hi = f"(({k + 1} * __w) div 4)"
        return F.expr(
            f"pmod(shiftright({fp_col}, {lo}), shiftleft(1L, {hi} - {lo}))"
        )

    blocks = src.select(
        F.col(id_col),
        F.col(fp_col),
        F.col(len_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk"), _key(k).alias("key")
                    )
                    for k in range(4)
                ]
            )
        ).alias("e"),
    ).select(id_col, fp_col, len_col, "e.blk", "e.key")
    a, b = blocks.alias("a"), blocks.alias("b")
    raw = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{len_col}") == F.col(f"b.{len_col}"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col(f"a.{len_col}").alias(len_col),
        F.col(f"a.{fp_col}").alias("__fa"),
        F.col(f"b.{fp_col}").alias("__fb"),
    )
    if _candidates_only:
        return raw.select("id_a", "id_b", len_col)
    cand = raw.distinct()
    hamming = F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", len_col, "hamming")
    )


def audio_near_dups_hamming(
    fps: DataFrame, max_hamming: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Hamming-tolerant audio near-dups: the 16-bit energy envelope
    splits into four 4-bit pigeonhole blocks, keyed with the exact
    sample count — a one- or two-bit envelope flip (mild re-encode
    noise) still pairs, and ``max_hamming=0`` is the exact-equality
    join. Returns (id_a, id_b, n_samples, hamming <= max_hamming)."""
    return _pigeonhole_pairs(
        fps, "afp", "n_samples", AFP_FRAMES - 1,
        max_hamming=max_hamming, id_col=id_col,
    )


def video_near_dups(
    fps: DataFrame, max_hamming: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Hamming-tolerant video near-dups over the brightness envelope:
    four pigeonhole blocks tiling the clip's ACTUAL envelope width
    (min(n_frames−1, 63) comparison bits), keyed with the exact frame
    count. Per-row block sizing is join-consistent because candidate
    pairs must share n_frames; it keeps short clips (< 16 frames)
    genuinely blocked instead of degenerating to a same-length
    all-pairs product through all-zero upper blocks.
    Returns (id_a, id_b, n_frames, hamming <= max_hamming)."""
    return _pigeonhole_pairs(
        fps,
        "vfp",
        "n_frames",
        F.least(F.col("n_frames") - 1, F.lit(VFP_MAX_BITS)),
        max_hamming=max_hamming,
        id_col=id_col,
    )
