"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
pandas functions over ``mapInPandas`` so each task processes whole
record batches (never per-row Python). ``decode_image`` performs REAL
raster decode (pure numpy + stdlib zlib) for 24-bit BMP (header
parse, row padding, BGR order, bottom-up rows), binary P6 PPM,
8-bit truecolor PNG (chunk walk, inflate, all five scanline
filters), and baseline-sequential JPEG (Huffman entropy decode,
dequant, IDCT, chroma upsample — operators/jpeg.py). Pillow slots in
behind the same signature for anything else (GIF/TIFF/progressive
JPEG). ``fake_decode_features`` remains as a deterministic stand-in
for formats outside the native codecs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timebox_spark.session import ensure_parallelism

MEDIA_SCHEMA = T.StructType(
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

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("head_hex", T.StringType()),
        T.StructField("byte_sum_mod", T.LongType()),
    ]
)


def to_media_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Pack a text table into the multimodal layout (payload = UTF-8
    bytes standing in for encoded media)."""
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("format"),
            F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def encode_bmp(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit uncompressed
    BMP (BITMAPINFOHEADER): bottom-up rows, BGR channel order, rows
    padded to 4 bytes — the standard layout every viewer accepts."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    stride = (3 * w + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : 3 * w] = px[::-1, :, ::-1].reshape(h, 3 * w)  # bottom-up, BGR
    data = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + dib + data


def encode_ppm(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as binary PPM (P6)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a standard 8-bit
    truecolor PNG (color type 2, filter 0 per scanline, one zlib IDAT)
    — stdlib zlib only, readable by any viewer."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _decode_png(b: bytes):
    """8-bit truecolor PNG (color types 2 RGB / 6 RGBA, no interlace),
    all five scanline filters (None/Sub/Up/Average/Paeth) per the PNG
    spec §4.5-4.6. Sub is a mod-256 cumulative sum per channel (full
    numpy); Average/Paeth carry a left-neighbor dependency that is
    inherently sequential in x, so the pure-numpy path scans each row
    once with the 3-4 channels vectorized per step (w iterations per
    row, not w·ch per-byte work). The Pillow fast path is still used
    automatically when importable (identical output: both implement
    the same spec recon). Our own encoder emits filter 0 only, which
    never hits the scan. RGBA alpha is dropped (features are
    RGB-based)."""
    import struct
    import zlib

    import numpy as np

    try:  # C-speed unfiltering for any filter mix when available
        import PIL.Image  # noqa: F401

        import io

        img = PIL.Image.open(io.BytesIO(b))
        return np.asarray(img.convert("RGB"), dtype=np.uint8).copy()
    except ImportError:
        pass

    pos, idat = len(PNG_SIG), b""
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(b):
        ln, tag = struct.unpack_from(">I4s", b, pos)
        pos += 8
        data = b[pos : pos + ln]
        pos += ln + 4  # payload + CRC
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if depth != 8 or ctype not in (2, 6) or interlace:
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, color={ctype}, "
            f"interlace={interlace}); 8-bit RGB/RGBA non-interlaced only"
        )
    ch = 3 if ctype == 2 else 4
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    rows = raw.reshape(h, w * ch + 1)
    out = np.zeros((h, w * ch), dtype=np.uint8)
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        f = int(rows[y, 0])
        line = rows[y, 1:].astype(np.int64)
        if f == 0:  # None
            rec = line
        elif f == 1:  # Sub: recon[i] = raw[i] + recon[i-ch]
            rec = (line.reshape(w, ch).cumsum(axis=0) % 256).reshape(-1)
        elif f == 2:  # Up
            rec = (line + prev) % 256
        elif f == 3:  # Average: x-sequential, channels vectorized
            ln2 = line.reshape(w, ch)
            pv2 = prev.reshape(w, ch)
            rec2 = np.zeros((w, ch), dtype=np.int64)
            a = np.zeros(ch, dtype=np.int64)
            for x in range(w):
                a = (ln2[x] + (a + pv2[x]) // 2) % 256
                rec2[x] = a
            rec = rec2.reshape(-1)
        elif f == 4:  # Paeth: sequential only in x; channels vectorize
            ln2 = line.reshape(w, ch)
            pv2 = prev.reshape(w, ch)
            rec2 = np.zeros((w, ch), dtype=np.int64)
            a = np.zeros(ch, dtype=np.int64)
            c = np.zeros(ch, dtype=np.int64)
            for x in range(w):
                up = pv2[x]
                p = a + up - c
                pa, pb, pc = np.abs(p - a), np.abs(p - up), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, up, c)
                )
                a = (ln2[x] + pred) % 256
                rec2[x] = a
                c = up
            rec = rec2.reshape(-1)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, ch)[:, :, :3].copy()


def decode_image(payload: bytes):
    """Pure-numpy decode of raster formats to an (h, w, 3) uint8 RGB
    array: 24-bit BMP (BITMAPINFOHEADER, top-down or bottom-up, padded
    rows, BGR), binary PPM (P6, maxval ≤ 255, comment-tolerant
    header), 8-bit truecolor PNG (RGB/RGBA, all five scanline
    filters, stdlib zlib inflate), and baseline-sequential JPEG
    (Huffman + IDCT, grayscale/4:4:4/4:2:2/4:2:0 — operators/jpeg.py).
    Other formats raise; at deploy time Pillow slots into the same
    mapInPandas harness unchanged."""
    import struct

    import numpy as np

    b = bytes(payload)
    if b[: len(PNG_SIG)] == PNG_SIG:
        return _decode_png(b)
    if b[:2] == b"\xff\xd8":
        from timebox_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(b)
    if b[:2] == b"BM":
        offset = struct.unpack_from("<I", b, 10)[0]
        size, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", b, 14)
        if size < 40 or bpp != 24 or comp != 0:
            raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={comp})")
        bottom_up = h > 0
        h = abs(h)
        stride = (3 * w + 3) & ~3
        raster = np.frombuffer(b, dtype=np.uint8, count=h * stride, offset=offset)
        rows = raster.reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)
        rows = rows[:, :, ::-1]  # BGR → RGB
        return (rows[::-1] if bottom_up else rows).copy()
    if b[:2] == b"P6":
        # header: P6 <w> <h> <maxval>, tokens separated by whitespace,
        # '#' comments run to end of line; one whitespace then raster
        pos, tokens = 2, []
        while len(tokens) < 3:
            while pos < len(b) and b[pos : pos + 1].isspace():
                pos += 1
            if pos < len(b) and b[pos : pos + 1] == b"#":
                while pos < len(b) and b[pos : pos + 1] != b"\n":
                    pos += 1
                continue
            start = pos
            while pos < len(b) and not b[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(b[start:pos]))
        pos += 1  # the single whitespace before the raster
        w, h, maxval = tokens
        if maxval > 255:
            raise ValueError("16-bit PPM not supported")
        raster = np.frombuffer(b, dtype=np.uint8, count=h * w * 3, offset=pos)
        return raster.reshape(h, w, 3).copy()
    raise ValueError(
        "unrecognized image container; BMP, P6 PPM, 8-bit PNG, and "
        "baseline JPEG decode natively (Pillow extends coverage when "
        "installed)"
    )


# Deterministic synthetic-image parameters: every value is a pure
# integer function of doc_id, so the DuckDB oracle recomputes the
# expected decode digest (dims + pixel sum) WITHOUT decoding — the
# encode→decode round-trip is what's under test on the Spark side.
SYNTH_PIX_MOD = 256


def synth_dims(doc_id: int) -> tuple[int, int]:
    """(h, w) = (8 + doc_id % 9, 8 + (doc_id*7) % 9), each 8..16."""
    return 8 + doc_id % 9, 8 + (doc_id * 7) % 9


def synth_jpeg_dims(doc_id: int) -> tuple[int, int]:
    """JPEG synth dims are whole 8x8 blocks (1..3 per axis): with the
    flat-quant encoder, block-CONSTANT images round-trip bit-exactly
    through the lossy format, so the oracle predicts the decoded pixel
    sum arithmetically — the same digest-without-decoding trick the
    raster formats use (plans/suites.py q30)."""
    return 8 * (1 + doc_id % 3), 8 * (1 + (doc_id // 3) % 3)


def synth_jpeg_pixels(doc_id: int):
    """(h, w) uint8 grayscale, constant within each 8x8 block:
    block(by,bx) = (31·doc_id + 17·by + 5·bx) mod 256."""
    import numpy as np

    h, w = synth_jpeg_dims(doc_id)
    bh, bw = h // 8, w // 8
    by, bx = np.ogrid[0:bh, 0:bw]
    vals = ((31 * doc_id + 17 * by + 5 * bx) % SYNTH_PIX_MOD).astype(np.uint8)
    return vals.repeat(8, axis=0).repeat(8, axis=1)


def synth_pixels(doc_id: int):
    """(h, w, 3) uint8: pixel(y,x,c) = (31·doc_id + 17y + 5x + 11c) mod 256."""
    import numpy as np

    h, w = synth_dims(doc_id)
    y, x, c = np.ogrid[0:h, 0:w, 0:3]
    return ((31 * doc_id + 17 * y + 5 * x + 11 * c) % SYNTH_PIX_MOD).astype(
        np.uint8
    )


def synth_media_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One synthetic image per document row — BMP / PPM / PNG / JPEG
    cycling on doc_id mod 4 — in the standard media layout. The
    payloads are REAL encoded files (padded BMP rows, PPM headers,
    zlib-deflated PNG IDAT, Huffman-coded JPEG scans), produced in an
    Arrow-batched kernel."""
    from timebox_spark.operators.jpeg import encode_jpeg_gray
    from timebox_spark.session import ship_package

    ship_package(docs.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, fmts = [], []
            for doc_id in pdf[id_col].astype("int64"):
                if doc_id % 4 == 3:
                    payloads.append(
                        encode_jpeg_gray(synth_jpeg_pixels(int(doc_id)))
                    )
                    fmts.append("image/jpeg")
                    continue
                px = synth_pixels(int(doc_id))
                if doc_id % 4 == 0:
                    payloads.append(encode_bmp(px))
                    fmts.append("image/bmp")
                elif doc_id % 4 == 1:
                    payloads.append(encode_ppm(px))
                    fmts.append("image/x-portable-pixmap")
                else:
                    payloads.append(encode_png(px))
                    fmts.append("image/png")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "meta": [
                        {"format": f, "n_bytes": len(p), "source": "synth"}
                        for f, p in zip(fmts, payloads)
                    ],
                }
            )

    return ensure_parallelism(docs.select(id_col)).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("height", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("pixel_sum", T.LongType()),
    ]
)


def decode_features(media: DataFrame) -> DataFrame:
    """REAL decode over mapInPandas: parse each payload with
    ``decode_image`` (BMP/PPM/PNG numpy codecs) and emit dimensions +
    the exact pixel sum. Any mis-parse (padding, channel order, row
    direction, header, inflate/unfilter) shifts the digest and fails
    the oracle."""
    from timebox_spark.session import ship_package

    ship_package(media.sparkSession)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, hs, ws, sums = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                px = decode_image(raw)
                ids.append(doc_id)
                if raw[:2] == b"BM":
                    fmts.append("bmp")
                elif raw[: len(PNG_SIG)] == PNG_SIG:
                    fmts.append("png")
                elif raw[:2] == b"\xff\xd8":
                    fmts.append("jpeg")
                else:
                    fmts.append("ppm")
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                sums.append(int(px.astype("int64").sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "fmt": fmts,
                    "height": pd.Series(hs, dtype="int64"),
                    "width": pd.Series(ws, dtype="int64"),
                    "pixel_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return ensure_parallelism(media.select("doc_id", "payload")).mapInPandas(
        extract, schema=DECODE_SCHEMA
    )


def fake_decode_features(media: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Deterministic stand-in feature extractor over mapInPandas.

    Computes (n_bytes, first-8-bytes hex, byte-sum mod 2^31) per
    payload — enough to prove Arrow batch transfer, schema handling,
    and partition parallelism without media libs."""

    from timebox_spark.session import ship_package

    ship_package(media.sparkSession)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "head_hex": payloads.map(lambda b: bytes(b[:8]).hex()),
                    "byte_sum_mod": payloads.map(
                        lambda b: sum(b) % 2147483647
                    ).astype("int64"),
                }
            )

    return ensure_parallelism(media).mapInPandas(extract, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_sum_mod", T.LongType()),
    ]
)


def sample_frames(
    media: DataFrame, frame_bytes: int = 64, every_n: int = 4
) -> DataFrame:
    """Frame sampling for video-like payloads: the payload is treated
    as a sequence of fixed-size frames; every ``every_n``-th frame is
    emitted with per-frame features. Exercises the 1→N row shape of
    mapInPandas (one input row fans out to many frame rows inside the
    same Arrow batch — no explode shuffle, no driver round-trip). At
    deploy time the chunker becomes an ffmpeg keyframe reader with the
    same output schema."""

    from timebox_spark.session import ship_package

    ship_package(media.sparkSession)

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = -(-len(b) // frame_bytes)  # ceil
                for i in range(0, n_frames, every_n):
                    chunk = b[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(doc_id)
                    idxs.append(i)
                    sizes.append(len(chunk))
                    sums.append(sum(chunk) % 2147483647)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "byte_sum_mod": pd.Series(sums, dtype="int64"),
                }
            )

    return ensure_parallelism(media.select("doc_id", "payload")).mapInPandas(
        sample, schema=FRAME_SCHEMA
    )


def resize_payload(media: DataFrame, target_bytes: int = 128) -> DataFrame:
    """Deterministic stride resample of each payload to
    ``target_bytes`` — the stand-in for image resize (real impl: PIL
    ``Image.resize`` inside the same mapInPandas harness; schema and
    batch shape identical). Output keeps the media layout with
    ``meta.n_bytes`` updated, so resize composes with the other
    multimodal stages."""

    from timebox_spark.session import ship_package

    ship_package(media.sparkSession)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload = []
            for payload in pdf["payload"]:
                b = bytes(payload)
                if len(b) <= target_bytes:
                    out_payload.append(b)
                else:
                    out_payload.append(
                        bytes(b[i * len(b) // target_bytes] for i in range(target_bytes))
                    )
            meta = pd.DataFrame(
                {
                    "format": [m["format"] for m in pdf["meta"]],
                    "n_bytes": pd.Series(map(len, out_payload), dtype="int64"),
                    "source": [m["source"] for m in pdf["meta"]],
                }
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": out_payload,
                    "meta": meta.to_dict("records"),
                }
            )

    return ensure_parallelism(media).mapInPandas(resize, schema=MEDIA_SCHEMA)


def bilinear_resize(px, out_h: int, out_w: int):
    """REAL bilinear resample of an (h, w, 3) uint8 array — fully
    vectorized numpy (gather 4 neighbors + lerp, half-pixel-center
    mapping, the OpenCV/Pillow convention). Same-dims input is the
    identity; constant images stay constant at any scale."""
    import numpy as np

    h, w, _ = px.shape
    ys = (np.arange(out_h, dtype=np.float64) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w, dtype=np.float64) + 0.5) * (w / out_w) - 0.5
    ys = np.clip(ys, 0, h - 1)
    xs = np.clip(xs, 0, w - 1)
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = (ys - y0)[:, None, None]
    wx = (xs - x0)[None, :, None]
    p = px.astype(np.float64)
    top = p[y0][:, x0] * (1 - wx) + p[y0][:, x1] * wx
    bot = p[y1][:, x0] * (1 - wx) + p[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def _bilinear_gray(g, out_h: int, out_w: int):
    """Single-channel bilinear resample of an int (h, w) array —
    identical half-pixel-center arithmetic to ``bilinear_resize``
    (same gather, same lerp order, same floor(x+0.5)); no clip since
    interpolation of ints in range stays in range. int64 out."""
    import numpy as np

    h, w = g.shape
    ys = (np.arange(out_h, dtype=np.float64) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w, dtype=np.float64) + 0.5) * (w / out_w) - 0.5
    ys = np.clip(ys, 0, h - 1)
    xs = np.clip(xs, 0, w - 1)
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = (ys - y0)[:, None]
    wx = (xs - x0)[None, :]
    p = g.astype(np.float64)
    top = p[y0][:, x0] * (1 - wx) + p[y0][:, x1] * wx
    bot = p[y1][:, x0] * (1 - wx) + p[y1][:, x1] * wx
    return np.floor(top * (1 - wy) + bot * wy + 0.5).astype(np.int64)


# dHash contract constants (shared with the q30 oracle)
DHASH_H = 8
DHASH_W = 9  # 9 columns → 8 horizontal comparisons per row

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dhash_lo", T.LongType()),
        T.StructField("dhash_hi", T.LongType()),
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) per image — the standard
    near-duplicate fingerprint of large-scale image curation
    (LAION-style dedup): decode → exact integer grayscale
    (r+g+b, no lossy luma weights) → bilinear 8×9 → bit k = y·8+x set
    iff g[y, x+1] > g[y, x]. Emitted as two 32-bit halves
    (dhash_lo = bits 0–31, dhash_hi = bits 32–63) so every value fits
    BIGINT on any engine (bit 63 would overflow a signed shift).

    Arrow map-only; visually-identical images (recompression, mild
    noise) land within a few bits, so pairs come from the 4-block
    pigeonhole join ``audio._pigeonhole_pairs`` over the 64 bits
    packed into one long — never all-pairs."""
    from timebox_spark.session import ship_package

    ship_package(media.sparkSession)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, los, his = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_image(bytes(payload))
                gray = (
                    3 * px.astype(np.int64)
                    if px.ndim == 2
                    else px.astype(np.int64).sum(axis=2)
                )
                g2 = _bilinear_gray(gray, DHASH_H, DHASH_W)
                bits = (g2[:, 1:] > g2[:, :-1]).reshape(-1)
                val = 0
                for k, b in enumerate(bits):
                    if b:
                        val |= 1 << k
                ids.append(int(doc_id))
                los.append(val & 0xFFFFFFFF)
                his.append(val >> 32)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "dhash_lo": pd.Series(los, dtype="int64"),
                    "dhash_hi": pd.Series(his, dtype="int64"),
                }
            )

    return ensure_parallelism(media.select("doc_id", "payload")).mapInPandas(
        extract, schema=DHASH_SCHEMA
    )


def resize_images(
    media: DataFrame, out_h: int = 8, out_w: int = 8
) -> DataFrame:
    """REAL image resize over the media table: decode each payload
    with the raster codecs, bilinear-resample to (out_h, out_w), and
    re-encode as BMP — the thumbnail/normalize step of an image
    training pipeline, Arrow-batched and map-only (contrast with
    ``resize_payload``, the byte-domain stand-in for formats without
    a shipped decoder)."""
    from timebox_spark.session import ship_package

    ship_package(media.sparkSession)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for payload in pdf["payload"]:
                px = decode_image(bytes(payload))
                if px.ndim == 2:  # grayscale (JPEG) → stack to RGB
                    import numpy as np

                    px = np.stack([px] * 3, axis=-1)
                payloads.append(encode_bmp(bilinear_resize(px, out_h, out_w)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": payloads,
                    "meta": [
                        {
                            "format": "image/bmp",
                            "n_bytes": len(p),
                            "source": "resize",
                        }
                        for p in payloads
                    ],
                }
            )

    return media.mapInPandas(resize, schema=MEDIA_SCHEMA)
