"""Interop codec for the reference's ``.npb`` binary file format.

Independent implementation from the format layout documented in
SURVEY.md §1.3 / §2.1 (derived from /root/reference/timebox/
timebox.py:201-279, timebox_tag.py:63-348, constants.py:4-12,
datetime_utils.py:6-37, binary.py:5-52; all values little-endian —
no code is copied, the byte layout is the contract):

  header:
    u8   version (=1)
    u16  file options  (bit0 tag-names-are-strings,
                        bit1 date-differentials-stored)
    u8   num_tags                      (≤255 by format)
    u32  num_points                    (<2^32 by format)
    u8   id_width  (string ids: 4·max_name_len UTF-32LE;
                    int ids: min unsigned width of max id)
  per tag (sorted by identifier), id_width + 40 bytes:
    id (u{id_width} | UTF-32LE fixed width)
    u16  tag options (bit0 use_compression, bit1 use_hash_table,
                      bit2 floating_point_rounded)
    u8   bytes_per_point,  u8 type_char (ord 'i'/'u'/'f'),
    u32  bytes_extra_information (0)
    32 untyped bytes of codec state:
      if compressed: mode ord('e'|'m'), stored width u8,
        stored type ord, ref dtype itemsize u8, ref dtype kind ord,
        then the reference value in its dtype;
      then if rounded: num_decimals u8
  i64  start_date (seconds since epoch; datetime64[s])
  if date-differentials-stored: u8 delta_width, u16 unit order code
    (ns=0 us=1 ms=2 s=3 m=4 h=5 D=6), then (n−1)·u{delta_width}
    deltas in that unit; else u32 seconds_between_points
  per tag (sorted): the column block — n values of the stored dtype
    (n−1 for mode 'e').

Spark integration: ``read_npb`` scans a directory of .npb files with
the binaryFile source and decodes per-file inside ``mapInPandas`` —
each file is one Arrow batch task, so a million-file corpus decodes
with full cluster parallelism. ``write_npb`` emits one file per time
bucket via ``applyInPandas`` (each bucket must respect the format's
2^32-row cap). Both take their Spark types from ``timebox_spark.schema``.
"""

from __future__ import annotations

import io
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

VERSION = 1

# file option bits (reference constants.py:5-6)
OPT_TAG_NAMES_ARE_STRINGS = 1 << 0
OPT_DATE_DIFFS_STORED = 1 << 1
# tag option bits (reference constants.py:9-12)
TAG_OPT_COMPRESSION = 1 << 0
TAG_OPT_HASH_TABLE = 1 << 1
TAG_OPT_ROUNDED = 1 << 2

TAG_DEF_TAIL_BYTES = 40  # options..extra + 32 untyped
UNIT_ORDER = {"ns": 0, "us": 1, "ms": 2, "s": 3, "m": 4, "h": 5, "D": 6}
ORDER_UNIT = {v: k for k, v in UNIT_ORDER.items()}
# multiplier to next-coarser unit, by current unit
_NEXT_COARSER = {"ns": ("us", 1000), "us": ("ms", 1000), "ms": ("s", 1000), "s": ("m", 60), "m": ("h", 60), "h": ("D", 24)}


class NpbFormatError(ValueError):
    pass


def _uint_width(max_value: int) -> int:
    for w, lim in ((1, 1 << 8), (2, 1 << 16), (4, 1 << 32), (8, 1 << 64)):
        if max_value < lim:
            return w
    raise NpbFormatError(f"value too large: {max_value}")


def _int_width(lo: int, hi: int) -> int:
    for w in (1, 2, 4, 8):
        if -(1 << (8 * w - 1)) <= lo and hi <= (1 << (8 * w - 1)) - 1:
            return w
    raise NpbFormatError(f"range too large: [{lo}, {hi}]")


@dataclass
class TagSpec:
    """Per-column codec state (reference timebox_tag.py:18-61)."""

    identifier: object
    bytes_per_value: int
    type_char: str
    compress: str | None = None  # None | 'e' | 'm'
    decimals: int | None = None  # fixed-decimal rounding
    # populated during encode / decode:
    stored_char: str = ""
    stored_width: int = 0
    ref_value: object = None
    ref_dtype: np.dtype | None = field(default=None)

    @property
    def dtype(self) -> np.dtype:
        return np.dtype(f"{'<' if self.bytes_per_value > 1 else ''}{self.type_char}{self.bytes_per_value}")


def _coarsen_deltas(deltas_ns: np.ndarray) -> tuple[np.ndarray, str]:
    """Divide deltas by the coarsest unit representing them exactly
    (same contract as reference datetime_utils.py:118-142)."""
    arr = deltas_ns.astype(np.int64)
    unit = "ns"
    while unit in _NEXT_COARSER:
        nxt, div = _NEXT_COARSER[unit]
        if arr.size and np.count_nonzero(arr % div):
            break
        if arr.size:
            arr = arr // div
        unit = nxt
    return arr, unit


def _encode_column(values: np.ndarray, spec: TagSpec) -> np.ndarray:
    data = values
    if spec.decimals is not None:
        data = np.around(data * (10.0 ** spec.decimals)).astype(np.int64)
    if spec.compress:
        spec.ref_dtype = data.dtype
        if spec.compress == "e" and data.size > 1:
            spec.ref_value = data[0]
            diff = np.diff(data)
        else:
            spec.compress = "m"
            spec.ref_value = data.min() if data.size else np.zeros(1, data.dtype)[0]
            diff = data - spec.ref_value
        if diff.dtype.kind in ("i", "u"):
            lo, hi = (int(diff.min()), int(diff.max())) if diff.size else (0, 0)
            if lo < 0:
                spec.stored_char, spec.stored_width = "i", _int_width(lo, hi)
            else:
                spec.stored_char, spec.stored_width = "u", _uint_width(hi)
        else:
            spec.stored_char, spec.stored_width = diff.dtype.kind, diff.dtype.itemsize
        return diff.astype(np.dtype(f"{spec.stored_char}{spec.stored_width}"))
    if spec.decimals is not None:
        # rounded-without-compression writes int64 (reference
        # timebox_tag.py:238-240); record that as the stored type
        spec.stored_char, spec.stored_width = "i", 8
        return data
    spec.stored_char, spec.stored_width = spec.type_char, spec.bytes_per_value
    return data.astype(spec.dtype)


def _decode_column(raw: np.ndarray, spec: TagSpec, n: int) -> np.ndarray:
    data = raw
    if spec.compress == "e":
        data = np.concatenate(
            ([spec.ref_value], np.cumsum(data.astype(spec.ref_dtype)) + spec.ref_value)
        ).astype(spec.ref_dtype)
    elif spec.compress == "m":
        data = (data.astype(spec.ref_dtype) + spec.ref_value).astype(spec.ref_dtype)
    if spec.decimals is not None:
        data = data.astype(np.float64) / (10.0 ** spec.decimals)
    return data.astype(spec.dtype, copy=False) if spec.decimals is None else data.astype(spec.dtype)


def _tag_untyped_bytes(spec: TagSpec) -> bytes:
    out = bytearray(32)
    pos = 0
    if spec.compress:
        out[0] = ord(spec.compress)
        out[1] = spec.stored_width
        out[2] = ord(spec.stored_char)
        out[3] = spec.ref_dtype.itemsize
        out[4] = ord(spec.ref_dtype.kind)
        rv = np.array([spec.ref_value], dtype=spec.ref_dtype).tobytes()
        out[5 : 5 + len(rv)] = rv
        pos = 5 + len(rv)
    if spec.decimals is not None:
        out[pos] = spec.decimals
    return bytes(out)


def _parse_untyped_bytes(spec: TagSpec, raw: bytes, compressed: bool, rounded: bool) -> None:
    pos = 0
    if compressed:
        spec.compress = chr(raw[0])
        spec.stored_width = raw[1]
        spec.stored_char = chr(raw[2])
        spec.ref_dtype = np.dtype(f"{chr(raw[4])}{raw[3]}")
        nref = spec.bytes_per_value  # reference reads bytes_per_value bytes (timebox_tag.py:211)
        spec.ref_value = np.frombuffer(raw[5 : 5 + nref], dtype=spec.ref_dtype, count=1)[0]
        pos = 5 + nref
    if rounded:
        spec.decimals = raw[pos]


def _lossless_float_downcast_np(arr: np.ndarray) -> np.ndarray:
    """The reference writer's float ladder f64→f32→f16
    (numpy_utils.py:103-184): narrow only when every value (NaN
    included) round-trips bit-exactly."""
    def exact(a: np.ndarray, dt) -> bool:
        # values beyond the narrow type's range legitimately overflow
        # to inf during the probe — that's the "not exact" signal, not
        # an error, so silence numpy's RuntimeWarning for the cast
        with np.errstate(over="ignore"):
            back = a.astype(dt).astype(a.dtype)
        ok = (back == a) | (np.isnan(a) & np.isnan(back))
        return bool(ok.all())

    if arr.dtype == np.float64 and exact(arr, np.float32):
        arr = arr.astype(np.float32)
    if arr.dtype == np.float32 and exact(arr, np.float16):
        arr = arr.astype(np.float16)
    return arr


def encode_timebox(
    pdf: pd.DataFrame,
    compress: dict | None = None,
    decimals: dict | None = None,
    downcast_floats: bool = False,
) -> bytes:
    """pandas frame (datetime index) -> .npb bytes.

    ``compress``: {column: 'e'|'m'}; ``decimals``: {column: int} for
    fixed-decimal float rounding (implies int64 storage; pairs with
    compression exactly like the reference's performance harness,
    performance_tests.py:76-99). ``downcast_floats``: apply the
    reference writer's lossless f64→f32→f16 ladder per float column
    before encoding (numpy_utils.py:103-184).
    """
    if len(pdf) >= 1 << 32:
        raise NpbFormatError("npb caps rows at 2^32-1")
    if len(pdf.columns) > 255:
        raise NpbFormatError("npb caps tags at 255")
    compress = compress or {}
    decimals = decimals or {}
    if downcast_floats:
        pdf = pdf.copy()
        for c in pdf.columns:
            dt = np.dtype(pdf[c].dtype)
            if dt.kind == "f" and c not in decimals and c not in compress:
                pdf[c] = _lossless_float_downcast_np(pdf[c].to_numpy())

    idx = pd.to_datetime(pdf.index)
    pdf = pdf.iloc[np.argsort(idx.values, kind="stable")]
    idx = pd.to_datetime(pdf.index)
    dates_ns = idx.values.astype("datetime64[ns]").astype(np.int64)
    if np.any(np.diff(dates_ns) < 0):
        raise NpbFormatError("dates not sortable")
    if len(dates_ns) and int(dates_ns.min()) % 1_000_000_000 != 0:
        # the format anchors all dates at an int64-SECONDS start
        # (reference datetime64[s], timebox.py:380-383); deltas are
        # exact relative to the true first timestamp, so a sub-second
        # remainder on the first row would silently shift every decoded
        # date by that remainder
        raise NpbFormatError(
            "npb stores the start date at second precision; the first "
            "timestamp must be second-aligned (e.g. date_trunc('second', ts))"
        )
    start_s = int(dates_ns.min() // 1_000_000_000)

    diffs_ns = np.diff(dates_ns)
    # regular-spacing layout (reference timebox.py:234-237, 378-396):
    # when deltas are a constant whole number of seconds, store only
    # seconds_between_points (u32) with OPT_DATE_DIFFS_STORED off —
    # byte-minimal for regular series and exercises the reference's
    # implicit-dates read path on interop round trips
    step_s = 0
    regular = (
        diffs_ns.size > 0
        and bool((diffs_ns == diffs_ns[0]).all())
        and int(diffs_ns[0]) % 1_000_000_000 == 0
        # reference validation requires seconds_between_points > 0
        # (timebox.py:301-302), so a zero step stays on the delta path
        and 1 <= int(diffs_ns[0]) // 1_000_000_000 < (1 << 32)
    )
    if regular:
        step_s = int(diffs_ns[0]) // 1_000_000_000
        deltas_raw = np.array([], dtype="u1")
        delta_width, unit = 1, "s"
    else:
        deltas, unit = _coarsen_deltas(diffs_ns)
        delta_width = _uint_width(int(deltas.max())) if deltas.size else 1
        deltas_raw = deltas.astype(np.dtype(f"u{delta_width}"))

    specs: list[TagSpec] = []
    for c in sorted(pdf.columns):
        dt = np.dtype(pdf[c].dtype)
        if dt.kind not in ("i", "u", "f") or dt.itemsize not in (1, 2, 4, 8):
            raise NpbFormatError(f"unsupported dtype {dt} for column {c}")
        if c in decimals and (dt.kind != "f" or dt.itemsize != 8):
            # rounded storage is int64; the on-disk ref-value layout only
            # round-trips when bytes_per_value == 8 (see reference
            # timebox_tag.py:211 reading bytes_per_value ref bytes)
            raise NpbFormatError(f"decimals rounding requires float64 column: {c}")
        specs.append(
            TagSpec(
                identifier=c,
                bytes_per_value=dt.itemsize,
                type_char=dt.kind,
                compress=compress.get(c),
                decimals=decimals.get(c),
            )
        )

    names_are_strings = any(isinstance(s.identifier, str) for s in specs)
    if names_are_strings:
        id_width = 4 * max(len(str(s.identifier)) for s in specs)
    else:
        id_width = _uint_width(max(int(s.identifier) for s in specs)) if specs else 1

    blocks = [_encode_column(pdf[s.identifier].to_numpy(), s) for s in specs]

    buf = io.BytesIO()
    opts = (OPT_TAG_NAMES_ARE_STRINGS if names_are_strings else 0) | (
        0 if regular else OPT_DATE_DIFFS_STORED
    )
    buf.write(np.uint8(VERSION).tobytes())
    buf.write(np.uint16(opts).tobytes())
    buf.write(np.uint8(len(specs)).tobytes())
    buf.write(np.uint32(len(pdf)).tobytes())
    buf.write(np.uint8(id_width).tobytes())
    for s in specs:
        if names_are_strings:
            buf.write(
                np.array([str(s.identifier)], dtype=f"<U{id_width // 4}").tobytes()
            )
        else:
            buf.write(np.array([int(s.identifier)], dtype=f"<u{id_width}").tobytes())
        tag_opts = (
            (TAG_OPT_COMPRESSION if s.compress else 0)
            | (TAG_OPT_ROUNDED if s.decimals is not None else 0)
        )
        buf.write(np.uint16(tag_opts).tobytes())
        buf.write(np.uint8(s.bytes_per_value).tobytes())
        buf.write(np.uint8(ord(s.type_char)).tobytes())
        buf.write(np.uint32(0).tobytes())
        buf.write(_tag_untyped_bytes(s))
    buf.write(np.int64(start_s).tobytes())
    if regular:
        buf.write(np.uint32(step_s).tobytes())
    else:
        buf.write(np.uint8(delta_width).tobytes())
        buf.write(np.uint16(UNIT_ORDER[unit]).tobytes())
        buf.write(deltas_raw.tobytes())
    for block in blocks:
        buf.write(block.tobytes())
    return buf.getvalue()


def decode_timebox(raw: bytes, columns: list | None = None) -> pd.DataFrame:
    """.npb bytes -> pandas frame with a 'ts' datetime64 index.

    ``columns``: decode only these tags — the reference's acknowledged
    TODO ("read certain tags/dates", /root/reference/timebox/
    timebox.py:105). Non-selected column blocks are skipped by size
    (their byte extent is computable from the header), so a 2-of-80
    column scan reads ~2/80ths of the data section.
    """
    mv = memoryview(raw)
    pos = 0

    def take(n):
        nonlocal pos
        out = mv[pos : pos + n]
        pos += n
        return out

    version = take(1)[0]
    if version != VERSION:
        raise NpbFormatError(f"unsupported npb version {version}")
    opts = int(np.frombuffer(take(2), "<u2")[0])
    names_are_strings = bool(opts & OPT_TAG_NAMES_ARE_STRINGS)
    diffs_stored = bool(opts & OPT_DATE_DIFFS_STORED)
    num_tags = take(1)[0]
    num_points = int(np.frombuffer(take(4), "<u4")[0])
    id_width = take(1)[0]

    specs: list[TagSpec] = []
    for _ in range(num_tags):
        if names_are_strings:
            ident = str(np.frombuffer(take(id_width), dtype=f"<U{id_width // 4}")[0])
        else:
            ident = int(np.frombuffer(take(id_width), dtype=f"<u{id_width}")[0])
        tag_opts = int(np.frombuffer(take(2), "<u2")[0])
        bpv = take(1)[0]
        tchar = chr(take(1)[0])
        _extra = int(np.frombuffer(take(4), "<u4")[0])
        spec = TagSpec(identifier=ident, bytes_per_value=bpv, type_char=tchar)
        _parse_untyped_bytes(
            spec,
            bytes(take(32)),
            compressed=bool(tag_opts & TAG_OPT_COMPRESSION),
            rounded=bool(tag_opts & TAG_OPT_ROUNDED),
        )
        specs.append(spec)

    start_s = int(np.frombuffer(take(8), "<i8")[0])
    start = np.datetime64(start_s, "s")
    if diffs_stored:
        delta_width = take(1)[0]
        unit = ORDER_UNIT[int(np.frombuffer(take(2), "<u2")[0])]
        deltas = np.frombuffer(
            take(delta_width * max(num_points - 1, 0)), dtype=f"<u{delta_width}"
        )
        tds = deltas.astype(f"timedelta64[{unit}]")
        dates = np.concatenate(
            ([start.astype("datetime64[ns]")], start.astype("datetime64[ns]") + np.cumsum(tds))
        )
    else:
        step_s = int(np.frombuffer(take(4), "<u4")[0])
        dates = start.astype("datetime64[ns]") + np.arange(num_points) * np.timedelta64(step_s, "s")

    wanted = None if columns is None else set(columns)
    cols = {}
    for s in specs:
        n_read = num_points
        if s.compress:
            read_dtype = np.dtype(f"{s.stored_char}{s.stored_width}")
            if s.compress == "e":
                n_read = max(num_points - 1, 0)
        elif s.decimals is not None:
            read_dtype = np.dtype("i8")
        else:
            read_dtype = s.dtype
        nbytes = read_dtype.itemsize * n_read
        if wanted is not None and s.identifier not in wanted and str(s.identifier) not in wanted:
            pos += nbytes  # skip the block without decoding
            continue
        block = np.frombuffer(take(nbytes), dtype=read_dtype)
        cols[s.identifier] = _decode_column(block, s, num_points)

    out = pd.DataFrame(cols, index=pd.DatetimeIndex(dates, name="ts"))
    return out


def scan_time_range(raw: bytes) -> tuple:
    """(start, end) datetimes of a file from header + deltas only (no
    column blocks touched) — used for file-level time pruning."""
    pdf = decode_timebox(raw, columns=[])
    return (pdf.index.min(), pdf.index.max()) if len(pdf) else (None, None)


# ------------------------------------------------------------------ files


def write_npb_file(pdf: pd.DataFrame, path: str, **kw) -> int:
    data = encode_timebox(pdf, **kw)
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)  # atomic commit replaces the fcntl protocol
    return len(data)


def read_npb_file(path: str) -> pd.DataFrame:
    with open(path, "rb") as fh:
        return decode_timebox(fh.read())


# ------------------------------------------------------------------ Spark


def read_npb(spark, path_glob: str, columns: list[str] | None = None,
             time_range: tuple | None = None):
    """Distributed scan of .npb files: binaryFile source + per-file
    decode in mapInPandas. The schema is
    ``schema.timebox_schema_from_pandas`` of the FIRST file, decoded on
    the driver, so each field gets the type and ``timebox`` metadata
    ``TimeBoxTable.from_pandas`` gives it; the kernel widens with
    ``schema.widen_pandas_for_arrow``.

    ``columns``: project only these tags (block-skipping decode).
    ``time_range``: (start, end) — files whose [start, end] span
    doesn't intersect are skipped after a header+deltas-only probe,
    and rows are filtered exactly; together these close the
    reference's partial-read TODO (timebox.py:105) at cluster scale.
    """
    from pyspark.sql import types as T

    from timebox_spark import schema as tb_schema
    from timebox_spark.session import ship_package

    ship_package(spark)
    bin_df = spark.read.format("binaryFile").load(path_glob)
    first = bin_df.select("path").orderBy("path").limit(1).collect()
    if not first:
        raise NpbFormatError(f"no npb files at {path_glob}")
    sample = read_npb_file(first[0]["path"].replace("file:", ""))

    full = tb_schema.timebox_schema_from_pandas(sample)
    keep = full.fieldNames()[1:]
    if columns is not None:
        missing = set(columns) - set(keep)
        if missing:
            raise NpbFormatError(f"unknown npb columns: {sorted(missing)}")
        keep = [c for c in keep if c in set(columns)]
    schema = T.StructType([full["ts"]] + [full[c] for c in keep])
    colnames = keep
    tr = time_range

    def decode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                raw = bytes(row["content"])
                if tr is not None:
                    lo, hi = scan_time_range(raw)
                    if lo is None or hi < pd.Timestamp(tr[0]) or lo > pd.Timestamp(tr[1]):
                        continue  # file-level prune: header+deltas only
                frame = decode_timebox(raw, columns=colnames)
                frame.columns = [str(c) for c in frame.columns]
                out = frame.reset_index().rename(columns={"index": "ts"})
                if tr is not None:
                    out = out[(out["ts"] >= pd.Timestamp(tr[0])) & (out["ts"] <= pd.Timestamp(tr[1]))]
                yield tb_schema.widen_pandas_for_arrow(out[["ts"] + colnames])

    return bin_df.select("content").mapInPandas(decode, schema=schema)


def write_npb(df, path: str, bucket: str = "1 day", **kw) -> None:
    """DataFrame -> .npb, one file per ``bucket`` time window (default
    ``'1 day'``) via applyInPandas: each bucket is independently
    within the format's caps, and no table is funnelled through the
    driver. There is no single-file mode: for a small frame that must
    land in one file, ``write_npb_file(df.toPandas().set_index("ts"),
    path)`` is that write, bounded by driver memory and the format's
    2^32-row cap.

    Timestamps must start second-aligned per bucket (the format anchors
    at an int64-seconds start; ``encode_timebox`` raises otherwise) —
    ``date_trunc('second', ts)`` first for sub-second event data.

    The writer assumes executors and driver share ``path``
    (local mode or a shared POSIX FS — the same assumption the
    reference's single-process writer makes). Task-commit protocol:
    tasks write complete files into a job-scoped staging subdirectory
    (each file itself tmp+rename atomic), and only after the job
    succeeds does the driver move them into ``path`` — a failed or
    speculatively retried job never leaves partial or orphaned files
    visible (the staging dir is removed)."""
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from timebox_spark.session import ship_package

    os.makedirs(path, exist_ok=True)
    ship_package(df.sparkSession)
    bucketed = df.withColumn("__bucket", F.window(F.col("ts"), bucket).start)
    staging = os.path.join(path, f"_staging_{uuid.uuid4().hex}")
    os.makedirs(staging, exist_ok=True)

    def write_group(key, pdf):
        stamp = pd.Timestamp(key[0]).strftime("%Y%m%d%H%M%S")
        pdf = pdf.drop(columns="__bucket").set_index("ts")
        n = write_npb_file(pdf, os.path.join(staging, f"part-{stamp}.npb"), **kw)
        return pd.DataFrame({"bucket": [stamp], "bytes": [n]})

    try:
        (
            bucketed.groupBy("__bucket")
            .applyInPandas(write_group, schema="bucket string, bytes long")
            .collect()
        )
        for name in os.listdir(staging):  # job commit: publish atomically per file
            if name.endswith(".npb"):
                os.replace(os.path.join(staging, name), os.path.join(path, name))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
