"""Round-trip + cross-validation tests for the .npb interop codec.

Cross-validation: if the reference package imports cleanly (it's
pinned to pandas 0.22 APIs in places, so this is guarded), files
written by the REFERENCE are read by OUR codec and vice versa.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pytest

from timebox_spark.sources import npb


def _frame(n=16, seed=3):
    rng = np.random.RandomState(seed)
    idx = pd.to_datetime("2018-01-01") + pd.to_timedelta(
        np.cumsum(rng.randint(1, 5, n)), unit="h"
    )
    return pd.DataFrame(
        {
            "tag_i8": rng.randint(-100, 100, n).astype(np.int8),
            "tag_u16": rng.randint(0, 60000, n).astype(np.uint16),
            "tag_i64": rng.randint(-(10**12), 10**12, n).astype(np.int64),
            "tag_f32": rng.rand(n).astype(np.float32),
            "tag_f64": (rng.rand(n) * 1000).round(2),
        },
        index=idx,
    )


def test_roundtrip_uncompressed():
    pdf = _frame()
    back = npb.decode_timebox(npb.encode_timebox(pdf))
    assert list(back.columns) == sorted(pdf.columns)
    for c in pdf.columns:
        np.testing.assert_array_equal(back[c].to_numpy(), pdf[c].to_numpy())
        assert back[c].dtype == pdf[c].dtype
    np.testing.assert_array_equal(
        back.index.values.astype("datetime64[ns]"),
        pd.to_datetime(pdf.index).values.astype("datetime64[ns]"),
    )


def test_roundtrip_compressed_modes():
    pdf = _frame()
    back = npb.decode_timebox(
        npb.encode_timebox(pdf, compress={"tag_i64": "e", "tag_u16": "m", "tag_f64": "e"})
    )
    for c in ["tag_i8", "tag_u16", "tag_i64", "tag_f32"]:
        np.testing.assert_allclose(back[c].to_numpy(), pdf[c].to_numpy(), rtol=0)
    # float delta-encode reconstructs via cumsum — ulp-level drift is
    # inherent (the reference kernel has the same property)
    np.testing.assert_allclose(back["tag_f64"].to_numpy(), pdf["tag_f64"].to_numpy(), rtol=1e-12)


def test_roundtrip_rounded_f64():
    pdf = _frame()
    enc = npb.encode_timebox(pdf, compress={"tag_f64": "m"}, decimals={"tag_f64": 2})
    back = npb.decode_timebox(enc)
    np.testing.assert_allclose(back["tag_f64"], pdf["tag_f64"].round(2))


def test_rounding_requires_f64():
    pdf = _frame()
    with pytest.raises(npb.NpbFormatError):
        npb.encode_timebox(pdf, compress={"tag_f32": "m"}, decimals={"tag_f32": 2})


def test_int_identifiers():
    pdf = _frame()
    pdf.columns = [0, 1, 2, 300, 70000]
    back = npb.decode_timebox(npb.encode_timebox(pdf))
    assert list(back.columns) == sorted(pdf.columns)


def test_regular_spacing_uses_implicit_dates_layout():
    # constant whole-second deltas → seconds_between_points layout
    # (option bit off; reference timebox.py:234-237): no delta block
    idx = pd.date_range("2018-01-01", periods=10, freq="1D")
    pdf = pd.DataFrame({"v": np.arange(10, dtype=np.int32)}, index=idx)
    raw = npb.encode_timebox(pdf)
    opts = int(np.frombuffer(raw[1:3], "<u2")[0])
    assert not (opts & npb.OPT_DATE_DIFFS_STORED)
    # header: 9 + (4*len('v')=4 + 40) + 8 + step u32 + 10*4
    assert len(raw) == 9 + 44 + 8 + 4 + 40
    back = npb.decode_timebox(raw)
    np.testing.assert_array_equal(back["v"].to_numpy(), pdf["v"].to_numpy())
    np.testing.assert_array_equal(
        back.index.values.astype("datetime64[ns]"), idx.values
    )


def test_irregular_spacing_keeps_delta_layout():
    pdf = _frame()
    raw = npb.encode_timebox(pdf)
    opts = int(np.frombuffer(raw[1:3], "<u2")[0])
    assert opts & npb.OPT_DATE_DIFFS_STORED


def test_subsecond_spacing_stays_in_delta_layout():
    # constant 500ms deltas are regular but not whole seconds — must
    # stay on the explicit-deltas path (step is stored in seconds)
    idx = pd.to_datetime("2018-01-01") + pd.to_timedelta(
        np.arange(8) * 500, unit="ms"
    )
    pdf = pd.DataFrame({"v": np.arange(8, dtype=np.int32)}, index=idx)
    raw = npb.encode_timebox(pdf)
    opts = int(np.frombuffer(raw[1:3], "<u2")[0])
    assert opts & npb.OPT_DATE_DIFFS_STORED
    back = npb.decode_timebox(raw)
    np.testing.assert_array_equal(
        back.index.values.astype("datetime64[ns]"), idx.values
    )


def test_subsecond_start_raises():
    idx = pd.to_datetime("2018-01-01 00:00:00.250") + pd.to_timedelta(
        np.arange(4), unit="h"
    )
    pdf = pd.DataFrame({"v": np.arange(4, dtype=np.int32)}, index=idx)
    with pytest.raises(npb.NpbFormatError, match="second-aligned"):
        npb.encode_timebox(pdf)


def test_unsorted_input_is_sorted():
    pdf = _frame()
    shuffled = pdf.sample(frac=1.0, random_state=5)
    back = npb.decode_timebox(npb.encode_timebox(shuffled))
    assert back.index.is_monotonic_increasing


def test_single_row():
    pdf = _frame(n=1)
    back = npb.decode_timebox(npb.encode_timebox(pdf))
    assert len(back) == 1


def test_spark_read_write_npb(spark, tmp_path):
    pdf = _frame(n=200)
    d = str(tmp_path / "npbdir")
    import os

    os.makedirs(d, exist_ok=True)
    npb.write_npb_file(pdf, f"{d}/a.npb")
    npb.write_npb_file(_frame(n=100, seed=9), f"{d}/b.npb")
    df = npb.read_npb(spark, d)
    assert df.count() == 300
    got = df.orderBy("ts").toPandas()
    assert list(got.columns) == ["ts"] + sorted(pdf.columns)


def test_spark_write_npb_bucketed(spark, tmp_path):
    pdf = _frame(n=50)
    # widen unsigned dtypes the way TimeBoxTable ingest does, so the
    # frame stays on Spark's Arrow conversion path (no row-by-row
    # fallback warning)
    from timebox_spark import schema as tb_schema

    sdf = spark.createDataFrame(
        tb_schema.widen_pandas_for_arrow(
            pdf.reset_index().rename(columns={"index": "ts"})
        )
    )
    out = str(tmp_path / "out_npb")
    npb.write_npb(sdf, out, bucket="1 day")
    back = npb.read_npb(spark, out)
    assert back.count() == 50


# ---------------- cross-validation against the reference implementation

def _reference_importable():
    sys.path.insert(0, "/root/reference")
    try:
        import timebox.timebox  # noqa: F401

        return True
    except Exception:
        return False


# ------------- golden foreign-byte fixtures (reference format spec)
#
# The reference's own *writer* cannot run on modern numpy
# (np.fromfile/tofile usage, /root/reference/timebox/timebox.py:336),
# so the reference-writes→we-read direction is proven against
# checked-in golden fixtures instead: bytes assembled here with raw
# struct/numpy packing STRAIGHT from the format spec
# (timebox.py:241-279 file info, timebox_tag.py:63-99 + :269-306 tag
# defs, timebox.py:305-362 data blocks) — fully independent of
# timebox_spark.sources.npb, so a shared misreading of the spec
# cannot cancel out. The fixture files under tests/fixtures/ are
# byte-asserted against this generator to prevent drift.

GOLDEN_START_EPOCH_S = 1_551_398_400  # 2019-03-01T00:00:00Z
GOLDEN_DELTAS_S = [1, 2, 3, 600, 1, 1, 7, 3600, 2, 2, 1, 59, 4, 5, 10]
GOLDEN_REGULAR_SPACING_S = 300


def _golden_columns(n=16):
    # deterministic, closed-form values (no RNG: the fixture must be
    # reproducible from this source text alone)
    i = np.arange(n)
    return {
        "px": ((i * 37 % 19) - 9 + i / 8.0).astype(np.float64),  # 'f', 8B
        "t1": ((i * 13 % 21) - 10).astype(np.int32),  # 'i', 4B
        "t2": (i * 997 % 50_000).astype(np.uint16),  # 'u', 2B
    }


def _golden_tag_defs(cols, id_chars):
    # per tag (sorted ids): UCS4-LE identifier, uint16 options=0 (no
    # compression/hash/rounding), uint8 bytes_per_value, uint8
    # ord(type_char), uint32 extra=0, 32 untyped zero bytes
    out = b""
    for name in sorted(cols):
        arr = cols[name]
        out += name.ljust(id_chars, "\x00").encode("utf_32_le")
        out += np.uint16(0).tobytes()
        out += np.uint8(arr.dtype.itemsize).tobytes()
        out += np.uint8(ord(arr.dtype.kind)).tobytes()
        out += np.uint32(0).tobytes()
        out += b"\x00" * 32
    return out


def _golden_bytes(date_deltas: bool) -> bytes:
    cols = _golden_columns()
    n = len(next(iter(cols.values())))
    id_chars = max(len(c) for c in cols)
    # file-info options: bit0 = tag names are strings, bit1 = date
    # differentials stored (timebox.py:175-199)
    options = 1 | (2 if date_deltas else 0)
    buf = np.uint8(1).tobytes()  # version (timebox.py:23)
    buf += np.uint16(options).tobytes()
    buf += np.uint8(len(cols)).tobytes()
    buf += np.uint32(n).tobytes()
    buf += np.uint8(4 * id_chars).tobytes()
    buf += _golden_tag_defs(cols, id_chars)
    buf += np.int64(GOLDEN_START_EPOCH_S).tobytes()  # datetime64[s]
    if date_deltas:
        buf += np.uint8(2).tobytes()  # bytes per date differential
        buf += np.uint16(3).tobytes()  # units: SECONDS (constants 1-1)
        buf += np.asarray(GOLDEN_DELTAS_S, dtype="<u2").tobytes()
    else:
        buf += np.uint32(GOLDEN_REGULAR_SPACING_S).tobytes()
    for name in sorted(cols):
        arr = cols[name]
        buf += arr.astype(arr.dtype.newbyteorder("<")).tobytes()
    return buf


def _golden_index(date_deltas: bool):
    base = np.datetime64(GOLDEN_START_EPOCH_S, "s")
    if date_deltas:
        offs = np.concatenate([[0], np.cumsum(GOLDEN_DELTAS_S)])
    else:
        offs = np.arange(16) * GOLDEN_REGULAR_SPACING_S
    return base + offs.astype("timedelta64[s]")


@pytest.mark.parametrize("layout", ["deltas", "regular"])
def test_golden_reference_bytes_we_read(layout):
    """Foreign bytes → our reader: the checked-in fixture (assembled
    from the reference format spec, never by our writer) must decode
    to the exact closed-form values, for BOTH date layouts."""
    import os

    date_deltas = layout == "deltas"
    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", f"reference_golden_{layout}.npb"
    )
    with open(fixture, "rb") as fh:
        raw = fh.read()
    assert raw == _golden_bytes(date_deltas), "fixture drifted from spec generator"
    ours = npb.read_npb_file(fixture)
    cols = _golden_columns()
    assert list(ours.columns) == sorted(cols)
    for c, expected in cols.items():
        np.testing.assert_array_equal(ours[c].to_numpy(), expected)
        assert ours[c].dtype == expected.dtype
    np.testing.assert_array_equal(
        ours.index.values.astype("datetime64[s]"), _golden_index(date_deltas)
    )


@pytest.mark.skipif(not _reference_importable(), reason="reference not importable")
def test_we_write_reference_reads(tmp_path):
    from timebox.timebox import TimeBox

    pdf = _frame(n=32)
    path = str(tmp_path / "ours.npb")
    npb.write_npb_file(pdf, path)
    tb = TimeBox(path)
    tb.read()
    for c in pdf.columns:
        got = tb._tags[c].data
        np.testing.assert_allclose(
            got.astype(np.float64), pdf[c].to_numpy().astype(np.float64), rtol=0
        )


@pytest.mark.skipif(not _reference_importable(), reason="reference not importable")
def test_we_write_regular_spacing_reference_reads(tmp_path):
    # the implicit-dates layout must round-trip through the REFERENCE
    # reader (timebox.py:234-237 seconds_between_points path)
    from timebox.timebox import TimeBox

    idx = pd.date_range("2019-06-01", periods=24, freq="1h")
    pdf = pd.DataFrame(
        {"a": np.arange(24, dtype=np.int64), "b": (np.arange(24) * 0.5)},
        index=idx,
    )
    path = str(tmp_path / "regular.npb")
    npb.write_npb_file(pdf, path)
    tb = TimeBox(path)
    tb.read()
    for c in pdf.columns:
        np.testing.assert_allclose(
            tb._tags[c].data.astype(np.float64),
            pdf[c].to_numpy().astype(np.float64),
            rtol=0,
        )
    # the reference keeps regular-mode dates implicit: _dates stays
    # unset and (start, seconds_between_points) describe the grid
    assert int(tb._seconds_between_points) == 3600
    assert np.datetime64(tb._start_date, "s") == idx.values[0].astype("datetime64[s]")


def test_downcast_floats_writer_policy():
    idx = pd.date_range("2020-01-01", periods=8, freq="1h")
    pdf = pd.DataFrame(
        {
            "f16able": np.array([2, 4, 8, 16, 32, 64, 128, 256], dtype=np.float64),
            "f32able": np.full(8, np.float64(np.finfo(np.float32).max)),
            "f64only": np.full(8, 0.1, dtype=np.float64),
        },
        index=idx,
    )
    raw = npb.encode_timebox(pdf, downcast_floats=True)
    back = npb.decode_timebox(raw)
    assert back["f16able"].dtype == np.float16
    assert back["f32able"].dtype == np.float32
    assert back["f64only"].dtype == np.float64
    for c in pdf.columns:
        np.testing.assert_array_equal(
            back[c].to_numpy().astype(np.float64), pdf[c].to_numpy()
        )
    # narrower than the un-downcast encoding
    assert len(raw) < len(npb.encode_timebox(pdf))


@pytest.mark.skipif(not _reference_importable(), reason="reference not importable")
def test_downcast_floats_reference_reads(tmp_path):
    from timebox.timebox import TimeBox

    idx = pd.date_range("2020-01-01", periods=8, freq="1h")
    pdf = pd.DataFrame(
        {"v": np.array([1, 2, 3, 4, 5, 6, 7, 8], dtype=np.float64)}, index=idx
    )
    path = str(tmp_path / "f16.npb")
    npb.write_npb_file(pdf, path, downcast_floats=True)
    tb = TimeBox(path)
    tb.read()
    np.testing.assert_array_equal(
        tb._tags["v"].data.astype(np.float64), pdf["v"].to_numpy()
    )


def test_spark_write_npb_defaults_to_bucketed(spark, tmp_path):
    """The DEFAULT write path is the distributed bucketed layout
    (round-6 verdict task 6): part-<stamp>.npb files from the
    applyInPandas writer, not a driver-side part-00000.npb."""
    from timebox_spark import schema as tb_schema

    pdf = _frame(n=50)
    sdf = spark.createDataFrame(
        tb_schema.widen_pandas_for_arrow(
            pdf.reset_index().rename(columns={"index": "ts"})
        )
    )
    out = str(tmp_path / "out_default")
    npb.write_npb(sdf, out)  # no bucket argument
    import os

    names = sorted(n for n in os.listdir(out) if n.endswith(".npb"))
    assert names and "part-00000.npb" not in names
    assert all(len(n) == len("part-YYYYmmddHHMMSS.npb") for n in names)
    assert npb.read_npb(spark, out).count() == 50
