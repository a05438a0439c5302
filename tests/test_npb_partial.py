"""Partial reads (column pruning + time pruning) and property-based
round-trip tests for the .npb codec."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.test_npb import _frame
from timebox_spark.sources import npb


def test_column_pruned_decode():
    pdf = _frame(n=64)
    raw = npb.encode_timebox(pdf)
    got = npb.decode_timebox(raw, columns=["tag_f64", "tag_i8"])
    assert sorted(got.columns) == ["tag_f64", "tag_i8"]
    np.testing.assert_array_equal(got["tag_i8"], pdf["tag_i8"])
    np.testing.assert_array_equal(got["tag_f64"], pdf["tag_f64"])


def test_column_pruning_with_compressed_blocks():
    pdf = _frame(n=64)
    raw = npb.encode_timebox(pdf, compress={"tag_i64": "e", "tag_u16": "m"})
    # prune a compressed col away and keep one after it in sort order —
    # proves skip-by-size handles 'e' blocks (n−1 elements)
    got = npb.decode_timebox(raw, columns=["tag_u16"])
    np.testing.assert_array_equal(got["tag_u16"], pdf["tag_u16"])


def test_scan_time_range_header_only():
    pdf = _frame(n=64)
    lo, hi = npb.scan_time_range(npb.encode_timebox(pdf))
    assert lo == pdf.index.min() and hi == pdf.index.max()


def test_spark_read_pruned(spark, tmp_path):
    import os

    d = str(tmp_path / "npb")
    os.makedirs(d)
    early = _frame(n=50, seed=1)
    late = _frame(n=50, seed=2)
    late.index = late.index + pd.Timedelta(days=365)
    npb.write_npb_file(early, f"{d}/a.npb")
    npb.write_npb_file(late, f"{d}/b.npb")

    df = npb.read_npb(
        spark,
        d,
        columns=["tag_f64"],
        time_range=(late.index.min(), late.index.max()),
    )
    assert df.columns == ["ts", "tag_f64"]
    assert df.count() == 50


# ---------------- property-based round trips (hypothesis)

_dtypes = st.sampled_from(
    [np.int8, np.int16, np.int32, np.int64, np.uint8, np.uint16, np.float32, np.float64]
)


@st.composite
def frames(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    n_cols = draw(st.integers(min_value=1, max_value=4))
    rng = np.random.RandomState(draw(st.integers(0, 2**31 - 1)))
    deltas = rng.randint(0, 10**6, n)  # seconds, duplicates allowed
    idx = pd.to_datetime("2000-01-01") + pd.to_timedelta(np.cumsum(deltas), unit="s")
    cols = {}
    for i in range(n_cols):
        dt = draw(_dtypes)
        if np.dtype(dt).kind == "f":
            cols[f"c{i}"] = (rng.randn(n) * 1000).astype(dt)
        else:
            info = np.iinfo(dt)
            cols[f"c{i}"] = rng.randint(
                max(info.min, -(2**40)), min(info.max, 2**40), n
            ).astype(dt)
    return pd.DataFrame(cols, index=idx)


@given(frames())
@settings(max_examples=30, deadline=None)
def test_roundtrip_property(pdf):
    back = npb.decode_timebox(npb.encode_timebox(pdf))
    for c in pdf.columns:
        np.testing.assert_array_equal(back[c].to_numpy(), pdf[c].to_numpy())
        assert back[c].dtype == pdf[c].dtype
    np.testing.assert_array_equal(
        back.index.values.astype("datetime64[s]"),
        pd.to_datetime(pdf.index).values.astype("datetime64[s]"),
    )


@given(frames(), st.sampled_from(["e", "m"]))
@settings(max_examples=20, deadline=None)
def test_roundtrip_property_compressed_ints(pdf, mode):
    int_cols = [c for c in pdf.columns if pdf[c].dtype.kind in "iu"]
    back = npb.decode_timebox(
        npb.encode_timebox(pdf, compress={c: mode for c in int_cols})
    )
    for c in int_cols:
        np.testing.assert_array_equal(back[c].to_numpy(), pdf[c].to_numpy())


def test_uint64_lossless_via_decimal(spark, tmp_path):
    import os
    from decimal import Decimal

    d = str(tmp_path / "u64")
    os.makedirs(d)
    big = np.array([2**63 + 5, 2**64 - 1, 7], dtype=np.uint64)
    pdf = pd.DataFrame(
        {"u": big}, index=pd.date_range("2020-01-01", periods=3, freq="1h")
    )
    npb.write_npb_file(pdf, f"{d}/u.npb")
    df = npb.read_npb(spark, d)
    assert df.schema["u"].dataType.simpleString() == "decimal(20,0)"
    got = sorted(r["u"] for r in df.collect())
    assert got == sorted(Decimal(int(v)) for v in big)


def test_select_tags_and_between(spark):
    from timebox_spark.table import TimeBoxTable
    from timebox_spark.plans.tables import load
    from tests.conftest import SF_SMOKE

    t = TimeBoxTable(load(spark, SF_SMOKE, "events"))
    sub = t.select_tags("value").between("2024-01-05", "2024-01-10")
    assert sub.df.columns == ["ts", "value"]
    n, lo, hi = sub.time_range()
    assert n > 0 and str(lo) >= "2024-01-05" and str(hi) <= "2024-01-10 23:59:59.999999"


def _assert_scan_matches_from_pandas(spark, pdf, d):
    """``read_npb`` of one written file has the schema
    ``TimeBoxTable.from_pandas`` gives the same frame (names, types and
    ``timebox`` metadata) and the same rows."""
    import os

    from timebox_spark.table import TimeBoxTable

    os.makedirs(d)
    npb.write_npb_file(pdf, f"{d}/x.npb")
    got = npb.read_npb(spark, d)
    want = TimeBoxTable.from_pandas(spark, pdf).df
    assert got.schema == want.schema
    assert [f.metadata for f in got.schema] == [f.metadata for f in want.schema]
    assert got.orderBy("ts").collect() == want.orderBy("ts").collect()
    return got.schema


def test_read_npb_schema_matches_from_pandas(spark, tmp_path):
    rng = np.random.RandomState(11)
    n = 24
    idx = pd.date_range("2021-03-01", periods=n, freq="37s")
    pdf = pd.DataFrame(
        {
            "a_u8": rng.randint(0, 256, n).astype(np.uint8),
            "b_u16": rng.randint(0, 1 << 16, n).astype(np.uint16),
            "c_u32": rng.randint(0, 1 << 32, n, dtype=np.int64).astype(np.uint32),
            "d_u64": (np.arange(n, dtype=np.uint64) + np.uint64(2**63)),
            "e_f16": (rng.randint(-512, 512, n) / 4).astype(np.float16),
            "f_i64": rng.randint(-(10**12), 10**12, n).astype(np.int64),
            "g_f64": rng.rand(n) * 1000,
        },
        index=idx,
    )
    schema = _assert_scan_matches_from_pandas(spark, pdf, str(tmp_path / "tags"))
    assert schema["d_u64"].dataType.simpleString() == "decimal(20,0)"
    assert schema["e_f16"].metadata["timebox"] == {
        "type_char": "f", "bytes_per_value": 2, "widened": True
    }


def test_read_npb_keeps_int_identifier_metadata(spark, tmp_path):
    n = 10
    idx = pd.date_range("2021-03-01", periods=n, freq="1h")
    pdf = pd.DataFrame(
        {
            3: np.arange(n, dtype=np.uint8),
            10: np.arange(n, dtype=np.int32) * -7,
            300: np.linspace(0.0, 1.0, n),
        },
        index=idx,
    )
    schema = _assert_scan_matches_from_pandas(spark, pdf, str(tmp_path / "ints"))
    assert [f.metadata["timebox"]["int_identifier"] for f in schema.fields[1:]] == [
        3, 10, 300
    ]
