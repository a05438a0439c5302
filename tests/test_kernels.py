"""Reference golden kernel vectors (FIXTURES.md F5) replayed as Spark
transforms, plus schema-widening and validation behavior.

Golden values derive from the reference's kernel tests
(/root/reference/timebox/utils/tests/test_numpy_compression.py,
test_numpy_decompression.py, test_binary.py,
tests/test_timebox_tag_compression.py) — values only, no code reuse.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from timebox_spark import schema as tb_schema
from timebox_spark.operators import kernels
from timebox_spark.operators.timeunits import conversion_multiplier
from timebox_spark.sources import npb
from timebox_spark.table import DateDataError, TimeBoxTable


def _df(spark, values, dtype="long", col="v"):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], schema=f"idx long, {col} {dtype}"
    )


# ---- W1/W2: delta encode/decode (ref test_numpy_compression.py:14-127)

def test_delta_encode_golden(spark):
    df = _df(spark, [1, 2, 3, 4])
    out = kernels.delta_encode(df, "v", order_by=["idx"]).orderBy("idx").collect()
    assert [r["v_delta"] for r in out] == [None, 1, 1, 1]


def test_delta_encode_signed_golden(spark):
    df = _df(spark, [10, -2, 0, -2000])
    out = kernels.delta_encode(df, "v", order_by=["idx"]).orderBy("idx").collect()
    assert [r["v_delta"] for r in out] == [None, -12, 2, -2000]


def test_delta_roundtrip(spark):
    df = _df(spark, [-4, -2, 0, 2000])
    enc = kernels.delta_encode(df, "v", order_by=["idx"])
    dec = kernels.delta_decode(enc, "v_delta", "v", order_by=["idx"])
    rows = dec.orderBy("idx").collect()
    assert [r["reconstructed"] for r in rows] == [-4, -2, 0, 2000]


# ---- W3/W4: frame of reference (ref test_timebox_tag_compression.py:7-39),
# run by the .npb codec's 'm' mode

def _for_spec(**kw):
    return npb.TagSpec(identifier=0, bytes_per_value=8, type_char="i", compress="m", **kw)


def test_frame_of_reference_golden():
    values = np.array([1000000, 1000001, 1000002, 1000005], dtype=np.int64)
    spec = _for_spec()
    enc = npb._encode_column(values, spec)
    assert spec.ref_value == 1000000
    assert enc.tolist() == [0, 1, 2, 5]
    dec = npb._decode_column(enc, spec, len(values))
    assert dec.tolist() == [1000000, 1000001, 1000002, 1000005]


# ---- C1/C2: quantize (ref test_timebox_tag_compression.py:41-65)

def test_quantize_golden(spark):
    df = _df(spark, [0.5, -0.5, 10.2345, 0.0], dtype="double")
    q = df.select("idx", kernels.quantize("v", 2).alias("q"))
    assert [r["q"] for r in q.orderBy("idx").collect()] == [50, -50, 1023, 0]
    spec = _for_spec(decimals=2)
    enc = npb._encode_column(np.array([0.5, -0.5, 10.2345, 0.0]), spec)
    assert spec.ref_value == -50
    assert enc.tolist() == [100, 0, 1073, 50]
    dq = q.select("idx", kernels.dequantize("q", 2).alias("v"))
    assert [r["v"] for r in dq.orderBy("idx").collect()] == [0.5, -0.5, 10.23, 0.0]


# ---- C4: byte-width ladder (ref test_binary.py:20-66), the .npb codec's

@pytest.mark.parametrize(
    "value,width",
    [(0, 1), (255, 1), (256, 2), (65535, 2), (65536, 4), (2**32 - 1, 4), (2**32, 8), (2**64 - 1, 8)],
)
def test_required_bytes_unsigned(value, width):
    assert npb._uint_width(value) == width


@pytest.mark.parametrize(
    "lo,hi,width",
    [(-128, 127, 1), (-129, 0, 2), (0, 128, 2), (-32768, 32767, 2), (0, 32768, 4), (-(2**31) - 1, 0, 8), (0, 2**62, 8)],
)
def test_required_bytes_signed(lo, hi, width):
    assert npb._int_width(lo, hi) == width


def test_required_bytes_errors():
    with pytest.raises(ValueError):
        npb._uint_width(2**64)
    with pytest.raises(ValueError):
        npb._int_width(0, 2**63)


# ---- C3: float downcast guard (ref test_numpy_float_compression.py)

def test_float32_roundtrip_guard(spark):
    f32_max = float(np.finfo(np.float32).max)
    exact = [1.0, 0.5, f32_max, 0.0]
    inexact = [0.1, 1e300, float(np.nextafter(np.float32(1.0), 2.0, dtype=np.float64))]
    df = _df(spark, exact + inexact, dtype="double")
    out = df.select("idx", kernels.float32_roundtrip_exact("v").alias("ok")).orderBy("idx").collect()
    assert [r["ok"] for r in out] == [True] * 4 + [False] * 3


def test_lossless_downcast_applied_and_refused():
    # the .npb writer's ladder: NaN round-trips, so this narrows
    narrowed = npb._lossless_float_downcast_np(np.array([1.0, 2.5, float("nan")]))
    assert narrowed.dtype != np.float64 and np.isnan(narrowed[2])
    kept = npb._lossless_float_downcast_np(np.array([1.0, 0.1]))
    assert kept.dtype == np.float64


# ---- D3/D4: units (ref test_datetime_utils.py:74-105)

def test_conversion_multiplier():
    assert conversion_multiplier("m", "s") == 60
    assert conversion_multiplier("D", "h") == 24
    assert conversion_multiplier("s", "ms") == 1000


def test_coarsest_unit_hours():
    # the .npb writer coarsens ns deltas at rest
    base = pd.Timestamp("2018-01-01")
    ts = pd.DatetimeIndex([base + pd.Timedelta(hours=h) for h in [0, 1, 2, 5]])
    deltas, unit = npb._coarsen_deltas(np.diff(ts.asi8))
    assert unit == "h" and deltas.tolist() == [1, 1, 3]

    ts_reg = pd.DatetimeIndex([base + pd.Timedelta(days=d_) for d_ in [0, 1, 2, 3]])
    deltas2, unit2 = npb._coarsen_deltas(np.diff(ts_reg.asi8))
    assert unit2 == "D" and deltas2.tolist() == [1, 1, 1]


# ---- schema widening (SURVEY §1.4)

def test_schema_widening():
    assert tb_schema.spark_type_for("u", 1) == T.ShortType()
    assert tb_schema.spark_type_for("u", 8) == T.DecimalType(20, 0)
    assert tb_schema.spark_type_for("f", 2) == T.FloatType()
    f = tb_schema.field_for(7, "u", 4)
    assert f.name == "7" and f.dataType == T.LongType()
    assert f.metadata["timebox"]["widened"] and f.metadata["timebox"]["int_identifier"] == 7
    with pytest.raises(ValueError):
        tb_schema.spark_type_for("x", 4)


def test_from_pandas_widening_and_sort(spark):
    idx = pd.to_datetime(["2018-01-03", "2018-01-01", "2018-01-02"])
    pdf = pd.DataFrame(
        {
            "tag_0": np.array([3, 1, 2], dtype=np.uint8),
            "tag_1": np.array([-4, -2, 0], dtype=np.int16),
            "tag_2": np.array([5.2, 0.8, 3.5], dtype=np.float32),
        },
        index=idx,
    )
    t = TimeBoxTable.from_pandas(spark, pdf)
    dtypes = dict(t.df.dtypes)
    assert dtypes == {"ts": "timestamp", "tag_0": "smallint", "tag_1": "smallint", "tag_2": "float"}
    rows = t.df.orderBy("ts").collect()
    assert [r["tag_0"] for r in rows] == [1, 2, 3]  # sorted on ingest
    assert t.monotonicity_violations() == 0
    back = t.to_pandas()
    assert list(back.index) == sorted(idx)


def test_from_pandas_unsigned_stays_on_arrow_path(spark):
    """Unsigned/half-float ingest must not fall off Spark's Arrow fast
    path (no UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION fallback), and
    full-range uint64 must survive via Decimal(20,0)."""
    import warnings

    idx = pd.date_range("2024-01-01", periods=4, freq="s")
    pdf = pd.DataFrame(
        {
            "u1": np.array([0, 1, 2, 255], dtype=np.uint8),
            "u2": np.array([0, 1, 2, 65535], dtype=np.uint16),
            "u4": np.array([0, 1, 2, 2**32 - 1], dtype=np.uint32),
            "u8": np.array([0, 1, 2, 2**64 - 1], dtype=np.uint64),
            "f2": np.array([0.5, 1.5, 2.5, -3.0], dtype=np.float16),
        },
        index=idx,
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        t = TimeBoxTable.from_pandas(spark, pdf)
        rows = t.df.orderBy("ts").collect()
    assert not [w for w in caught if "rrow" in str(w.message)], caught
    assert rows[-1]["u1"] == 255 and rows[-1]["u2"] == 65535
    assert rows[-1]["u4"] == 2**32 - 1
    assert int(rows[-1]["u8"]) == 2**64 - 1
    assert rows[-1]["f2"] == -3.0


def test_from_pandas_rejects_bad_index(spark):
    pdf = pd.DataFrame({"a": [1, 2]}, index=["x", "y"])
    with pytest.raises(DateDataError):
        TimeBoxTable.from_pandas(spark, pdf)


def test_from_pandas_rejects_bad_dtype(spark):
    pdf = pd.DataFrame(
        {"a": ["s1", "s2"]}, index=pd.to_datetime(["2018-01-01", "2018-01-02"])
    )
    with pytest.raises(ValueError):
        TimeBoxTable.from_pandas(spark, pdf)


def test_assert_monotonic_raises(spark):
    df = spark.createDataFrame(
        [(pd.Timestamp("2018-01-02").to_pydatetime(), 1), (pd.Timestamp("2018-01-01").to_pydatetime(), 2)],
        schema="ts timestamp, v long",
    )
    # constructed out of order with an explicitly reversed sort key
    t = TimeBoxTable(df.withColumn("ord", F.lit(1)))
    assert t.monotonicity_violations(keys=None) == 0  # ordered by ts → fine

    # per-key violation: ts decreasing within the same key order column
    df2 = spark.createDataFrame(
        [(1, pd.Timestamp("2018-01-02").to_pydatetime()), (2, pd.Timestamp("2018-01-01").to_pydatetime())],
        schema="idx long, ts timestamp",
    )
    viol = (
        df2.withColumn("prev", F.lag("ts").over(__import__("pyspark").sql.Window.orderBy("idx")))
        .filter(F.col("ts") < F.col("prev"))
        .count()
    )
    assert viol == 1


def test_partitioned_save_prunes_directories(spark, tmp_path):
    from timebox_spark.plans.tables import load as load_table
    from tests.conftest import SF_SMOKE
    import io
    from contextlib import redirect_stdout

    events = load_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "events_partitioned")
    TimeBoxTable(events).save(path, partition_by_day=True)
    t = TimeBoxTable.load(spark, path)
    assert "ts_date" not in t.df.columns
    assert t.num_points() == events.count()

    # a one-day predicate must scan only that day's partition files
    one_day = t.df.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-11")
    )
    # partition pruning happens via the ts_date dirs when filtering on
    # the derived predicate; verify the data itself round-trips
    assert one_day.count() == events.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-11")
    ).count()
    import glob

    assert len(glob.glob(f"{path}/ts_date=*")) >= 25  # ~30 days of dirs


def test_compact_restores_single_wellsized_files(spark, tmp_path):
    from timebox_spark.plans.tables import load as load_table
    from tests.conftest import SF_SMOKE
    import glob

    events = load_table(spark, SF_SMOKE, "events").limit(500)
    path = str(tmp_path / "fragmented")
    # simulate a streaming sink: many tiny appends
    for i in range(6):
        events.filter(F.pmod(F.col("event_id"), F.lit(6)) == i).coalesce(
            1
        ).write.mode("append").parquet(path)
    n_before = len(glob.glob(f"{path}/*.parquet"))
    total = spark.read.parquet(path).count()

    t = TimeBoxTable.load(spark, path)
    t.compact(path)
    n_after = len(glob.glob(f"{path}/*.parquet"))
    assert n_after < n_before
    assert spark.read.parquet(path).count() == total


def test_bucketed_prev_equals_global_window(spark):
    from pyspark.sql import Window as W
    from timebox_spark.plans.tables import load as load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events").select("event_id", "ts")
    scal = kernels.bucketed_prev(
        events,
        order_by=["event_id"],
        value_col="ts",
        bucket=F.floor(F.col("event_id") / F.lit(97)),  # awkward width on purpose
        out_col="prev",
    )
    glob = events.withColumn("prev", F.lag("ts").over(W.orderBy("event_id")))
    a = {r["event_id"]: r["prev"] for r in scal.collect()}
    b = {r["event_id"]: r["prev"] for r in glob.collect()}
    assert a == b


def test_bucketed_prev_with_partition_keys(spark):
    from pyspark.sql import Window as W
    from timebox_spark.plans.tables import load as load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "event_id", "ts"
    )
    scal = kernels.bucketed_prev(
        events,
        order_by=["ts", "event_id"],
        value_col="event_id",
        bucket=F.date_trunc("day", F.col("ts")),
        out_col="prev",
        partition_by=["event_type"],
    )
    glob = events.withColumn(
        "prev",
        F.lag("event_id").over(
            W.partitionBy("event_type").orderBy("ts", "event_id")
        ),
    )
    a = {r["event_id"]: r["prev"] for r in scal.collect()}
    b = {r["event_id"]: r["prev"] for r in glob.collect()}
    assert a == b


# ---- interpolate: linear gap fill on the dense grid (gap §2.7)

def test_interpolate_linear_exact(spark):
    from datetime import datetime, timezone

    from timebox_spark.operators.resample import interpolate

    def ts(h):
        return datetime(2024, 1, 1, h, tzinfo=timezone.utc)

    # observations at hours 0 (v=10) and 3 (v=40); hours 1-2 missing
    df = spark.createDataFrame(
        [(ts(0), 10.0), (ts(3), 40.0)], schema="ts timestamp, v double"
    )
    out = (
        interpolate(df, "1 hour", ["v"], bucket_col="hr")
        .orderBy("hr")
        .select("v")
        .collect()
    )
    assert [r["v"] for r in out] == [10.0, 20.0, 30.0, 40.0]


def test_interpolate_edges_stay_null_and_keys_independent(spark):
    from datetime import datetime, timezone

    from timebox_spark.operators.resample import interpolate

    def ts(h):
        return datetime(2024, 1, 1, h, tzinfo=timezone.utc)

    # key a: obs at hours 1 and 3 (hour 2 interpolated); key b: single obs.
    # Rows carry a second null-valued column at observed-but-null spots:
    # hour 2 exists for a with v NULL -> still interpolated.
    df = spark.createDataFrame(
        [("a", ts(1), 0.0), ("a", ts(2), None), ("a", ts(3), 8.0), ("b", ts(5), 7.0)],
        schema="k string, ts timestamp, v double",
    )
    rows = (
        interpolate(df, "1 hour", ["v"], keys=["k"], bucket_col="hr")
        .orderBy("k", "hr")
        .collect()
    )
    a_vals = [r["v"] for r in rows if r["k"] == "a"]
    b_vals = [r["v"] for r in rows if r["k"] == "b"]
    assert a_vals == [0.0, 4.0, 8.0]
    assert b_vals == [7.0]


# ---- C3 float16 tier (ref numpy_utils.py:159-184,
#      test_numpy_float_compression.py:38-113 — golden byte patterns)

_F16_GOLDEN = [
    0.0,
    -0.0,
    1.0,
    2.0,
    1.0 / 3.0,
    0.1,
    0.05,
    2048.0,
    2049.0,           # granularity at 2^11 is 2 — not representable
    2050.0,
    65504.0,          # f16 max
    65505.0,
    -65504.0,
    2.0 ** -14,       # min normal
    (2.0 ** -14) * (1.0 + 2.0 ** -10),   # last mantissa bit set — ok
    (2.0 ** -14) * (1.0 + 2.0 ** -11),   # needs an 11th bit — not ok
    2.0 ** -24,       # min subnormal
    3.0 * 2.0 ** -24,
    2.0 ** -25,       # below subnormal grid
    float("nan"),
    float("inf"),
    float("-inf"),
    # reference golden byte patterns (values only):
    float(np.frombuffer(b"\x00p\x7f@", dtype=np.float32)[0]),   # f32-only
    float(np.frombuffer(b"\x00`\x7f@", dtype=np.float32)[0]),   # f16-exact
    float(np.frombuffer(b"\x00\x00\x7f\x7f", dtype=np.float32)[0]),  # exp too big
]


def test_float16_formula_matches_numpy_golden(spark):
    expected = kernels.float16_roundtrip_exact_np(_F16_GOLDEN)
    df = _df(spark, _F16_GOLDEN, dtype="double")
    got = (
        df.withColumn("ok", kernels.float16_roundtrip_exact("v"))
        .orderBy("idx")
        .collect()
    )
    for v, e, r in zip(_F16_GOLDEN, expected, got):
        assert r["ok"] == bool(e), f"{v!r}: spark={r['ok']} numpy={e}"


def test_float16_formula_matches_numpy_random(spark):
    rng = np.random.RandomState(7)
    vals = np.concatenate(
        [
            rng.uniform(-1e5, 1e5, 200),                      # mostly inexact
            rng.uniform(-1, 1, 200),
            np.float16(rng.uniform(-6e4, 6e4, 200)).astype(np.float64),  # exact
            np.float16(rng.uniform(-1e-4, 1e-4, 100)).astype(np.float64),
        ]
    )
    expected = kernels.float16_roundtrip_exact_np(vals)
    df = _df(spark, [float(v) for v in vals], dtype="double")
    got = (
        df.withColumn("ok", kernels.float16_roundtrip_exact("v"))
        .orderBy("idx")
        .collect()
    )
    mism = [
        (float(v), bool(e), r["ok"])
        for v, e, r in zip(vals, expected, got)
        if r["ok"] != bool(e)
    ]
    assert not mism, mism[:5]


def test_float16_formula_matches_numpy_in_duckdb():
    """The q09 oracle's SQL transliteration of the formula must agree
    with numpy too (engine parity of the oracle itself)."""
    import duckdb

    vals = [v for v in _F16_GOLDEN if not np.isnan(v)]
    expected = kernels.float16_roundtrip_exact_np(vals)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES {}) v(x)".format(
        ", ".join(f"(CAST('{v!r}' AS DOUBLE))" for v in vals)
    ))
    rows = con.execute("""
        SELECT CASE
          WHEN isnan(x) THEN 1
          WHEN abs(x) = 0.0 THEN 1
          WHEN isinf(x) THEN 1
          WHEN abs(x) > 65504.0 THEN 0
          WHEN abs(x) >= 0.00006103515625
            THEN CASE WHEN x * pow(2.0, 10.0 - floor(log2(abs(x))))
                      = floor(x * pow(2.0, 10.0 - floor(log2(abs(x)))))
                 THEN 1 ELSE 0 END
          ELSE CASE WHEN x * 16777216.0 = floor(x * 16777216.0)
               THEN 1 ELSE 0 END END
        FROM t
    """).fetchall()
    for v, e, (r,) in zip(vals, expected, rows):
        assert bool(r) == bool(e), f"{v!r}: duckdb={r} numpy={e}"


def _float_width(values) -> int:
    return npb._lossless_float_downcast_np(np.array(values, dtype=np.float64)).dtype.itemsize


def test_float_downcast_width_ladder():
    # reference test_float_array_compresses: powers of two -> f16
    assert _float_width([2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0]) == 2
    # f32 max/min survive f32 but not f16 (test_can_compress)
    fmax = float(np.finfo(np.float32).max)
    assert _float_width([fmax, -fmax]) == 4
    # f16 max/min -> 2
    hmax = float(np.finfo(np.float16).max)
    assert _float_width([hmax, -hmax]) == 2
    # significant low mantissa bits -> stays f64 (test_significant_bits)
    v8 = float(np.frombuffer(b"\x00\x00\x00\xf0\xff\xff\x0f@", dtype=np.float64)[0])
    assert _float_width([v8]) == 8
    # one bit over -> f32 exactly
    v4 = float(np.frombuffer(b"\x00\x00\x00\xe0\xff\xff\x0f@", dtype=np.float64)[0])
    assert _float_width([v4]) == 4


def test_rolling_agg_requires_partition_key(spark):
    df = _df(spark, [1.0, 2.0], dtype="double").withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01"))
    )
    with pytest.raises(ValueError, match="partition_by"):
        kernels.rolling_agg(df, "ts", {"n": F.count(F.lit(1))}, window_us=1)


def test_compact_retains_previous_snapshot(spark, tmp_path):
    import glob
    import os

    from tests.conftest import SF_SMOKE
    from timebox_spark.plans.tables import load as load_table

    events = load_table(spark, SF_SMOKE, "events").limit(200)
    path = str(tmp_path / "tbl")
    TimeBoxTable(events).save(path)
    t = TimeBoxTable.load(spark, path)
    t.compact(path)  # plain dir -> symlink layout
    assert os.path.islink(path)
    v1 = os.path.realpath(path)
    TimeBoxTable.load(spark, path).compact(path)  # atomic repoint
    assert os.path.islink(path)
    v2 = os.path.realpath(path)
    assert v1 != v2
    # the immediately-previous snapshot is retained for in-flight scans
    assert os.path.isdir(v1)
    assert spark.read.parquet(v1).count() == 200
    assert spark.read.parquet(path).count() == 200
    # a third compact garbage-collects the oldest version
    TimeBoxTable.load(spark, path).compact(path)
    assert not os.path.isdir(v1)
    assert os.path.isdir(v2)
    versions = glob.glob(f"{path}.__v_*")
    assert len(versions) == 2


def test_derive_n_buckets_formula():
    """Pin the auto_bucket bucket-count formula (round-6 verdict task
    5): ~100k rows per bucket, clamped — a fixed 256 would push ~40M
    rows through single window tasks at 10^10 rows."""
    from timebox_spark.operators import kernels as K

    assert K.derive_n_buckets(0) == K.AUTO_BUCKET_MIN
    assert K.derive_n_buckets(10_000) == K.AUTO_BUCKET_MIN
    assert K.derive_n_buckets(25_600_000) == 257
    assert K.derive_n_buckets(10_000_000_000) == K.AUTO_BUCKET_MAX
    # derived counts keep per-bucket rows near the target once past
    # the clamp floor
    n = 3_000_000_000
    b = K.derive_n_buckets(n)
    assert K.AUTO_BUCKET_MIN <= b <= K.AUTO_BUCKET_MAX
    assert n / b <= 2 * K.AUTO_BUCKET_TARGET_ROWS


def test_auto_bucket_uses_derived_count(spark):
    """auto_bucket with no explicit n_buckets still produces a valid
    monotone bucket column usable by bucketed_prev."""
    import pandas as pd

    from timebox_spark.operators import kernels as K

    df = spark.createDataFrame(
        pd.DataFrame({"x": range(1000), "v": range(1000)})
    )
    bkt = K.auto_bucket(df, ["x"])
    out = (
        df.withColumn("b", bkt)
        .groupBy("b")
        .count()
        .orderBy("b")
        .collect()
    )
    # small input clamps to AUTO_BUCKET_MIN buckets over the x range
    assert len(out) == K.AUTO_BUCKET_MIN
    assert sum(r["count"] for r in out) == 1000
