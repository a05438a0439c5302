"""The reference's numpy codec kernels, re-expressed as Spark transforms.

Reference kernels (all in /root/reference/timebox/utils/numpy_utils.py
and timebox_tag.py):

- delta encode/decode ('e' mode): ediff1d + cumsum
  (numpy_utils.py:218, 258-260) → lag / running-sum windows (W1/W2).
- fixed-decimal quantize/dequantize (timebox_tag.py:238-240, 264-265)
  → round/pow column expressions (C1/C2).
- lossless float downcast guard (numpy_utils.py:103-184) → round-trip
  cast equality predicates (C3).

The codec's other decisions are made once, where the codec runs:
frame-of-reference ('m' mode), stored integer widths and the writer's
float ladder in ``sources.npb`` (``_encode_column``, ``_uint_width``/
``_int_width``, ``_lossless_float_downcast_np``); the driver keys
compute frame-of-reference and extremes as plain aggregates
(``plans.queries.q07_frame_of_reference``/``q05_extremes``).

Scale notes: windows partition by the caller's series key — a window
with no partition key collapses to one task, so global operations
are computed as aggregates and broadcast-joined back instead of using
an empty-partition window.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------- W1/W2

def delta_encode(
    df: DataFrame,
    value_col: str,
    order_by: list[str],
    partition_by: list[str] | None = None,
    out_col: str | None = None,
    bucket: Column | None = None,
) -> DataFrame:
    """value − lag(value) per series; first row of each series gets
    null (the reference stores the first value separately as the
    reference value, numpy_utils.py:218-222).

    ``bucket``: optional precomputed monotone bucket column for the
    unkeyed path — pass ``auto_bucket(df, order_by)`` once when
    composing several unkeyed kernels over the same input, so the
    min/max bounds agg runs one scan instead of one per kernel."""
    out_col = out_col or f"{value_col}_delta"
    if not partition_by:
        # no series key: a bare Window.orderBy would serialize the data
        # through one task — run the exact bucketed-carry plan instead
        if bucket is None:
            bucket = auto_bucket(df, order_by)
        d = bucketed_prev(df, order_by, value_col, bucket, out_col="__prev")
        return d.withColumn(out_col, F.col(value_col) - F.col("__prev")).drop(
            "__prev"
        )
    w = _w(order_by, partition_by)
    return df.withColumn(out_col, F.col(value_col) - F.lag(value_col).over(w))


def delta_decode(
    df: DataFrame,
    delta_col: str,
    first_value_col: str,
    order_by: list[str],
    partition_by: list[str] | None = None,
    out_col: str = "reconstructed",
    bucket: Column | None = None,
) -> DataFrame:
    """Prefix-sum reconstruction: first_value + running sum of deltas
    (reference cumsum+prepend, numpy_utils.py:258-260 and
    timebox.py:349-361). Null deltas (series heads) count as 0.
    ``bucket``: see ``delta_encode`` (shared-bounds composition)."""
    if not partition_by:
        # exact distributed prefix sum (bucketed carry) + the global
        # first value via a one-row agg broadcast — no unkeyed window
        ord_struct = F.struct(*[F.col(c) for c in order_by])
        fv = df.agg(F.min_by(F.col(first_value_col), ord_struct).alias("__fv"))
        if bucket is None:
            bucket = auto_bucket(df, order_by)
        d = bucketed_running_sum(df, order_by, delta_col, bucket, out_col="__rs")
        return (
            d.crossJoin(F.broadcast(fv))
            .withColumn(out_col, F.col("__fv") + F.col("__rs"))
            .drop("__fv", "__rs")
        )
    w = _w(order_by, partition_by).rowsBetween(Window.unboundedPreceding, 0)
    wf = _w(order_by, partition_by)
    return df.withColumn(
        out_col,
        F.first(first_value_col).over(wf)
        + F.sum(F.coalesce(F.col(delta_col), F.lit(0))).over(w),
    )


# ---------------------------------------------------------------- C1/C2

def quantize(col: Column | str, decimals: int) -> Column:
    """Lossy fixed-decimal quantize: round(x·10^d) as BIGINT
    (reference ``data *= 10**d; np.around(); astype(int64)``,
    timebox_tag.py:238-240, numpy_utils.py:266-275)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.pow(F.lit(10.0), F.lit(decimals))).cast("long")


def dequantize(col: Column | str, decimals: int) -> Column:
    """Inverse: x / 10^d as DOUBLE (timebox_tag.py:264-265)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c / F.pow(F.lit(10.0), F.lit(decimals))).cast("double")


# ---------------------------------------------------------------- C3

def float32_roundtrip_exact(col: Column | str) -> Column:
    """True where a double survives a float32 round trip bit-exactly.

    The reference inspects mantissa bytes + exponent range to downcast
    f64→f32→f16 only when lossless (numpy_utils.py:103-184). The
    Catalyst-native equivalent predicate: cast down, cast back, compare
    (NaN-safe via eqNullSafe on a NaN-normalized pair).
    """
    c = F.col(col) if isinstance(col, str) else col
    back = c.cast("float").cast("double")
    return (back == c) | (F.isnan(c) & F.isnan(back))


def float16_roundtrip_exact(col: Column | str) -> Column:
    """True where a double survives a float16 round trip bit-exactly —
    the second rung of the reference's downcast ladder
    (numpy_utils.py:159-184: f32→f16 when the low 13 mantissa bits are
    zero and the exponent fits).

    Spark/DuckDB have no half type, so representability is decided
    arithmetically: a finite x≠0 is an f16 value iff
      - |x| ≤ 65504 (f16 max), and
      - normal range (|x| ≥ 2⁻¹⁴): x·2^(10−⌊log2|x|⌋) is an integer
        (the 11-bit significand is exhausted), or
      - subnormal range: x·2²⁴ is an integer.
    Scaling by a power of two is exact in binary floating point, so the
    integer test is bit-reliable; ⌊log2⌋ can only wobble within 1e-12
    of a power of two, where no non-power-of-two f16 value lives (the
    nearest is 2⁻¹¹ away relative), and exact powers of two pass under
    either rounding. The same formula runs verbatim on the DuckDB
    oracle; tests pin it against numpy's float16 cast on golden vectors.
    """
    c = F.col(col) if isinstance(col, str) else col
    m = F.abs(c)
    scale = F.pow(F.lit(2.0), F.lit(10.0) - F.floor(F.log2(m)))
    scaled = c * scale
    sub = c * F.lit(2.0**24)
    return (
        F.when(F.isnan(c), F.lit(True))
        .when(m == 0.0, F.lit(True))
        .when(m == float("inf"), F.lit(True))  # ±inf casts to f16 ±inf
        .when(m > 65504.0, F.lit(False))
        .when(m >= F.lit(2.0**-14), scaled == F.floor(scaled))
        .otherwise(sub == F.floor(sub))
    )


def float16_roundtrip_exact_np(values) -> "object":
    """Ground-truth numpy check (np.float16 round trip) that tests pin
    the Column formula to."""
    import numpy as np

    arr = np.asarray(values, dtype=np.float64)
    # out-of-range values overflow to inf in the f16 probe — that IS
    # the "not exact" signal, so the RuntimeWarning is noise
    with np.errstate(over="ignore"):
        back = arr.astype(np.float16).astype(np.float64)
    return (back == arr) | (np.isnan(arr) & np.isnan(back))


# ---------------------------------------------------------------- scalable global lag

def bucketed_prev(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    bucket: Column,
    out_col: str = "prev_value",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Previous value in ``order_by`` order (globally, or per
    ``partition_by`` series), without the single-task window that
    ``Window.orderBy(...)`` with no partition key implies — and, with
    series keys, without serializing a huge series through one task.

    ``bucket`` must be monotone in the order keys (e.g. floor(id/N),
    or a time bucket of the leading ts). Plan: lag within each
    (series, bucket); bucket-head rows take the previous nonempty
    bucket's last value from a broadcast prefix over the (tiny)
    per-(series, bucket) summary. Identical results to a plain
    windowed lag.
    """
    keys = partition_by or []
    d = df.withColumn("__bkt", bucket)
    w_in = Window.partitionBy(*keys, "__bkt").orderBy(*order_by)
    d = d.withColumn(out_col, F.lag(value_col).over(w_in))

    ord_struct = F.struct(*[F.col(c) for c in order_by])
    summary = d.groupBy(*keys, "__bkt").agg(
        F.max_by(F.col(value_col), ord_struct).alias("__last_v")
    )
    wb = (
        Window.partitionBy(*keys).orderBy("__bkt")
        if keys
        else Window.orderBy("__bkt")
    ).rowsBetween(Window.unboundedPreceding, -1)
    prefix = summary.withColumn(
        "__prev_last", F.last("__last_v", ignorenulls=True).over(wb)
    ).select(*keys, "__bkt", "__prev_last")

    d = d.join(F.broadcast(prefix), [*keys, "__bkt"], "left")
    return d.withColumn(
        out_col, F.coalesce(F.col(out_col), F.col("__prev_last"))
    ).drop("__bkt", "__prev_last")


def bucketed_running_sum(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    bucket: Column,
    out_col: str = "running_sum",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Inclusive prefix sum in ``order_by`` order without an unkeyed
    window: cumulative sum within each (series, bucket) plus a
    broadcast prefix of per-bucket totals (nulls count 0). ``bucket``
    must be monotone in the order keys. Identical results to
    ``F.sum(...).over(Window.orderBy(...).rowsBetween(up, 0))``."""
    keys = partition_by or []
    d = df.withColumn("__bkt", bucket).withColumn(
        "__v0", F.coalesce(F.col(value_col), F.lit(0))
    )
    w_in = (
        Window.partitionBy(*keys, "__bkt")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn(out_col, F.sum("__v0").over(w_in))
    summary = d.groupBy(*keys, "__bkt").agg(F.sum("__v0").alias("__s"))
    wb = (
        Window.partitionBy(*keys).orderBy("__bkt")
        if keys
        else Window.orderBy("__bkt")
    ).rowsBetween(Window.unboundedPreceding, -1)
    prefix = summary.withColumn(
        "__pfx", F.coalesce(F.sum("__s").over(wb), F.lit(0))
    ).select(*keys, "__bkt", "__pfx")
    d = d.join(F.broadcast(prefix), [*keys, "__bkt"], "left")
    return d.withColumn(out_col, F.col(out_col) + F.col("__pfx")).drop(
        "__bkt", "__v0", "__pfx"
    )


AUTO_BUCKET_TARGET_ROWS = 100_000  # aim for ~100k rows per carry bucket
AUTO_BUCKET_MIN = 64
AUTO_BUCKET_MAX = 65_536


def derive_n_buckets(n_rows: int) -> int:
    """Bucket count for the unkeyed carry kernels: rows /
    ``AUTO_BUCKET_TARGET_ROWS`` clamped to [MIN, MAX], so per-bucket
    window tasks stay ~100k rows at any input size."""
    return max(
        AUTO_BUCKET_MIN,
        min(AUTO_BUCKET_MAX, n_rows // AUTO_BUCKET_TARGET_ROWS + 1),
    )


def auto_bucket(
    df: DataFrame, order_by: list[str], n_buckets: int | None = None
) -> Column:
    """Monotone bucket over the leading order column for the unkeyed
    bucketed-carry paths: floor((x − min) / width) from a one-row
    min/max agg. Works for numeric and timestamp leading keys;
    anything else must pass explicit series keys.

    ``n_buckets`` defaults to rows / ``AUTO_BUCKET_TARGET_ROWS``
    clamped to [``AUTO_BUCKET_MIN``, ``AUTO_BUCKET_MAX``] — derived
    from the count already collected in the same bounds agg, so the
    per-bucket window task stays ~100k rows whether the input is 10⁶
    or 10¹⁰ rows (a fixed 256 would push ~40M rows through single
    window tasks at 10¹⁰). Pass an explicit value to override.

    Each call pays one min/max/count scan of ``df`` — when composing
    several unkeyed kernels over the SAME input, call this once and
    pass the column via the kernels' ``bucket=`` parameter so the
    bounds agg is shared."""
    from pyspark.sql.types import NumericType, TimestampType

    lead = order_by[0]
    dtype = df.schema[lead].dataType if lead in df.columns else None
    if isinstance(dtype, TimestampType):
        c = F.unix_micros(F.col(lead)).cast("double")
    elif isinstance(dtype, NumericType):
        c = F.col(lead).cast("double")
    else:
        raise ValueError(
            f"cannot derive a distribution bucket from order column "
            f"{lead!r} (type {dtype}); pass partition_by= series keys "
            "for a keyed plan"
        )
    row = df.agg(
        F.min(c).alias("lo"), F.max(c).alias("hi"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if row["n"] == 0 or row["lo"] is None or row["hi"] == row["lo"]:
        return F.lit(0)
    if n_buckets is None:
        n_buckets = derive_n_buckets(row["n"])
    width = (row["hi"] - row["lo"]) / float(n_buckets)
    # NULL lead key → bucket −1: sorts before every real bucket, which
    # is the windowed twin's NULLS FIRST order. (A bare least(floor(
    # NULL), n−1) would skip the NULL and dump the row in the LAST
    # bucket; a NULL bucket would fall out of the carry kernels'
    # prefix equi-join.)
    return F.when(c.isNull(), F.lit(-1)).otherwise(
        F.least(
            F.floor((c - F.lit(row["lo"])) / F.lit(width)),
            F.lit(n_buckets - 1),
        )
    )


# ---------------------------------------------------------------- rolling

def rolling_agg(
    df: DataFrame,
    ts_col: str,
    aggs: dict,
    window_us: int,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Trailing time-range window: for each row, aggregate over rows of
    the same series within [ts − window, ts]. Uses a RANGE frame on
    unix_micros — evaluated in one pass per sorted partition (no
    self-join). The classic rolling mean/max the reference cannot
    express (SURVEY §2.7).

    ``partition_by`` is required: without it the RANGE frame is a
    single sorted task (the trailing frame needs contiguous history,
    so unlike plain lag it cannot be bucket-patched cheaply). Callers
    with a genuinely tiny pre-aggregated input can pass an explicit
    constant key, e.g. ``partition_by=[F.lit(0)]`` via a literal
    column name."""
    if not partition_by:
        raise ValueError(
            "rolling_agg requires partition_by: an unkeyed RANGE window "
            "serializes the whole input through one task; pass series "
            "keys, or an explicit constant column for tiny inputs"
        )
    w = Window.partitionBy(*partition_by).orderBy(F.unix_micros(F.col(ts_col)))
    w = w.rangeBetween(-window_us, 0)
    out = df
    for name, expr in aggs.items():
        out = out.withColumn(name, expr.over(w))
    return out


# ---------------------------------------------------------------- helpers

def _w(order_by: list[str], partition_by: list[str] | None) -> Window:
    w = Window.orderBy(*order_by)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return w
