"""Declared correctness queries Q1–Q16 (SURVEY §5.3).

Each ``q*`` function builds the Spark plan through the engine API; the
matching entry in ``ORACLE_SQL`` is the ANSI-SQL DuckDB oracle the
driver runs side-by-side at sf0.01. Column names and exact result
types are aligned pairwise (floats are quantized to BIGINT before
hashing; sums of floats are quantized per-term so the result is an
order-independent integer sum).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timebox_spark.operators import kernels
from timebox_spark.operators.asof import asof_join
from timebox_spark.operators.timeunits import UNIT_US
from timebox_spark.plans.tables import load
from timebox_spark.table import TimeBoxTable


def _tmp(prefix: str, sf_dir: str = "") -> str:
    # deterministic per (query, sf_dir) and overwritten on rerun, so
    # repeated driver runs don't accumulate /tmp directories
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
    return f"/tmp/timebox_spark_{prefix}_{tag}"


def _q(col, decimals: int):
    return kernels.quantize(col, decimals)


# ------------------------------------------------------------------ Q1
# S1/S2 round trip: write events sorted by ts to Parquet, read back,
# digest. (reference write/read: /root/reference/timebox/timebox.py:102-159)

def q01_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    path = _tmp("q01", sf_dir)
    TimeBoxTable(events).save(path)
    rt = TimeBoxTable.load(spark, path)
    return rt.df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.sum(_q(F.col("value"), 6)).alias("value_q_sum"),
    )


# ------------------------------------------------------------------ Q2
# S8–S10 pandas bridge: Spark→pandas→Spark on the numeric projection of
# events; digest must equal the source. (timebox.py:38-100)

def q02_pandas_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    pdf = (
        TimeBoxTable(events.select("ts", "event_id", "user_id", "value"))
        .to_pandas()
    )
    back = TimeBoxTable.from_pandas(spark, pdf)
    return back.df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.sum("event_id").alias("event_id_sum"),
        F.sum("user_id").alias("user_id_sum"),
        F.sum(_q(F.col("value"), 6)).alias("value_q_sum"),
    )


# ------------------------------------------------------------------ Q3
# S11 CSV round trip on the first 1000 events by event_id.

def q03_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    head = events.orderBy("event_id").limit(1000).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = _tmp("q03", sf_dir)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    head.write.mode("overwrite").option("header", True).option(
        "timestampFormat", fmt
    ).csv(path)
    back = (
        spark.read.option("header", True)
        .option("timestampFormat", fmt)
        .schema(head.schema)
        .csv(path)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.sum("event_id").alias("event_id_sum"),
        F.countDistinct("event_type").alias("n_types"),
        F.sum(_q(F.col("value"), 6)).alias("value_q_sum"),
    )


# ------------------------------------------------------------------ Q4
# O1/O2 sort + monotonicity: violations in raw (event_id) order vs
# after sorting by ts. (reference check: timebox.py:370-374)

def q04_monotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    # global-order lags via bucketed_prev: no single-task window
    raw = kernels.bucketed_prev(
        events.select("event_id", "ts"),
        order_by=["event_id"],
        value_col="ts",
        bucket=F.floor(F.col("event_id") / F.lit(4096)),
        out_col="prev_raw",
    )
    flagged_raw = raw.agg(
        F.sum(F.when(F.col("ts") < F.col("prev_raw"), 1).otherwise(0)).alias(
            "n_violations_raw"
        )
    )
    srt = kernels.bucketed_prev(
        events.select("event_id", "ts"),
        order_by=["ts", "event_id"],
        value_col="ts",
        bucket=F.date_trunc("day", F.col("ts")),
        out_col="prev_sorted",
    )
    flagged_sorted = srt.agg(
        F.sum(F.when(F.col("ts") < F.col("prev_sorted"), 1).otherwise(0)).alias(
            "n_violations_sorted"
        )
    )
    return flagged_raw.crossJoin(flagged_sorted)


# ------------------------------------------------------------------ Q5
# O4/W5/C4 extremes (reference np.amin/np.amax, timebox.py:369,389-390)

def q05_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.agg(
        F.min("o_orderdate").alias("odate_min"),
        F.max("o_orderdate").alias("odate_max"),
        _q(F.min("o_totalprice"), 2).alias("price_min_q"),
        _q(F.max("o_totalprice"), 2).alias("price_max_q"),
    )


# ------------------------------------------------------------------ Q6
# W1/W2/W6 delta encode + prefix-sum reconstruction per event_type.

def q06_delta_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    d = kernels.delta_encode(
        events, "us", order_by=["ts", "event_id"], partition_by=["event_type"]
    )
    r = kernels.delta_decode(
        d,
        "us_delta",
        "us",
        order_by=["ts", "event_id"],
        partition_by=["event_type"],
        out_col="rec",
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("rec") == F.col("us"), 1).otherwise(0)).alias(
                "n_exact"
            ),
        )
    )


# ------------------------------------------------------------------ Q7
# W3/W4 frame-of-reference vs the global min, fully distributed
# (agg + broadcast join, not an empty-partition window).

def q07_frame_of_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    mins = li.agg(F.min("l_quantity").alias("__qty_min"))
    return li.crossJoin(F.broadcast(mins)).select(
        "l_orderkey",
        "l_linenumber",
        _q(F.col("l_quantity") - F.col("__qty_min"), 2).alias("qty_for_q"),
    )


# ------------------------------------------------------------------ Q8
# C1/C2 quantize + dequantize (timebox_tag.py:238-240, 264-265)

def q08_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    qcol = _q(F.col("l_extendedprice"), 2)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        qcol.alias("price_q"),
        kernels.dequantize(qcol, 2).alias("price_dq"),
    )


# ------------------------------------------------------------------ Q9
# C3 float downcast ladder f64→f32→f16 (numpy_utils.py:103-184)

def q09_float_downcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    f32 = kernels.float32_roundtrip_exact("l_discount")
    f16 = kernels.float16_roundtrip_exact("l_discount")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(f32, 1).otherwise(0)).alias("n_exact_f32"),
        F.sum(F.when(f16, 1).otherwise(0)).alias("n_exact_f16"),
    )


# ------------------------------------------------------------------ Q10
# D3/D4 coarsest exact time unit of deltas, for events and orders.

def _unit_ladder(df: DataFrame, ts_col: str, order_extra: str, label: str) -> DataFrame:
    us = F.unix_micros(F.col(ts_col))
    with_prev = kernels.bucketed_prev(
        df.select(F.col(ts_col), F.col(order_extra), us.alias("us")),
        order_by=[ts_col, order_extra],
        value_col="us",
        bucket=F.date_trunc("month", F.col(ts_col)),
        out_col="prev_us",
    )
    d = with_prev.select((F.col("us") - F.col("prev_us")).alias("delta")).filter(
        F.col("delta").isNotNull()
    )
    aggs = [
        F.max(F.when(F.col("delta") % F.lit(div) != 0, 1).otherwise(0)).alias(
            f"bad_{u}"
        )
        for u, div in UNIT_US.items()
    ] + [
        F.min("delta").alias("dmin"),
        F.max("delta").alias("dmax"),
        F.count(F.lit(1)).alias("n_deltas"),
    ]
    g = d.agg(*aggs)
    unit = F.when(F.col("bad_D") == 0, "D")
    for u in ["h", "m", "s", "ms"]:
        unit = unit.when(F.col(f"bad_{u}") == 0, u)
    unit = unit.otherwise("us")
    return g.select(
        F.lit(label).alias("series"),
        unit.alias("unit"),
        (F.col("dmin") == F.col("dmax")).alias("is_regular"),
        F.col("n_deltas"),
    )


def q10_time_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    a = _unit_ladder(events, "ts", "event_id", "events")
    b = _unit_ladder(orders, "o_orderdate", "o_orderkey", "orders")
    return a.unionByName(b)


# ------------------------------------------------------------------ Q11
# Filter + projection, TPC-H Q6 shape. Per-term quantization makes the
# aggregate an exact integer sum (order-independent across partitions).

def q11_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_q(F.col("l_extendedprice") * F.col("l_discount"), 2)).alias(
                "revenue_q"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ------------------------------------------------------------------ Q12
# Equi-join + agg + sort + limit, TPC-H Q3 shape. The customer dim is
# broadcast; orders⋈lineitem shuffles on orderkey.

def q12_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-06-01"
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "inner"
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                _q(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
            ).alias("revenue_q")
        )
        .orderBy(F.desc("revenue_q"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue_q", "o_orderdate", "o_orderpriority")
    )


# ------------------------------------------------------------------ Q13
# Group-by + having: orders per customer.

def q13_groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(_q(F.col("o_totalprice"), 2)).alias("total_q"),
        )
        .filter(F.col("n_orders") >= 5)
    )


# ------------------------------------------------------------------ Q14
# Window ranking: first order per customer.

def q14_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").alias("first_orderdate"),
        )
    )


# ------------------------------------------------------------------ Q15
# Time bucketing (tumbling window, batch analog).

def q15_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_q(F.col("value"), 3)).alias("value_q_sum"),
        )
    )


# ------------------------------------------------------------------ Q16
# As-of join (backward): for every click, the latest purchase value at
# or before it. Oracle is DuckDB's native ASOF JOIN. The right side is
# pre-aggregated per ts so ties are deterministic.

def q16_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "ts"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("ts")
        .agg(F.max("value").alias("pvalue"))
        .select("ts", "pvalue", F.col("ts").alias("purchase_ts"))
    )
    joined = asof_join(
        clicks, purchases, on="ts", value_cols=["pvalue", "purchase_ts"]
    )
    return joined.select(
        "event_id",
        _q(F.col("pvalue"), 6).alias("last_purchase_q"),
        F.col("purchase_ts").alias("last_purchase_ts"),
    )


# ------------------------------------------------------------------ Q16b
# As-of with a by-key: per user, the latest prior purchase.

def q16b_asof_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    joined = asof_join(
        clicks, purchases, on="ts", by=["user_id"], value_cols=["pvalue"]
    )
    return joined.select(
        "event_id",
        "user_id",
        _q(F.col("pvalue"), 6).alias("last_purchase_q"),
    )


# ------------------------------------------------------------------ Q17
# .npb interop round trip: events (seconds-truncated — the format
# stores a datetime64[s] start date) → bucketed .npb files via
# applyInPandas → distributed binaryFile+mapInPandas scan → digest.

def q17_npb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.sources import npb

    events = load(spark, sf_dir, "events").select(
        F.date_trunc("second", F.col("ts")).alias("ts"),
        "event_id",
        "user_id",
        "value",
    )
    path = _tmp("q17", sf_dir)
    npb.write_npb(events, path, bucket="1 day")
    back = npb.read_npb(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.sum("event_id").alias("event_id_sum"),
        F.sum(_q(F.col("value"), 6)).alias("value_q_sum"),
    )


# ------------------------------------------------------------------ Q18
# Resample + gap-fill: per event_type hourly grid over that type's own
# span; empty hours get n=0 and a forward-filled value sum.

def q18_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.operators.resample import gap_fill, resample

    events = load(spark, sf_dir, "events")
    hourly = resample(
        events,
        "1 hour",
        {
            "n": F.count(F.lit(1)),
            "vq": F.sum(_q(F.col("value"), 3)),
        },
        keys=["event_type"],
    )
    filled = gap_fill(
        hourly.withColumn("ts", F.col("bucket_ts")),
        "1 hour",
        value_cols=["vq"],
        keys=["event_type"],
        bucket_col="hr",
    )
    return filled.select(
        "event_type",
        F.col("hr"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        F.col("vq").alias("vq_filled"),
    )


# ------------------------------------------------------------------ Q19
# Sessionization: session windows with a 30-minute inactivity gap per
# user (batch analog of streaming session windows). Oracle is the
# classic gaps-and-islands SQL.

def q19_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    sessions = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )


# ------------------------------------------------------------------ Q32
# Grouping sets (ROLLUP) with grouping id.

def q32_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_q(F.col("l_quantity"), 2)).alias("qty_q"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


# ------------------------------------------------------------------ Q33
# Set operations: UNION / INTERSECT / EXCEPT over customer key sets.

def q33_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    a = (
        orders.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    ).distinct()
    n_union = a.union(b).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    n_inter = a.intersect(b).agg(F.count(F.lit(1)).alias("n_intersect"))
    n_exc = a.exceptAll(b).agg(F.count(F.lit(1)).alias("n_except"))
    return n_union.crossJoin(n_inter).crossJoin(n_exc)


# ------------------------------------------------------------------ Q34
# JSON property extraction from the events.props column.

def q34_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        F.max(k).alias("k_max"),
        F.sum(F.when(k > 50, 1).otherwise(0)).alias("n_gt50"),
    )


# ------------------------------------------------------------------ Q35
# Range (interval-containment) join: clicks landing inside each
# purchase's 2-hour follow-up window, per user. Bucketed equi-join
# plan via operators.asof.range_join.

def q35_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.operators.asof import range_join

    events = load(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("interval 2 hours")).alias("t1"),
    )
    joined = range_join(
        clicks, purchases, left_ts="ts", right_start="t0", right_end="t1",
        by=["user_id"], bucket="1 hour",
    )
    counts = joined.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_clicks")
    )
    return (
        purchases.select("purchase_id")
        .join(counts, "purchase_id", "left")
        .select(
            "purchase_id",
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
        )
    )


# ------------------------------------------------------------------ Q36
# SQL surface: TPC-H Q1 shape through the engine's SQL API — the same
# text runs on DuckDB as the oracle.

_Q36_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_q,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_q,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_q,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q36_sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.api import TimeBoxEngine

    engine = TimeBoxEngine(spark)
    engine.register("lineitem", load(spark, sf_dir, "lineitem"))
    return engine.sql(_Q36_SQL)


# ------------------------------------------------------------------ Q37
# Distinct counts + exact interpolated percentiles (the approximate
# variants — approx_count_distinct / percentile_approx — are pinned
# against these exact values in tests/test_sketches.py; their sketch
# internals differ engine-to-engine so they can't hash-match an
# oracle).

def q37_distinct_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return events.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        _q(F.percentile("value", 0.5), 6).alias("p50_q"),
        _q(F.percentile("value", 0.9), 6).alias("p90_q"),
    )


# ------------------------------------------------------------------ Q38
# Array functions over the embedding column: norms and head-slice
# means via zip_with/aggregate/slice (JVM array kernels).

def q38_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(e, e, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    head = F.aggregate(
        F.slice(e, 1, 8), F.lit(0.0), lambda acc, v: acc + v
    ) / F.lit(8.0)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        _q(F.sqrt(dot), 6).alias("norm_q"),
        _q(head, 6).alias("head_mean_q"),
    )


# ------------------------------------------------------------------ Q39
# Pivot: hourly event counts pivoted to one column per event type.

def q39_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "hour_ts",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


# ------------------------------------------------------------------ Q40
# Histogram / binning via width_bucket.

def q40_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.select(
            F.width_bucket(F.col("value"), F.lit(0.0), F.lit(500.0), F.lit(10)).alias(
                "bin"
            )
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ------------------------------------------------------------------ Q41
# Rolling (trailing 1-hour) per-series window aggregates — RANGE frame
# over event time, one sorted pass per series, no self-join.

def q41_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    rolled = kernels.rolling_agg(
        events,
        "ts",
        {
            "n_1h": F.count(F.lit(1)),
            "sum_q_1h": F.sum(_q(F.col("value"), 3)),
        },
        window_us=3_600_000_000,
        partition_by=["event_type"],
    )
    return rolled.select("event_id", "event_type", "n_1h", "sum_q_1h")


# ------------------------------------------------------------------ Q42
# Window-function suite: lead/lag offsets, ranks, ntile, cume_dist.

def q42_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lead("o_orderkey", 1).over(w).alias("next_orderkey"),
        F.lag("o_orderkey", 1).over(w).alias("prev_orderkey"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        _q(F.cume_dist().over(w), 6).alias("cume_q"),
    )


# ------------------------------------------------------------------ Q43
# String-function suite over customer names.

def q43_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_head"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("name_masked"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.levenshtein(F.lower("c_name"), F.lit("customer")).alias("lev_dist"),
    )


# ------------------------------------------------------------------ Q52
# Date/time-function suite over order dates: extraction, offsets,
# truncation, differences. All JVM built-ins, UTC everywhere.

def q52_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("mo"),
        F.dayofweek(d).alias("dow"),
        F.dayofyear(d).alias("doy"),
        F.date_add(d, 30).cast("string").alias("plus_30d"),
        F.trunc(d, "month").cast("string").alias("month_start"),
        F.last_day(d).cast("string").alias("month_end"),
        F.datediff(F.lit("2000-01-01").cast("date"), d).alias("days_to_y2k"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


# ------------------------------------------------------------------ Q53
# Conditional / null-handling suite: CASE, coalesce, nullif, least/
# greatest, null-safe equality over account balances.

def q53_conditional_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    bal_q = _q(bal, 2)
    return cust.select(
        "c_custkey",
        F.when(bal < 0, "debt")
        .when(bal < 5000, "low")
        .otherwise("high")
        .alias("tier"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_nb"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(bldg)")
        ).alias("seg_filled"),
        F.least(bal_q, F.lit(0).cast("long")).alias("neg_part_q"),
        F.greatest(bal_q, F.lit(0).cast("long")).alias("pos_part_q"),
        bal.eqNullSafe(F.lit(None).cast("double")).alias("is_null_nullsafe"),
        (F.abs(bal_q) % 97).alias("abs_mod_q"),
    )


# ------------------------------------------------------------------ Q45
# Semi / anti joins (EXISTS / NOT EXISTS shapes).

def q45_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    big_orders = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    with_big = cust.join(
        big_orders, cust.c_custkey == big_orders.o_custkey, "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_with_big"), F.sum("c_custkey").alias("key_sum_semi"))
    without_any = cust.join(
        orders.select("o_custkey"), cust.c_custkey == F.col("o_custkey"), "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_without_orders"), F.sum("c_custkey").alias("key_sum_anti"))
    return with_big.crossJoin(without_any)


# ------------------------------------------------------------------ Q46
# Map functions: build a per-user map<event_type, count>, then explode
# it back to rows — exercises map_from_entries / explode(map) with a
# deterministic relational result (map column order never hashed).

def q46_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    per = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    mapped = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("counts")
    )
    return mapped.select(
        "user_id",
        F.size(F.map_keys("counts")).alias("n_types"),
        F.explode("counts").alias("event_type", "n"),
    ).select("user_id", "event_type", "n", "n_types")


# ------------------------------------------------------------------ Q48
# CUBE grouping sets — all 4 subtotal combinations in one shuffle
# (Spark expands grouping sets map-side; no per-set re-scan).

def q48_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_q(F.col("l_extendedprice"), 2)).alias("price_q"),
        F.grouping_id().cast("int").alias("gid"),
    )


# ------------------------------------------------------------------ Q49
# Unpivot / melt: wide measure columns to (measure, value) rows —
# the inverse of q39's pivot. Narrow-at-scale: unpivot is a map-side
# explode, no shuffle; measures quantized so both engines emit BIGINT.

def q49_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        _q(F.col("l_quantity"), 2).alias("quantity_q"),
        _q(F.col("l_extendedprice"), 2).alias("extendedprice_q"),
        _q(F.col("l_discount"), 2).alias("discount_q"),
        _q(F.col("l_tax"), 2).alias("tax_q"),
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity_q", "extendedprice_q", "discount_q", "tax_q"],
        "measure",
        "v",
    )


# ------------------------------------------------------------------ Q50
# TPC-H Q5 shape: 6-way join region⋈nation⋈customer⋈orders⋈lineitem
# ⋈supplier with the local-supplier predicate. All dims broadcast;
# the only shuffles are orders⋈lineitem on orderkey and the final
# per-nation agg — the plan a 100 TB run needs.

def q50_tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(asia_nations), supp.s_nationkey == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum(
                _q(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
            ).alias("revenue_q"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select("n_name", "revenue_q", "n_rows")
    )


# ------------------------------------------------------------------ Q55
# Mergeable HLL distinct rollup: per-day sketches unioned to months
# without rescanning base data. DataSketches HLL estimates can't
# hash-match DuckDB's HLL, so the driver-checkable output is the exact
# per-month distinct count plus a within-±5% flag on the sketch
# estimate: the oracle asserts the flag is 1 and the exact count
# matches, which hash-verifies the sketch path end-to-end within its
# documented error bound (tests/test_sketches.py pins the bound too).

def q55_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.operators import sketches

    events = load(spark, sf_dir, "events")
    daily = sketches.daily_distinct_sketches(events, "user_id")
    approx = sketches.rollup_distinct(daily, "month")
    exact = events.groupBy(
        F.date_trunc("month", F.col("ts")).cast("date").alias("period")
    ).agg(F.countDistinct("user_id").alias("n_distinct_exact"))
    return (
        approx.join(exact, "period")
        .select(
            F.col("period").cast("timestamp").alias("period"),
            "n_distinct_exact",
            "n_rows",
            # bound = 12% ≈ 7.4σ for lg_k 12 (1.63% rse): deterministic
            # in practice for ANY data (a 3σ bound like 5% flakes ~0.2%
            # per period — a probabilistic property must not sit inside
            # an exact hash match), while still failing on real bugs
            # (unioned-sketch corruption, wrong lg_k, off-by-2× counts)
            (
                F.abs(F.col("n_distinct_approx") - F.col("n_distinct_exact"))
                <= 0.12 * F.col("n_distinct_exact")
            )
            .cast("long")
            .alias("within_bound"),
        )
    )


# ------------------------------------------------------------------ Q56
# Linear-interpolation gap fill: hourly value sums for rare high-value
# events (so the grid has real gaps), missing hours linearly
# interpolated between neighbors. The interpolation arithmetic is the
# literal expression `pv + (nv - pv) * ((t - pt) / (nt - pt))` in
# double on BOTH engines (inputs are exact BIGINTs), so the floors
# match bit-for-bit.

def q56_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.operators.resample import interpolate, resample

    events = load(spark, sf_dir, "events").filter(F.col("value") > 4.5)
    hourly = resample(
        events,
        "1 hour",
        {"vq": F.sum(_q(F.col("value"), 3))},
        keys=["event_type"],
    )
    interp = interpolate(
        hourly.withColumn("ts", F.col("bucket_ts")),
        "1 hour",
        value_cols=["vq"],
        keys=["event_type"],
        bucket_col="hr",
    )
    return interp.select(
        "event_type",
        "hr",
        F.floor(F.col("vq")).cast("long").alias("vq_interp"),
    )


# ------------------------------------------------------------------ Q57
# Cross-series correlation matrix: Pearson correlation between the
# hourly value sums of every event-type pair. Computed from exact
# integer co-moments (n, Sx, Sy, Sxx, Syy, Sxy as BIGINT sums) so the
# final double-precision corr is engine-deterministic — no reliance on
# either engine's streaming corr() summation order. The pair join runs
# on the bucket-level table (hours x types — tiny at any SF, broadcast).

def q57_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.operators.resample import resample

    events = load(spark, sf_dir, "events")
    hourly = resample(
        events,
        "1 hour",
        {"vq": F.sum(_q(F.col("value"), 3))},
        keys=["event_type"],
        bucket_col="hr",
    )
    a = hourly.select("hr", F.col("event_type").alias("ta"), F.col("vq").alias("x"))
    b = hourly.select("hr", F.col("event_type").alias("tb"), F.col("vq").alias("y"))
    pairs = a.join(F.broadcast(b), "hr").filter(F.col("ta") < F.col("tb"))
    mom = pairs.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = n * F.col("sxy").cast("double") - sx * sy
    den = F.sqrt(n * F.col("sxx").cast("double") - sx * sx) * F.sqrt(
        n * F.col("syy").cast("double") - sy * sy
    )
    return mom.select(
        "ta",
        "tb",
        "n",
        F.round(num / den * 1e6).cast("long").alias("corr_q"),
    )


# ------------------------------------------------------------------ Q58
# Z-score anomaly detection: per event_type, flag rows whose value is
# >3 sample standard deviations from that type's mean. Mean/std are
# derived from exact integer moments (sum, sum-of-squares of the
# quantized value), making the double z-scores engine-deterministic.
# One aggregate pass + a broadcast join of the per-type stats back onto
# the stream — no second shuffle of the fact table.

def q58_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events").select(
        "event_type", _q(F.col("value"), 3).alias("vq")
    )
    stats = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vq").alias("s"),
        F.sum(F.col("vq") * F.col("vq")).alias("ss"),
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    stats = stats.select(
        "event_type",
        "n",
        (s / n).alias("mean"),
        F.sqrt((ss - s * s / n) / (n - F.lit(1.0))).alias("std"),
    )
    z = F.abs((F.col("vq").cast("double") - F.col("mean")) / F.col("std"))
    return (
        events.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.when(F.col("z") > 3.0, 1).otherwise(0)).alias("n_anomalies"),
            F.round(F.max("z") * 1e6).cast("long").alias("z_max_q"),
        )
    )


# ------------------------------------------------------------------ Q59
# TPC-H Q3 shape: large-LARGE shuffle join (filtered orders x filtered
# lineitem on orderkey) under a broadcast customer-segment filter, then
# grouped revenue + global top-10. Complements q12/q50, which only
# exercise broadcast-dim joins: here both join sides are fact-sized.
# At bench SFs AQE still broadcasts the filtered orders side (right
# call — it fits); past the threshold the same declarative plan becomes
# a shuffle join on l_orderkey with AQE-coalesced partitions. Filters
# push to all three scans; the top-10 is TakeOrderedAndProject (per-
# partition heap + driver merge, no global sort). Revenue is
# quantized per-term; the top-10 ordering carries a full tiebreak so
# the LIMIT set is deterministic on both engines.

def q59_tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-06-01").cast("timestamp")
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select(
            "l_orderkey",
            _q(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 2).alias(
                "rev_q"
            ),
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("rev_q").alias("revenue_q"))
        .orderBy(F.desc("revenue_q"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ------------------------------------------------------------------ Q60
# Irregular-time EWMA digest: the exponentially-weighted average of
# each event_type's values at that type's last timestamp (adjust form,
# halflife 1h). Runs the pure-DataFrame ewma_at_end (one agg + one
# broadcast join, no Python); the DuckDB oracle is the same weighted
# sum. Distributed double summation order differs between engines by
# ~1 ulp, so the digest quantizes at 1e4 — far above that noise. The
# per-row applyInPandas `ewma` is cross-validated against this digest
# in tests/test_timeseries.py.

def q60_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.operators.timeseries import ewma_at_end

    events = load(spark, sf_dir, "events")
    r = ewma_at_end(events, "1 hour", keys=["event_type"])
    return r.select(
        "event_type",
        F.round(F.col("ewma_end") * 10000).cast("long").alias("ewma_q"),
        "n",
    )


# ------------------------------------------------------------------ Q61
# LTTB downsampling: each event_type's hourly series reduced to 24
# visually-representative points. The interior argmax choices have no
# SQL equivalent, but LTTB's contract DOES have oracle-checkable
# parts, which this digest pins: endpoint preservation (first/last
# point kept verbatim), output size min(n, 24), and the identity path
# (n_out >= n returns the series unchanged — checked via an exact
# value sum). The full kept-point set is pinned against a reference
# Python LTTB in tests/test_timeseries.py.

def q61_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.operators.resample import resample
    from timebox_spark.operators.timeseries import lttb

    events = load(spark, sf_dir, "events")
    hourly = resample(
        events,
        "1 hour",
        {"vq": F.sum(_q(F.col("value"), 3))},
        keys=["event_type"],
        bucket_col="hr",
    ).select("event_type", F.col("hr").alias("ts"), F.col("vq").alias("value"))
    down = (
        lttb(hourly, 24, keys=["event_type"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.unix_micros(F.min("ts")).alias("t0_us"),
            F.unix_micros(F.max("ts")).alias("t1_us"),
            F.min_by("value", "ts").alias("v_first"),
            F.max_by("value", "ts").alias("v_last"),
        )
    )
    ident = (
        lttb(hourly, 1_000_000, keys=["event_type"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_identity"),
            F.sum("value").alias("identity_vq_sum"),
        )
    )
    return down.join(ident, "event_type")


# ------------------------------------------------------------------ Q62
# Per-series linear trend: OLS slope/intercept of the quantized value
# against minutes-since-2024 per event_type, from exact integer
# co-moments (same engine-determinism argument as q57/q58: the sums
# are exact BIGINTs, the final double expressions are identical).
# Single agg pass, one shuffle on the series key.

_T0_US = 1704067200000000  # 2024-01-01T00:00:00Z in unix micros


def q62_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor((F.unix_micros("ts") - F.lit(_T0_US)) / F.lit(60000000.0)).alias("tm"),
        _q(F.col("value"), 3).alias("vq"),
    )
    mom = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("tm").alias("st"),
        F.sum("vq").alias("sv"),
        F.sum(F.col("tm") * F.col("tm")).alias("stt"),
        F.sum(F.col("tm") * F.col("vq")).alias("stv"),
    )
    n = F.col("n").cast("double")
    st = F.col("st").cast("double")
    sv = F.col("sv").cast("double")
    slope = (n * F.col("stv").cast("double") - st * sv) / (
        n * F.col("stt").cast("double") - st * st
    )
    intercept = (sv - slope * st) / n
    return mom.select(
        "event_type",
        "n",
        F.round(slope * 1e9).cast("long").alias("slope_q"),
        F.round(intercept * 1e6).cast("long").alias("intercept_q"),
    )


# ------------------------------------------------------------------ Q63
# Ordered funnel: users who signed up, then clicked strictly after
# their first signup, then purchased strictly after that first
# qualifying click. Three keyed aggs + two equi-joins on user_id (all
# shuffles on the same key — co-partitioned at scale); counts are
# exact integers, conversion rates derived from them.

def q63_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        t1.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(t2.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(t3.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )
    return counts.select(
        "n_signup",
        "n_click_after",
        "n_purchase_after",
        F.round(
            F.col("n_click_after").cast("double")
            / F.col("n_signup").cast("double")
            * 1e6
        )
        .cast("long")
        .alias("conv1_q"),
        F.round(
            F.col("n_purchase_after").cast("double")
            / F.col("n_click_after").cast("double")
            * 1e6
        )
        .cast("long")
        .alias("conv2_q"),
    )


# ------------------------------------------------------------------ Q64
# Cohort retention: users grouped by first-seen week; for each (cohort
# week, weeks-since-cohort) cell, how many distinct users were active.
# One agg for first-seen, a user_id-keyed join back (co-partitioned
# with the next agg's shuffle), then a distinct-count per cell. All
# integer arithmetic — deterministic across engines.

def q64_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        ev.join(first, "user_id")
        .withColumn(
            "week_offset",
            F.floor(
                (F.unix_micros(F.date_trunc("week", F.col("ts")))
                 - F.unix_micros(F.col("cohort_week")))
                / F.lit(604800000000.0)
            ).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# ------------------------------------------------------------------ oracles

_UNIT_LADDER_SQL = """
SELECT '{label}' AS series,
       CASE WHEN max(CASE WHEN delta % 86400000000 <> 0 THEN 1 ELSE 0 END) = 0 THEN 'D'
            WHEN max(CASE WHEN delta % 3600000000 <> 0 THEN 1 ELSE 0 END) = 0 THEN 'h'
            WHEN max(CASE WHEN delta % 60000000 <> 0 THEN 1 ELSE 0 END) = 0 THEN 'm'
            WHEN max(CASE WHEN delta % 1000000 <> 0 THEN 1 ELSE 0 END) = 0 THEN 's'
            WHEN max(CASE WHEN delta % 1000 <> 0 THEN 1 ELSE 0 END) = 0 THEN 'ms'
            ELSE 'us' END AS unit,
       min(delta) = max(delta) AS is_regular,
       CAST(count(*) AS BIGINT) AS n_deltas
FROM (
  SELECT epoch_us({ts}) - lag(epoch_us({ts})) OVER (ORDER BY {ts}, {id}) AS delta
  FROM {table}
) WHERE delta IS NOT NULL
"""

ORACLE_SQL: dict[str, str] = {
    "q01_roundtrip": """
        SELECT CAST(count(*) AS BIGINT) AS n_rows, min(ts) AS ts_min,
               max(ts) AS ts_max,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_q_sum
        FROM events
    """,
    "q02_pandas_bridge": """
        SELECT CAST(count(*) AS BIGINT) AS n_rows, min(ts) AS ts_min,
               max(ts) AS ts_max,
               CAST(sum(event_id) AS BIGINT) AS event_id_sum,
               CAST(sum(user_id) AS BIGINT) AS user_id_sum,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_q_sum
        FROM events
    """,
    "q03_csv_roundtrip": """
        SELECT CAST(count(*) AS BIGINT) AS n_rows, min(ts) AS ts_min,
               max(ts) AS ts_max,
               CAST(sum(event_id) AS BIGINT) AS event_id_sum,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_q_sum
        FROM (SELECT * FROM events ORDER BY event_id LIMIT 1000)
    """,
    "q04_monotonic": """
        SELECT CAST(sum(v_raw) AS BIGINT) AS n_violations_raw,
               CAST(sum(v_sorted) AS BIGINT) AS n_violations_sorted
        FROM (
          SELECT CASE WHEN ts < lag(ts) OVER (ORDER BY event_id) THEN 1 ELSE 0 END AS v_raw,
                 CASE WHEN ts < lag(ts) OVER (ORDER BY ts, event_id) THEN 1 ELSE 0 END AS v_sorted
          FROM events
        )
    """,
    "q05_extremes": """
        SELECT min(o_orderdate) AS odate_min, max(o_orderdate) AS odate_max,
               CAST(round(min(o_totalprice) * 100) AS BIGINT) AS price_min_q,
               CAST(round(max(o_totalprice) * 100) AS BIGINT) AS price_max_q
        FROM orders
    """,
    "q06_delta_reconstruct": """
        WITH b AS (
          SELECT event_type, event_id, ts, epoch_us(ts) AS us FROM events
        ), d AS (
          SELECT *, us - lag(us) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS delta
          FROM b
        ), r AS (
          SELECT *,
                 first_value(us) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                 + sum(COALESCE(delta, 0)) OVER (
                     PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rec
          FROM d
        )
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN rec = us THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
        FROM r GROUP BY event_type
    """,
    "q07_frame_of_reference": """
        SELECT l_orderkey, l_linenumber,
               CAST(round((l_quantity - (SELECT min(l_quantity) FROM lineitem)) * 100) AS BIGINT) AS qty_for_q
        FROM lineitem
    """,
    "q08_quantize": """
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_q,
               CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE) / 100.0 AS price_dq
        FROM lineitem
    """,
    "q09_float_downcast": """
        -- f16 representability by the same arithmetic formula as
        -- kernels.float16_roundtrip_exact (power-of-two scaling is
        -- exact; see the kernel docstring for the boundary argument)
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN CAST(CAST(l_discount AS FLOAT) AS DOUBLE) = l_discount
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_f32,
               CAST(sum(CASE
                 WHEN isnan(l_discount) THEN 1
                 WHEN abs(l_discount) = 0.0 THEN 1
                 WHEN isinf(l_discount) THEN 1
                 WHEN abs(l_discount) > 65504.0 THEN 0
                 WHEN abs(l_discount) >= 0.00006103515625
                   THEN CASE WHEN l_discount * pow(2.0, 10.0 - floor(log2(abs(l_discount))))
                             = floor(l_discount * pow(2.0, 10.0 - floor(log2(abs(l_discount)))))
                        THEN 1 ELSE 0 END
                 ELSE CASE WHEN l_discount * 16777216.0 = floor(l_discount * 16777216.0)
                      THEN 1 ELSE 0 END
               END) AS BIGINT) AS n_exact_f16
        FROM lineitem
    """,
    "q10_time_units": (
        _UNIT_LADDER_SQL.format(label="events", ts="ts", id="event_id", table="events")
        + " UNION ALL "
        + _UNIT_LADDER_SQL.format(
            label="orders", ts="o_orderdate", id="o_orderkey", table="orders"
        )
    ),
    "q11_filter_agg": """
        SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_q,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q12_join_topk": """
        SELECT l_orderkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_q,
               o_orderdate, o_orderpriority
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue_q DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    "q13_groupby_having": """
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_q
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey
        HAVING count(o_orderkey) >= 5
    """,
    "q14_window_rank": """
        SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
        FROM (
          SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders
        ) WHERE rn = 1
    """,
    "q15_time_bucket": """
        SELECT date_trunc('hour', ts) AS hour_ts, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_q_sum
        FROM events GROUP BY 1, 2
    """,
    "q16_asof": """
        WITH clicks AS (
          SELECT event_id, ts FROM events WHERE event_type = 'click'
        ), purchases AS (
          SELECT ts, max(value) AS pvalue FROM events
          WHERE event_type = 'purchase' GROUP BY ts
        )
        SELECT c.event_id,
               CAST(round(p.pvalue * 1000000) AS BIGINT) AS last_purchase_q,
               p.ts AS last_purchase_ts
        FROM clicks c ASOF LEFT JOIN purchases p ON c.ts >= p.ts
    """,
    "q17_npb_roundtrip": """
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               min(date_trunc('second', ts)) AS ts_min,
               max(date_trunc('second', ts)) AS ts_max,
               CAST(sum(event_id) AS BIGINT) AS event_id_sum,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_q_sum
        FROM events
    """,
    "q18_resample_gapfill": """
        WITH h AS (
          SELECT event_type, date_trunc('hour', ts) AS hr,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS vq
          FROM events GROUP BY 1, 2
        ), b AS (
          SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM h GROUP BY 1
        ), g AS (
          SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM b
        )
        SELECT g.event_type, g.hr, COALESCE(h.n, 0) AS n,
               last_value(h.vq IGNORE NULLS) OVER (
                 PARTITION BY g.event_type ORDER BY g.hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vq_filled
        FROM g LEFT JOIN h ON g.event_type = h.event_type AND g.hr = h.hr
    """,
    "q19_sessionize": """
        WITH d AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
          FROM events
        ), s AS (
          SELECT user_id,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM d
        ), per AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(n) AS BIGINT) AS n_events,
               CAST(max(n) AS BIGINT) AS max_session_events
        FROM per GROUP BY user_id
    """,
    "q32_rollup": """
        SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_q,
               CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "q33_setops": """
        WITH a AS (
          SELECT DISTINCT o_custkey AS k FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'
        ), b AS (
          SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        )
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM (SELECT k FROM a UNION SELECT k FROM b)) AS n_union,
          (SELECT CAST(count(*) AS BIGINT) FROM (SELECT k FROM a INTERSECT SELECT k FROM b)) AS n_intersect,
          (SELECT CAST(count(*) AS BIGINT) FROM (SELECT k FROM a EXCEPT SELECT k FROM b)) AS n_except
    """,
    "q34_json": """
        SELECT event_type,
               CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
               CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_max,
               CAST(sum(CASE WHEN CAST(props->>'k' AS BIGINT) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_gt50
        FROM events GROUP BY event_type
    """,
    "q35_range_join": """
        WITH p AS (
          SELECT event_id AS purchase_id, user_id, ts AS t0,
                 ts + INTERVAL 2 HOUR AS t1
          FROM events WHERE event_type = 'purchase'
        ), c AS (
          SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'
        )
        SELECT p.purchase_id,
               CAST(count(c.click_id) AS BIGINT) AS n_clicks
        FROM p LEFT JOIN c
          ON p.user_id = c.user_id AND c.ts >= p.t0 AND c.ts <= p.t1
        GROUP BY p.purchase_id
    """,
    "q36_sql_tpch_q1": _Q36_SQL,
    "q46_map_roundtrip": """
        WITH per AS (
          SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT user_id, event_type, n,
               CAST(count(*) OVER (PARTITION BY user_id) AS INTEGER) AS n_types
        FROM per
    """,
    "q45_semi_anti": """
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM customer c
           WHERE EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)) AS n_with_big,
          (SELECT CAST(sum(c_custkey) AS BIGINT) FROM customer c
           WHERE EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)) AS key_sum_semi,
          (SELECT CAST(count(*) AS BIGINT) FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_without_orders,
          (SELECT CAST(sum(c_custkey) AS BIGINT) FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS key_sum_anti
    """,
    "q42_window_suite": """
        SELECT o_custkey, o_orderkey,
               lead(o_orderkey, 1) OVER w AS next_orderkey,
               lag(o_orderkey, 1) OVER w AS prev_orderkey,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               CAST(round(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_q
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q43_string_suite": """
        SELECT c_custkey,
               upper(c_name) AS name_upper,
               CAST(length(c_name) AS INTEGER) AS name_len,
               substr(c_name, 1, 8) AS name_head,
               regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
               lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
               CAST(levenshtein(lower(c_name), 'customer') AS INTEGER) AS lev_dist
        FROM customer
    """,
    "q39_pivot": """
        SELECT date_trunc('hour', ts) AS hour_ts,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        FROM events GROUP BY 1
    """,
    "q40_histogram": """
        -- DuckDB 1.0 has no width_bucket; this is its exact formula
        -- for (0, 500, 10): bucket width 50 divides evenly so the
        -- double arithmetic matches Spark's width_bucket bit-for-bit
        SELECT CASE WHEN value < 0.0 THEN 0
                    WHEN value >= 500.0 THEN 11
                    ELSE CAST(floor(value / 50.0) + 1 AS BIGINT) END AS bin,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    """,
    "q41_rolling": """
        SELECT event_id, event_type,
               CAST(count(*) OVER w AS BIGINT) AS n_1h,
               CAST(sum(CAST(round(value * 1000) AS BIGINT)) OVER w AS BIGINT) AS sum_q_1h
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    "q37_distinct_percentiles": """
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(round(quantile_cont(value, 0.5) * 1000000) AS BIGINT) AS p50_q,
               CAST(round(quantile_cont(value, 0.9) * 1000000) AS BIGINT) AS p90_q
        FROM events
    """,
    "q38_array_ops": """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT vec_id, CAST(length(e) AS INTEGER) AS dim,
               CAST(round(sqrt(list_dot_product(e, e)) * 1000000) AS BIGINT) AS norm_q,
               CAST(round(list_sum(e[1:8]) / 8.0 * 1000000) AS BIGINT) AS head_mean_q
        FROM v
    """,
    "q52_date_suite": """
        SELECT o_orderkey,
               CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS yr,
               CAST(quarter(CAST(o_orderdate AS DATE)) AS INTEGER) AS qtr,
               CAST(month(CAST(o_orderdate AS DATE)) AS INTEGER) AS mo,
               CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
               CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS doy,
               strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus_30d,
               strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_start,
               strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INTEGER) AS days_to_y2k,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        FROM orders
    """,
    "q53_conditional_suite": """
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'debt'
                    WHEN c_acctbal < 5000 THEN 'low'
                    ELSE 'high' END AS tier,
               nullif(c_mktsegment, 'BUILDING') AS seg_nb,
               coalesce(nullif(c_mktsegment, 'BUILDING'), '(bldg)') AS seg_filled,
               least(CAST(round(c_acctbal * 100) AS BIGINT), 0) AS neg_part_q,
               greatest(CAST(round(c_acctbal * 100) AS BIGINT), 0) AS pos_part_q,
               (c_acctbal IS NOT DISTINCT FROM NULL) AS is_null_nullsafe,
               abs(CAST(round(c_acctbal * 100) AS BIGINT)) % 97 AS abs_mod_q
        FROM customer
    """,
    "q48_cube": """
        SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_q,
               CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    "q49_unpivot": """
        WITH w AS (
          SELECT l_orderkey, l_linenumber,
                 CAST(round(l_quantity * 100) AS BIGINT) AS quantity_q,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS extendedprice_q,
                 CAST(round(l_discount * 100) AS BIGINT) AS discount_q,
                 CAST(round(l_tax * 100) AS BIGINT) AS tax_q
          FROM lineitem
        )
        SELECT l_orderkey, l_linenumber, 'quantity_q' AS measure, quantity_q AS v FROM w
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'extendedprice_q', extendedprice_q FROM w
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount_q', discount_q FROM w
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax_q', tax_q FROM w
    """,
    "q50_tpch_q5_shape": """
        SELECT n_name,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_q,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "q16b_asof_by_user": """
        WITH clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), purchases AS (
          SELECT user_id, ts, max(value) AS pvalue FROM events
          WHERE event_type = 'purchase' GROUP BY user_id, ts
        )
        SELECT c.event_id, c.user_id,
               CAST(round(p.pvalue * 1000000) AS BIGINT) AS last_purchase_q
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    "q56_interpolate": """
        WITH h AS (
          SELECT event_type, date_trunc('hour', ts) AS hr,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS vq
          FROM events WHERE value > 4.5 GROUP BY 1, 2
        ), b AS (
          SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM h GROUP BY 1
        ), g AS (
          SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM b
        ), j AS (
          SELECT g.event_type, g.hr, h.vq,
                 CAST(epoch_us(g.hr) AS DOUBLE) AS t,
                 last_value(CAST(h.vq AS DOUBLE) IGNORE NULLS) OVER wp AS pv,
                 last_value(CASE WHEN h.vq IS NOT NULL
                   THEN CAST(epoch_us(g.hr) AS DOUBLE) END IGNORE NULLS) OVER wp AS pt,
                 first_value(CAST(h.vq AS DOUBLE) IGNORE NULLS) OVER wn AS nv,
                 first_value(CASE WHEN h.vq IS NOT NULL
                   THEN CAST(epoch_us(g.hr) AS DOUBLE) END IGNORE NULLS) OVER wn AS nt
          FROM g LEFT JOIN h ON g.event_type = h.event_type AND g.hr = h.hr
          WINDOW wp AS (PARTITION BY g.event_type ORDER BY g.hr
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wn AS (PARTITION BY g.event_type ORDER BY g.hr
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, hr,
               CAST(floor(CASE WHEN vq IS NOT NULL THEN CAST(vq AS DOUBLE)
                    ELSE pv + (nv - pv) * ((t - pt) / (nt - pt)) END) AS BIGINT) AS vq_interp
        FROM j
    """,
    "q57_corr_matrix": """
        WITH h AS (
          SELECT event_type, date_trunc('hour', ts) AS hr,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS vq
          FROM events GROUP BY 1, 2
        ), p AS (
          SELECT a.event_type AS ta, b.event_type AS tb, a.vq AS x, b.vq AS y
          FROM h a JOIN h b ON a.hr = b.hr AND a.event_type < b.event_type
        ), m AS (
          SELECT ta, tb, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM p GROUP BY 1, 2
        )
        SELECT ta, tb, n,
               CAST(round(
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1e6) AS BIGINT) AS corr_q
        FROM m
    """,
    "q59_tpch_q3_shape": """
        SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
               CAST(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100)
                    AS BIGINT)) AS BIGINT) AS revenue_q
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-06-01'
          AND l.l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue_q DESC, o.o_orderdate, l.l_orderkey
        LIMIT 10
    """,
    "q64_cohort_retention": """
        WITH f AS (
          SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
          FROM events GROUP BY 1
        )
        SELECT f.cohort_week,
               CAST(floor((epoch_us(date_trunc('week', e.ts))
                           - epoch_us(f.cohort_week)) / 604800000000.0)
                    AS BIGINT) AS week_offset,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        FROM events e JOIN f ON e.user_id = f.user_id
        GROUP BY 1, 2
    """,
    "q62_linear_trend": """
        WITH e AS (
          SELECT event_type,
                 CAST(floor((epoch_us(ts) - 1704067200000000) / 60000000.0) AS BIGINT) AS tm,
                 CAST(round(value * 1000) AS BIGINT) AS vq
          FROM events
        ), m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(tm) AS BIGINT) AS st, CAST(sum(vq) AS BIGINT) AS sv,
                 CAST(sum(tm * tm) AS BIGINT) AS stt,
                 CAST(sum(tm * vq) AS BIGINT) AS stv
          FROM e GROUP BY 1
        )
        SELECT event_type, n,
               CAST(round(
                 (CAST(n AS DOUBLE) * CAST(stv AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) * 1e9) AS BIGINT) AS slope_q,
               CAST(round(
                 (CAST(sv AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(stv AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                       - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                    * CAST(st AS DOUBLE))
                 / CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS intercept_q
        FROM m
    """,
    "q63_funnel": """
        WITH t1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'signup' GROUP BY 1
        ), t2 AS (
          SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN t1 ON e.user_id = t1.user_id
          WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1
        ), t3 AS (
          SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN t2 ON e.user_id = t2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
        )
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n_signup,
          (SELECT CAST(count(*) AS BIGINT) FROM t2) AS n_click_after,
          (SELECT CAST(count(*) AS BIGINT) FROM t3) AS n_purchase_after,
          CAST(round(CAST((SELECT count(*) FROM t2) AS DOUBLE)
               / CAST((SELECT count(*) FROM t1) AS DOUBLE) * 1e6) AS BIGINT) AS conv1_q,
          CAST(round(CAST((SELECT count(*) FROM t3) AS DOUBLE)
               / CAST((SELECT count(*) FROM t2) AS DOUBLE) * 1e6) AS BIGINT) AS conv2_q
    """,
    "q60_ewma": """
        WITH m AS (SELECT event_type, max(ts) AS tend FROM events GROUP BY 1)
        SELECT e.event_type,
               CAST(round(
                 sum(pow(0.5, (epoch_us(m.tend) - epoch_us(e.ts)) / 3600000000.0)
                     * e.value)
                 / sum(pow(0.5, (epoch_us(m.tend) - epoch_us(e.ts)) / 3600000000.0))
                 * 10000) AS BIGINT) AS ewma_q,
               CAST(count(*) AS BIGINT) AS n
        FROM events e JOIN m ON e.event_type = m.event_type
        GROUP BY e.event_type
    """,
    "q55_hll_rollup": """
        -- the oracle asserts the exact per-month distinct count AND
        -- that the engine's HLL estimate landed within a 12% (~7.4
        -- sigma at lg_k 12) bound — wide enough to be deterministic
        -- for any data, tight enough to catch real sketch bugs
        SELECT date_trunc('month', ts) AS period,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_exact,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(1 AS BIGINT) AS within_bound
        FROM events GROUP BY 1
    """,
    "q61_lttb_downsample": """
        WITH h AS (
          SELECT event_type, date_trunc('hour', ts) AS hr,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS vq
          FROM events GROUP BY 1, 2
        )
        SELECT event_type,
               CAST(least(24, count(*)) AS BIGINT) AS n_kept,
               epoch_us(min(hr)) AS t0_us,
               epoch_us(max(hr)) AS t1_us,
               CAST(arg_min(vq, hr) AS BIGINT) AS v_first,
               CAST(arg_max(vq, hr) AS BIGINT) AS v_last,
               CAST(count(*) AS BIGINT) AS n_identity,
               CAST(sum(vq) AS BIGINT) AS identity_vq_sum
        FROM h GROUP BY event_type
    """,
    "q58_anomaly_zscore": """
        WITH e AS (
          SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS vq FROM events
        ), st AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(vq) AS BIGINT) AS s,
                 CAST(sum(vq * vq) AS BIGINT) AS ss
          FROM e GROUP BY 1
        ), zc AS (
          SELECT e.event_type, st.n,
                 abs((CAST(e.vq AS DOUBLE)
                      - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                     / sqrt((CAST(st.ss AS DOUBLE)
                             - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE)
                               / CAST(st.n AS DOUBLE))
                            / (CAST(st.n AS DOUBLE) - 1.0))) AS z
          FROM e JOIN st ON e.event_type = st.event_type
        )
        SELECT event_type, max(n) AS n,
               CAST(sum(CASE WHEN z > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
               CAST(round(max(z) * 1e6) AS BIGINT) AS z_max_q
        FROM zc GROUP BY event_type
    """,
}
