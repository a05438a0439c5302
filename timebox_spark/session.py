"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` but every default here is chosen to
also be correct on a large multi-executor cluster: AQE handles runtime
skew/coalesce, shuffle partitions default to the local core count (a
real cluster deployment overrides via ``TIMEBOX_SHUFFLE_PARTITIONS``),
timestamps are pinned to UTC (the reference stores datetime64[s] UTC,
/root/reference/timebox/timebox.py:75), and Arrow is enabled for every
pandas boundary crossing.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession

# SQL confs the engine requires regardless of who built the session
# (the driver may hand us a vanilla SparkSession). All runtime-settable.
RUNTIME_CONFS = {
    # testdata stores TIMESTAMP(NANOS); read as long ns (converted to
    # µs timestamps in timebox_spark.plans.tables.load)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # one timestamp type everywhere: TIMESTAMP with session tz = UTC
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # numpy kernels (minhash signatures, IVF assign, npb decode) want
    # large Arrow batches: per-batch Python/Arrow overhead amortizes
    # and vectorized loops run longer between transfers
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # parquet pushes In as row-group-prunable OR-of-Eq only below this
    # threshold; at/above it the pushed filter degrades to min/max —
    # useless on uniform keys (fingerprints, domain hashes). Raised
    # past dedup.FPS_PRUNE_ISIN_MAX so the gated exact-dedup's pruned
    # fps scan and the ≤64-value blocklist isin actually skip row
    # groups (measured round 15: 50 pushed values read 31% of a
    # sorted tree OR-expanded vs ~100% as a range). NOT higher: the
    # OR expansion is a recursive left-deep tree and StackOverflows
    # the scan task at ~1.5k terms (measured: 1024 OK, 1536 crashes).
    "spark.sql.parquet.pushdown.inFilterThreshold": "1000",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # non-settable on this build — best effort
            pass
    return spark


_SHIPPED = set()


def ship_package(spark: SparkSession) -> None:
    """Make ``timebox_spark`` importable on executors (mapInPandas /
    applyInPandas closures reference it by module). Zips the package
    and addPyFile's it — the same deployment path a real cluster uses;
    on local mode it also covers drivers launched from another cwd."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    digest = hashlib.sha1()
    for full in sorted(sources):
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zip_path = os.path.join("/tmp", f"timebox_spark_pkg_{digest.hexdigest()[:10]}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for full in sorted(sources):
                rel = os.path.join("timebox_spark", os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def ensure_parallelism(df: "DataFrame") -> "DataFrame":
    """Guard for compute-heavy stages (Arrow numpy kernels, wide regex
    projections): if the upstream scan produced fewer partitions than
    the cluster's default parallelism — the small-file case at test
    scale factors, where one parquet file = one task pins the whole
    kernel to a single core — hash-repartition up to full parallelism.

    At production scale a 100 TB scan already has orders of magnitude
    more partitions than cores, the guard is false, and this is a
    no-op: no extra shuffle is ever introduced on big inputs.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def get_spark(
    app_name: str = "timebox-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale posture: AQE on (runtime coalesce + skew-join splitting),
    128 MiB parquet split size, zstd parquet writes. None of these are
    local-mode hacks; they are the cluster defaults too.

    ``spark.sql.shuffle.partitions``: ``shuffle_partitions``, else
    ``TIMEBOX_SHUFFLE_PARTITIONS``, else ``defaultParallelism`` (the
    local core count in local mode); an ``extra_conf`` entry wins.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("TIMEBOX_SPARK_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("TIMEBOX_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in {**RUNTIME_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # the default width is the local core count, known only once the
    # context exists: streaming state never coalesces and keeps the
    # width its checkpoint was created with, so a wider default only
    # adds waves of empty state tasks to every micro-batch
    width = (
        (extra_conf or {}).get("spark.sql.shuffle.partitions")
        or shuffle_partitions
        or os.environ.get("TIMEBOX_SHUFFLE_PARTITIONS")
        or spark.sparkContext.defaultParallelism
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    spark.sparkContext.setLogLevel("WARN")
    return spark
