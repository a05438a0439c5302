"""Reproduce bench's bloom_gate build_sec: bloom_build over the fps
tree exactly as _bloom_gate_stats does, decomposed."""
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F

from timebox_spark.operators import dedup as D
from timebox_spark.operators import sketches as SK
from timebox_spark.plans.tables import load as tables_load
from timebox_spark.session import get_spark
from timebox_spark.streaming.ingest import _fps_prunable_layout

spark = get_spark(app_name="r17-bloom-micro")
spark.range(1).count()

m_default = 1 << 24
docs = tables_load(spark, "/root/testdata/sf0.1", "documents")
corpus = docs.filter(F.col("doc_id") % 5 != 0)
tmp = tempfile.mkdtemp(prefix="r17_bloom_micro_")
try:
    fps_hex = D.corpus_fingerprints(corpus)
    t0 = time.perf_counter()
    _fps_prunable_layout(
        fps_hex.select(F.unhex("__fp").alias("__fp"))
    ).write.mode("overwrite").parquet(f"{tmp}/fps")
    print(f"fps_layout_write: {time.perf_counter()-t0:.3f}s", flush=True)
    fps = spark.read.parquet(f"{tmp}/fps")
    hexfps = fps.select(D._fp_hex("__fp").alias("__fp"))
    print("n_fps:", fps.count(), "n_files:", flush=True)

    for rep in range(3):
        t0 = time.perf_counter()
        SK.bloom_build(hexfps, "__fp", m_default, 5).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/bloom/cycle=0")
        print(f"bloom_build_write rep{rep}: {time.perf_counter()-t0:.3f}s",
              flush=True)
    # decompose: build plan to noop (no write), and the tree scan alone
    t0 = time.perf_counter()
    SK.bloom_build(hexfps, "__fp", m_default, 5).write.mode(
        "overwrite"
    ).format("noop").save()
    print(f"bloom_build_noop: {time.perf_counter()-t0:.3f}s", flush=True)
    t0 = time.perf_counter()
    fps.write.mode("overwrite").format("noop").save()
    print(f"fps_scan_noop: {time.perf_counter()-t0:.3f}s", flush=True)
finally:
    shutil.rmtree(tmp, ignore_errors=True)
