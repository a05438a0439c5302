"""Streaming corpus-ingest walkthrough: the production loop for a
crawl that never stops, end to end on the engine's operators.

    raw docs (parquet stream) ──curate──▶ lang/quality/token gates
        ──ingest cycle──▶ exact + near-dup compaction vs DISK state
        (cycle-partitioned corpus/fps/index trees, consolidated
        every K cycles so the store never accumulates tiny files),
        each dropped copy recorded as a hit row beside the corpus

    plus: the signature-sized estimate-verify index tier, and ranged
    WARC reads (CDX-style member index -> single-member fetches, the
    object-store Common Crawl ingest shape).

Run: python examples/streaming_ingest.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timebox_spark.session import get_spark


def main() -> None:
    spark = get_spark(app_name="streaming-ingest-example")
    work = tempfile.mkdtemp(prefix="timebox_stream_example_")
    src = f"{work}/raw"
    store = f"{work}/store"

    # --- stage a "crawl": two arrivals, the second carrying an exact
    # dup, a near dup, and a gated (too-short) page
    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (10, base, t0),
        (11, other, t0 + dt.timedelta(seconds=1)),
        (20, base + " qq", t0 + dt.timedelta(seconds=2)),  # near dup of 10
        (21, other, t0 + dt.timedelta(seconds=3)),         # exact dup of 11
        (22, "too short", t0 + dt.timedelta(seconds=4)),   # gated
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.parquet(src)

    # --- the end-to-end entrypoint: curate -> per-micro-batch
    # compaction against the disk store, recording every drop as a
    # hit row; estimate-verify keeps the persisted index signature-sized
    from timebox_spark.streaming import ingest

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    q = ingest.curate_and_ingest_stream(
        stream,
        store,
        f"{work}/ckpt",
        min_quality_q=0,
        min_tokens=6,
        stream_near_dup=True,      # record each dropped copy as a hit
        index_verify="estimate",   # num_perm longs per doc, O(docs) index
        consolidate_every=8,       # bound the state trees' partitions
    ).start()
    q.awaitTermination()

    kept = spark.read.parquet(f"{store}/corpus")
    print("corpus after ingest:")
    kept.orderBy("doc_id").show(truncate=60)
    # one hit row per dropped doc, partitioned by micro-batch: a near
    # copy names its verified partner, an exact copy has est 1.0
    hits = spark.read.parquet(f"{store}/near_hits")
    print("ingest drops (doc, matched, similarity):")
    hits.select("doc_id", "matched_id", "est").orderBy("doc_id").show()

    # --- interchange: export the curated corpus as .warc.gz (one
    # gzip member per record), index it CDX-style, and fetch ONE
    # document back by byte range — at scale the range read is an
    # object-store ranged GET, never a full-shard download
    from timebox_spark.sources import warc

    warc_dir = f"{work}/warc"
    warc.write_warc(kept.select("doc_id", "text"), warc_dir, compress=True)
    idx = warc.index_warc_gz(spark, warc_dir)
    print("member index (path, offset, length, doc_id):")
    idx.orderBy("doc_id").show(truncate=40)
    one = idx.filter(idx.doc_id == 10).collect()
    got = warc.read_warc_ranges(
        spark, [(r["path"], r["offset"], r["length"]) for r in one]
    )
    print("single ranged read of doc 10:")
    got.show(truncate=60)

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
