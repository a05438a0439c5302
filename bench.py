"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "headline_total", "value": N, "unit": "sec",
   "queries": {"q11": sec, ...}, "sf": 0.1}

Execution is forced with the noop sink (full plan runs, nothing is
collected to the driver), matching how a cluster job would be bound.
Mirrors the reference harness shape (write/read timing,
/root/reference/performance_tests.py:8-116) via the q01 round-trip
entry, then covers each operator family: scan+agg, join, window,
as-of, time bucketing, text, dedup, similarity.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def _descendants_of(root_pid: int) -> set[int]:
    """All pids whose parent chain reaches root_pid (via /proc ppids)."""
    ppid: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                # field 4 of /proc/pid/stat is ppid; comm (field 2) may
                # contain spaces but is parenthesized — split after ')'
                ppid[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    out = {root_pid}
    changed = True
    while changed:
        changed = False
        for pid, par in ppid.items():
            if par in out and pid not in out:
                out.add(pid)
                changed = True
    return out


def _top_cpu_procs(
    mine: set[int], n: int = 5, interval: float = 0.4
) -> list[dict]:
    """Top-n processes by CPU% over a short sampling window, each
    tagged `ours` (descendant of this bench run) or foreign. This
    names the load source when load1 is high: four rounds of
    `contended: true` with zero foreign java/pyspark procs left the
    actual squatter invisible — a name/cpu% list settles it."""

    def snap() -> dict[int, tuple[str, int]]:
        out: dict[int, tuple[str, int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    raw = f.read()
                comm = raw[raw.index("(") + 1 : raw.rindex(")")]
                fields = raw.rsplit(")", 1)[1].split()
                # fields[11]/[12] are utime/stime (stat fields 14/15)
                out[int(p)] = (comm, int(fields[11]) + int(fields[12]))
            except (OSError, ValueError, IndexError):
                continue
        return out

    before = snap()
    time.sleep(interval)
    after = snap()
    hz = os.sysconf("SC_CLK_TCK") or 100
    rows = []
    for pid, (comm, ticks) in after.items():
        prev = before.get(pid, (comm, ticks))[1]  # new pid: delta 0
        pct = (ticks - prev) / hz / interval * 100.0
        if pct > 0.5:
            rows.append(
                {
                    "comm": comm,
                    "cpu_pct": round(pct, 1),
                    "ours": pid in mine,
                }
            )
    rows.sort(key=lambda r: -r["cpu_pct"])
    return rows[:n]


def machine_load() -> dict:
    """Machine-contention evidence for the bench JSON: loadavg, the
    number of java / spark-python processes NOT descended from this
    bench run, and the top-5 CPU processes by name/cpu% (tagged
    ours/foreign). A regression report without this is
    indistinguishable from a noisy-neighbor report (the round-5
    +38% across untouched queries)."""
    load1, load5, load15 = os.getloadavg()
    mine = _descendants_of(os.getpid())
    other_java = other_pyspark = 0
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) in mine:
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if not argv or not argv[0]:
            continue
        # classify by the EXECUTABLE (argv[0] basename), not the full
        # cmdline — arbitrary argv text (e.g. a prompt mentioning
        # "java") must not count as a JVM
        exe = os.path.basename(argv[0].decode(errors="replace")).lower()
        rest = b" ".join(argv[1:]).decode(errors="replace").lower()
        if exe.startswith("java"):
            other_java += 1
        elif exe.startswith("python") and (
            "spark" in rest or "daemon.py" in rest
        ):
            other_pyspark += 1
    return {
        "load1": round(load1, 2),
        "load5": round(load5, 2),
        "load15": round(load15, 2),
        "other_java_procs": other_java,
        "other_pyspark_procs": other_pyspark,
        "top_procs": _top_cpu_procs(mine),
        "cpus": os.cpu_count(),
    }


from timebox_spark.plans import llm_queries as LQ
from timebox_spark.plans import queries as Q
from timebox_spark.plans.tables import load as tables_load
from timebox_spark.session import get_spark

HEADLINE = {
    "q01_roundtrip": Q.q01_roundtrip,
    "q06_delta_reconstruct": Q.q06_delta_reconstruct,
    "q11_filter_agg": Q.q11_filter_agg,
    "q12_join_topk": Q.q12_join_topk,
    "q14_window_rank": Q.q14_window_rank,
    "q15_time_bucket": Q.q15_time_bucket,
    "q16_asof": Q.q16_asof,
    "q17_npb_roundtrip": Q.q17_npb_roundtrip,
    "q18_resample_gapfill": Q.q18_resample_gapfill,
    "q20_text_stats": LQ.q20_text_stats,
    "q25_minhash_dedup": LQ.q25_minhash_dedup,
    "q28_knn_bruteforce": LQ.q28_knn_bruteforce,
    "q35_range_join": Q.q35_range_join,
    "q47_ivf_ann": LQ.q47_ivf_ann,
    "q50_tpch_q5_shape": Q.q50_tpch_q5_shape,
    "q54_curation_pipeline": LQ.q54_curation_pipeline,
    "q59_tpch_q3_shape": Q.q59_tpch_q3_shape,
}


# The driver retains only the LAST 2,000 characters of bench stdout and
# parses the final JSON line out of that window; a tail line longer than
# the window loses its head — including "metric" and the per-query dict —
# and becomes unparseable (BENCH_r09/r14/r15/r16 all have parsed: null).
# Budget the line below the window with headroom for the newline and any
# same-window residue of the preceding detail line's tail.
TAIL_LINE_BYTES = 1900


def fit_tail_line(
    essentials: dict, diagnostics: list, limit: int = TAIL_LINE_BYTES
) -> dict:
    """Return essentials plus as many (key, value) diagnostics — in the
    given priority order — as keep the serialized line within `limit`.
    Essentials (the driver-contract fields, incl. the full per-query
    medians) are never dropped; every diagnostic also lives, untrimmed,
    on the preceding detail line."""
    out = dict(essentials)
    for key, val in diagnostics:
        trial = dict(out)
        trial[key] = val
        if len(json.dumps(trial)) <= limit:
            out[key] = val
    return out


def _index_tier_fidelity(
    spark,
    sf_dir: str,
    threshold: float = 0.35,
    num_perm: int = 32,
    bands: int = 8,
) -> dict:
    """Round-12 verdict task 3: MEASURE what the estimate-verify index
    tier costs in decision fidelity before picking the production
    default. Over the documents table's own LSH band candidates (the
    exact pair population the streaming compactor verifies), compare
    pass/fail decisions at ``threshold`` for three verifiers: exact
    hashed-shingle Jaccard (the authority), RAW signature agreement,
    and the shipped DEBIASED agreement (one fully-agreeing band
    excluded — a candidate exists because one band collided, so raw
    agreement is conditioned upward):

    - false_drop (fd): estimate >= t but exact < t — the tier drops a
      doc exact keeps;
    - false_keep (fk): estimate < t but exact >= t — a true near-dup
      let through.

    Published in the bench tail line so the tier decision in SCALE.md
    is backed by numbers at the driver's own scale."""
    from pyspark.sql import functions as F

    from timebox_spark.operators import dedup as D

    docs = tables_load(spark, sf_dir, "documents")
    banded, sh = D.build_corpus_index(
        docs, num_perm=num_perm, bands=bands, verify="exact"
    )
    _, sig = D.build_corpus_index(
        docs, num_perm=num_perm, bands=bands, verify="estimate"
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a").cast("double") + F.size("sh_b").cast("double") - inter
    # raw agreement for the raw_* columns; the debiased estimator is
    # the SHIPPED one (dedup.debiased_agreement), not a local copy —
    # these published numbers must measure exactly what
    # compact_corpus(verify='estimate') runs
    eq = F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int"))
    agree = F.aggregate(eq, F.lit(0), lambda a, x: a + x).cast("double")
    adj_agree, adj_n = D.debiased_agreement("sig_a", "sig_b", num_perm, bands)
    adj = adj_agree / adj_n
    joined = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
        .join(sig.select(F.col("doc_id").alias("id_a"), F.col("__sig").alias("sig_a")), "id_a")
        .join(sig.select(F.col("doc_id").alias("id_b"), F.col("__sig").alias("sig_b")), "id_b")
        .select(
            (inter / union >= threshold).alias("exact_pass"),
            (agree / F.lit(float(num_perm)) >= threshold).alias("raw_pass"),
            (adj >= threshold).alias("adj_pass"),
        )
    )
    row = joined.agg(
        F.count(F.lit(1)).alias("cand"),
        F.sum(F.col("exact_pass").cast("long")).alias("exact"),
        F.sum(F.col("raw_pass").cast("long")).alias("raw"),
        F.sum(F.col("adj_pass").cast("long")).alias("adj"),
        F.sum((F.col("raw_pass") & ~F.col("exact_pass")).cast("long")).alias("raw_fd"),
        F.sum((~F.col("raw_pass") & F.col("exact_pass")).cast("long")).alias("raw_fk"),
        F.sum((F.col("adj_pass") & ~F.col("exact_pass")).cast("long")).alias("adj_fd"),
        F.sum((~F.col("adj_pass") & F.col("exact_pass")).cast("long")).alias("adj_fk"),
    ).collect()[0]
    return {
        "candidates": row["cand"],
        "exact_pass": row["exact"],
        "raw_pass": row["raw"],
        "raw_fd": row["raw_fd"],
        "raw_fk": row["raw_fk"],
        "adj_pass": row["adj"],
        "adj_fd": row["adj_fd"],
        "adj_fk": row["adj_fk"],
        "threshold": threshold,
    }


def _bloom_gate_stats(spark, sf_dir: str, k: int = 5) -> dict:
    """Round-14 verdict task 2: the numbers behind the streaming
    entrypoint's Bloom pre-gate DEFAULT (on, m = 2^24). Measures, at
    the driver's scale, over an 80/20 corpus/batch split of the
    documents table:

    - build_sec / merge_sec: per-cycle sketch maintenance at the
      default m (bloom_build of the corpus fps persisted like the
      store tree; bloom_merge of two per-cycle halves — the read-time
      op every gated cycle pays);
    - fpr_default_m / fpr_sized_10bpd: REALIZED false-positive rate
      over fingerprints provably absent from the corpus (exact
      anti-join), at the default m (expected ~0 — the default is
      deliberately oversized at this sf) and at a 10-bits/doc
      right-sized sketch (the design-rate behavior a full-size corpus
      would see);
    - gated_sec / ungated_sec: one incremental_exact_dedup cycle with
      and without the gate (same fps table, noop sink) — the round-15
      PRUNED gated plan (fps stored sorted 16-byte binary, the
      production run_ingest_cycle layout; the maybe set pushed into
      the scan) vs the plain fps anti-join;
    - the 10× block (round-15 verdict task 1's done-criterion): the
      same cycle against a 10×-salted fps tree, BOTH trees written at
      a fixed 64 KiB row-group size (holding row-group size constant
      while the tree grows is exactly the production invariant — a
      real store's groups are a fixed 128 MiB at any corpus size).
      `gated_fps_rows_1x/10x` are the fps scan's numOutputRows in the
      gated plan: pruning makes them O(maybe-set × row-group), so
      they must stay ~FLAT while `tree_rows_10x` is 10× — wall
      seconds at this sf are sketch-overhead-dominated and published
      for honesty, not as the scaling evidence."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from timebox_spark.operators import dedup as D
    from timebox_spark.operators import sketches as SK
    from timebox_spark.streaming.ingest import _fps_prunable_layout

    m_default = 1 << 24  # curate_and_ingest_stream's default
    docs = tables_load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    tmp = tempfile.mkdtemp(prefix="timebox_bench_bloom_")
    out: dict = {"m_default": m_default, "k": k}
    try:
        _fps_prunable_layout(
            D.corpus_fingerprints(corpus).select(F.unhex("__fp").alias("__fp"))
        ).write.mode("overwrite").parquet(f"{tmp}/fps")
        fps = spark.read.parquet(f"{tmp}/fps")
        hexfps = fps.select(D._fp_hex("__fp").alias("__fp"))
        n_corpus = fps.distinct().count()
        out["n_corpus_fps"] = n_corpus

        t0 = time.perf_counter()
        # the sketch ALWAYS hashes the hex form (what batches probe
        # with), independent of the tree's binary storage
        SK.bloom_build(hexfps, "__fp", m_default, k).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/bloom/cycle=0")
        out["build_sec"] = round(time.perf_counter() - t0, 3)

        # merge cost: two per-cycle sketches OR-folded at read time
        halves = [
            hexfps.filter(F.pmod(F.xxhash64("__fp"), F.lit(2)) == i)
            for i in (0, 1)
        ]
        for i, h in enumerate(halves):
            SK.bloom_build(h, "__fp", m_default, k).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/bloom2/cycle={i}")
        t0 = time.perf_counter()
        merged = SK.bloom_merge(spark.read.parquet(f"{tmp}/bloom2"))
        merged.write.mode("overwrite").format("noop").save()
        out["merge_sec"] = round(time.perf_counter() - t0, 3)

        # realized fpr over provably-novel fingerprints
        novel = (
            D.corpus_fingerprints(batch)
            .distinct()
            .join(hexfps, "__fp", "left_anti")
        )
        out["n_probe"] = novel.count()

        def fpr(sketch, m) -> float:
            row = (
                SK.bloom_probe(novel, "__fp", "__fp", sketch, m, k)
                .agg(
                    F.avg(F.col("maybe_present").cast("double")).alias("r")
                )
                .collect()[0]
            )
            return round(float(row["r"] or 0.0), 5)

        out["fpr_default_m"] = fpr(
            spark.read.parquet(f"{tmp}/bloom/cycle=0"), m_default
        )
        m10 = 1 << max(4, (10 * max(n_corpus, 1) - 1).bit_length())
        SK.bloom_build(hexfps, "__fp", m10, k).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/bloom10")
        out["m_sized_10bpd"] = m10
        out["fpr_sized_10bpd"] = fpr(spark.read.parquet(f"{tmp}/bloom10"), m10)

        sketch = spark.read.parquet(f"{tmp}/bloom/cycle=0")
        t0 = time.perf_counter()
        D.incremental_exact_dedup(
            batch,
            corpus,
            corpus_fps=fps,
            corpus_bloom=sketch,
            bloom_m=m_default,
            bloom_k=k,
        ).write.mode("overwrite").format("noop").save()
        out["gated_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        D.incremental_exact_dedup(
            batch, corpus, corpus_fps=fps
        ).write.mode("overwrite").format("noop").save()
        out["ungated_sec"] = round(time.perf_counter() - t0, 3)

        # 10× fps scaling (round-15 task 1 done-criterion): salt the
        # corpus fps 9 extra ways (md5-of-md5 — never collides with a
        # real batch fingerprint); both trees at a FIXED 64 KiB
        # row-group size; compare the gated plan's fps-scan
        # numOutputRows at 1× and 10× (flat = pruned)
        hex10 = hexfps
        for i in range(1, 10):
            hex10 = hex10.unionByName(
                hexfps.select(
                    F.md5(F.concat(F.col("__fp"), F.lit(f"|{i}"))).alias(
                        "__fp"
                    )
                )
            )
        for name, src in (("fps1x", hexfps), ("fps10x", hex10)):
            _fps_prunable_layout(
                src.select(F.unhex("__fp").alias("__fp"))
            ).write.mode("overwrite").option(
                "parquet.block.size", 65536
            ).parquet(f"{tmp}/{name}")
        fps1x = spark.read.parquet(f"{tmp}/fps1x")
        fps10 = spark.read.parquet(f"{tmp}/fps10x")
        out["tree_rows_10x"] = fps10.count()
        SK.bloom_build(
            fps10.select(D._fp_hex("__fp").alias("__fp")), "__fp", m_default, k
        ).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/bloom10x")
        sketch10 = spark.read.parquet(f"{tmp}/bloom10x")
        sketch1 = spark.read.parquet(f"{tmp}/bloom/cycle=0")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            for tag, tree, sk_df in (
                ("1x", fps1x, sketch1),
                ("10x", fps10, sketch10),
            ):
                # MEDIAN of 3 (round 16): the r15 single-shot numbers
                # showed gated_sec growing 1.485 → 1.738 at 10× despite
                # flat fps-scan rows; repetition shows per-run spread
                # (~0.8–2.4 s) larger than that delta — the phase
                # decomposition below pins the scale-variant terms
                g_secs = []
                res = None
                for _ in range(3):
                    t0 = time.perf_counter()
                    res = D.incremental_exact_dedup(
                        batch, corpus, corpus_fps=tree,
                        corpus_bloom=sk_df, bloom_m=m_default, bloom_k=k,
                    )
                    res.collect()
                    g_secs.append(time.perf_counter() - t0)
                out[f"gated_sec_{tag}"] = round(sorted(g_secs)[1], 3)
                out[f"gated_fps_rows_{tag}"] = _fps_scan_output_rows(
                    res, f"{tmp}/fps{tag}"
                )
                # phase decomposition: (a) the batch-side probe +
                # maybe-set collect — batch md5 + sketch join, NO
                # corpus-size term, the dominant cost; (b) the pruned
                # fps scan alone — the only tree-size-touching term
                p_secs, s_secs = [], []
                for _ in range(3):
                    t0 = time.perf_counter()
                    probe = SK.bloom_probe(
                        D.corpus_fingerprints(batch).filter(
                            F.col("__fp").isNotNull()
                        ).distinct(),
                        "__fp", "__fp", sk_df, m_default, k,
                    )
                    maybe_vals = [
                        r["__fp"]
                        for r in probe.filter(F.col("maybe_present"))
                        .select("__fp")
                        .limit(513)
                        .collect()
                    ]
                    p_secs.append(time.perf_counter() - t0)
                    bvals = [bytes.fromhex(v) for v in maybe_vals]
                    t0 = time.perf_counter()
                    if bvals:
                        tree.filter(F.col("__fp").isin(bvals)).collect()
                    s_secs.append(time.perf_counter() - t0)
                out[f"probe_phase_sec_{tag}"] = round(sorted(p_secs)[1], 3)
                out[f"fps_scan_only_sec_{tag}"] = round(
                    sorted(s_secs)[1], 3
                )
                t0 = time.perf_counter()
                D.incremental_exact_dedup(
                    batch, corpus, corpus_fps=tree
                ).write.mode("overwrite").format("noop").save()
                out[f"ungated_sec_{tag}"] = round(
                    time.perf_counter() - t0, 3
                )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# repeats of the fixed-work streaming drain in _ingest_loop_stats
# (round 18, r17 verdict task 3): 3 is the minimum that yields a
# median robust to one host burst; each drain is ~40-100 s at sf0.1,
# so this bounds the added bench time to ~2-3 minutes
N_STREAM_DRAINS = 3


def _ingest_loop_stats(spark, sf_dir: str, n_cycles: int = 3) -> dict:
    """Round-16 verdict task 4: the END-TO-END production ingest loop
    — N cycles of ``run_ingest_cycle`` with every feature on (near-dup
    index, exact-dedup Bloom gate, band-key Bloom gate, cms stats +
    cap_max budget, consolidation mid-run, keep='chain') — measured
    per cycle at a 1× (real documents) and 10× (synthetic-distinct)
    seeded corpus, each cycle decomposed via the operator's
    ``timings`` hook (state reads/gates, compact+corpus write,
    fps/sketch writes, index writes, consolidate, count). Batches
    plant exact AND near copies of seed docs so every dedup path does
    real work. The Bloom probes are force-enabled
    (GATE_MIN_TREE_BYTES → 0 for the run) because every tree at this
    sf is under the production auto-disable bound — same convention
    as the bloom_gate block. Plus one end-to-end STREAMING drain
    (curate → per-micro-batch ingest recording its drops as hit rows,
    one batch per staged file) in ONE query: ``detector_sec`` stays
    in the record as 0 (``IngestDrain.drain_secs``'s detector slot)
    so the tail line keeps its shape."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from timebox_spark.streaming import ingest as ING

    docs = tables_load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    n_docs = docs.count()
    slices = n_cycles + 1
    seed1x = docs.filter(F.col("doc_id") % slices == 0)

    def batch(i: int):
        b = docs.filter(F.col("doc_id") % slices == i)
        seeds = seed1x
        exact = seeds.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 1_000_000 * i).alias("doc_id"),
            "text",
            "source",
        )
        near = seeds.filter(F.col("doc_id") % 20 == slices).select(
            (F.col("doc_id") + 2_000_000 * i).alias("doc_id"),
            F.concat("text", F.lit(f" bench loop near {i}")).alias("text"),
            "source",
        )
        return b.unionByName(exact).unionByName(near)

    # 10× synthetic seed: DISTINCT texts — salted near-copies would
    # just collapse at seed time; the point is state TREES 10× larger
    # (fps rows = docs, banded rows = docs × bands, sets rows = docs),
    # so texts are SHORT (12 words of 8 high-entropy chars ≈ 100
    # shingles/doc — long texts only inflate the seed's one-off
    # shingling cost without growing the trees)
    synth10 = spark.range(10 * n_docs).select(
        (F.col("id") + 50_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(12)),
                lambda j: F.substring(
                    F.md5(
                        F.concat(
                            F.col("id").cast("string"), F.lit("|"),
                            j.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
            ),
        ).alias("text"),
        F.concat(F.lit("s"), (F.col("id") % 20).cast("string")).alias(
            "source"
        ),
    )

    kw = dict(
        near_dup=True,
        threshold=0.35,
        bloom_m=1 << 24,
        band_bloom_m=1 << 26,
        cms_col="source",
        cap_max=100_000,
        consolidate_every=2,  # fires once, at cycle 2 — decomposed
        keep="chain",
    )

    def run_cycles(seed_df, label: str) -> dict:
        work = tempfile.mkdtemp(prefix=f"timebox_bench_iloop_{label}_")
        store = f"{work}/store"
        res: dict = {"label": label}
        try:
            t0 = time.perf_counter()
            ING.run_ingest_cycle(seed_df, store, 0, **kw)
            res["seed_sec"] = round(time.perf_counter() - t0, 3)
            res["seed_docs"] = seed_df.count()
            cyc_rows = []
            for i in range(1, n_cycles + 1):
                b = batch(i)
                n_in = b.count()
                tm: dict = {}
                t0 = time.perf_counter()
                kept = ING.run_ingest_cycle(b, store, i, timings=tm, **kw)
                sec = time.perf_counter() - t0
                cyc_rows.append(
                    {
                        "cycle": i,
                        "sec": round(sec, 3),
                        "docs_in": n_in,
                        "kept": kept,
                        "docs_per_sec": round(n_in / max(sec, 1e-9), 1),
                        **{f"stage_{k}": v for k, v in tm.items()},
                    }
                )
            res["cycles"] = cyc_rows
            res["cycle_sec_total"] = round(
                sum(c["sec"] for c in cyc_rows), 3
            )
            res["docs_per_sec"] = round(
                sum(c["docs_in"] for c in cyc_rows)
                / max(sum(c["sec"] for c in cyc_rows), 1e-9),
                1,
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return res

    out: dict = {}
    saved_gate_min = ING.GATE_MIN_TREE_BYTES
    ING.GATE_MIN_TREE_BYTES = 0
    try:
        out["1x"] = run_cycles(seed1x, "1x")
        out["10x"] = run_cycles(synth10, "10x")
    finally:
        ING.GATE_MIN_TREE_BYTES = saved_gate_min
    out["cycle_ratio_10x"] = round(
        out["10x"]["cycle_sec_total"]
        / max(out["1x"]["cycle_sec_total"], 1e-9),
        2,
    )

    # streaming end to end: curate → ingest (hit rows written by the
    # cycles), one staged file per micro-batch.
    # Round 18 (r17 verdict task 3): single-drain totals swing 2-3×
    # run to run, so the SAME fixed-work drain is repeated
    # N_STREAM_DRAINS times on a fresh store/checkpoint and the
    # per-half MEDIANS are reported as ADDITIVE keys (*_med,
    # n_drains) — the original keys keep the FIRST drain's values
    # under the unchanged single-drain methodology, so they stay
    # comparable with every earlier round.
    drains: list[dict] = []
    n_in = None
    for rep in range(N_STREAM_DRAINS):
        work = tempfile.mkdtemp(
            prefix=f"timebox_bench_iloop_stream{rep}_"
        )
        try:
            src = f"{work}/src"
            for i in range(1, n_cycles + 1):
                # one-third sample: the batch loop above is the
                # scaling evidence; this drain just prices the chain
                batch(i).filter(F.col("doc_id") % 3 == 0).withColumn(
                    "ts",
                    F.timestamp_seconds(
                        F.lit(1704067200) + F.col("doc_id") % 3600
                    ),
                ).coalesce(1).write.mode("append").parquet(src)
            stream = (
                spark.readStream.schema(
                    "doc_id long, text string, source string, ts timestamp"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            drain = ING.curate_and_ingest_stream(
                stream,
                f"{work}/store",
                f"{work}/ckpt",
                min_quality_q=0,
                min_tokens=1,
                stream_near_dup=True,
                index_verify="estimate",
                consolidate_every=8,
                cms_col="source",
            )
            n_in = spark.read.parquet(src).count()
            t0 = time.perf_counter()
            drain.start().awaitTermination()
            total = time.perf_counter() - t0
            rec = {
                "total_sec": round(total, 3),
                "docs_per_sec": round(n_in / max(total, 1e-9), 1),
            }
            rec["detector_sec"], rec["ingest_sec"] = drain.drain_secs
            drains.append(rec)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    stream_out = {"docs_in": n_in, **drains[0]}
    if len(drains) > 1:
        import statistics as _st

        # compact nested dict: the tail line is at its byte budget, so
        # the medians ride as ~60 chars ("med") instead of four long
        # keys — full names + per-drain values are on the detail line
        med = {"n": len(drains)}
        for key in ("total_sec", "detector_sec", "ingest_sec"):
            reps = [d[key] for d in drains if key in d]
            if reps:
                med[key.replace("_sec", "")] = round(_st.median(reps), 3)
        stream_out["med"] = med
    out["stream"] = stream_out
    # per-drain breakdown: detail line only (the tail keeps medians)
    out["stream_drains"] = drains
    return out


def _fps_scan_output_rows(df, path_fragment: str) -> int | None:
    """numOutputRows of the parquet scan over ``path_fragment`` in
    ``df``'s executed plan (walked non-AQE, the plan-pytest
    convention) — the pruning evidence: rows the scan SURFACED after
    row-group skipping, vs the tree's total."""
    plan = df._jdf.queryExecution().executedPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        if "FileSourceScan" in node.getClass().getSimpleName():
            try:
                rp = node.relation().location().rootPaths()
                roots = " ".join(
                    rp.apply(i).toString() for i in range(rp.size())
                )
            except Exception:
                roots = ""
            if path_fragment in roots:
                return int(node.metrics().apply("numOutputRows").value())
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return None


def _stream_stress(spark, sf_dir: str) -> dict:
    """Drain the sliding-window rollup one source file per micro-batch
    and report batch count, peak/final state rows, and wall time. The
    watermark must evict closed windows as batches advance — final
    state rows stay far below (windows × keys) for the whole stream."""
    import shutil
    import tempfile

    from timebox_spark.plans import suites
    from timebox_spark.streaming import ingest

    src = suites._stage_stream_input(spark, sf_dir, n_files=8, sentinel=True)
    # per-run checkpoint dir: a fixed path would let two concurrent
    # bench runs corrupt each other's streaming state. Note: the
    # state-row stats below read recentProgress, which retains the last
    # 100 entries by default — fine at <=9 batches, raise
    # spark.sql.streaming.numRecentProgressUpdates if n_files grows.
    ckpt = tempfile.mkdtemp(prefix="timebox_bench_stream_ckpt_")
    sl = ingest.sliding_rollup(
        ingest.read_event_stream(spark, src, max_files_per_trigger=1),
        watermark="1 hour",
        window="1 hour",
        slide="15 minutes",
    )
    t0 = time.perf_counter()
    q = (
        sl.writeStream.format("memory")
        .queryName("bench_stream_stress")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drain_sec = round(time.perf_counter() - t0, 3)
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    emitted = spark.table("bench_stream_stress").count()
    shutil.rmtree(ckpt, ignore_errors=True)
    peak = max(state_rows) if state_rows else 0
    final = state_rows[-1] if state_rows else 0
    # HARD eviction gate, not just a recording: if the watermark stops
    # evicting closed windows, final approaches peak and the bench run
    # fails loudly (tests/test_streaming.py asserts the same invariant
    # at sf0.001). Threshold: final must be under half of peak — in
    # practice it is ~2% (44 vs 1995 at sf0.1).
    if state_rows and not final < peak / 2:
        raise AssertionError(
            f"streaming state not evicted: final={final} peak={peak}"
        )
    return {
        "batches": len(progress),
        "state_rows_peak": peak,
        "state_rows_final": final,
        "rows_emitted": emitted,
        "drain_sec": drain_sec,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    # round-11 verdict task 5: wait (bounded) for residual machine
    # load to drain before sampling — the per-round driver invokes
    # bench right after its own correctness drive, whose dying JVM
    # kept load1 high enough to flag r11 `contended` even with zero
    # foreign processes alive. Threshold matches the contended rule.
    idle_limit = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT", "300"))
    idle_thresh = 0.25 * (os.cpu_count() or 1)
    idle_waited = 0.0
    while os.getloadavg()[0] > idle_thresh and idle_waited < idle_limit:
        time.sleep(10)
        idle_waited += 10

    # sample BEFORE the JVM exists: load here is other people's load.
    # load1 reacts within a minute of a neighbor starting; the
    # other_*_procs counts catch long-running squatters.
    load_start = machine_load()
    spark = get_spark(app_name="timebox-bench")

    # warm the JVM/codegen/committer once: a trivial action plus a tiny
    # parquet write+read so the first measured query isn't paying
    # one-time parquet/committer initialization (~1.7s locally)
    spark.range(1).count()
    warm = "/tmp/timebox_bench_warmup"
    spark.range(100).write.mode("overwrite").parquet(warm)
    spark.read.parquet(warm).count()
    # spin up the (reused) Python workers once so the first
    # mapInPandas-bearing query isn't billed for worker startup —
    # spark.python.worker.reuse keeps them alive between queries
    import pandas as _pd

    (
        spark.range(0, 1024)
        .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        .mapInPandas(lambda it: (pdf for pdf in it), schema="id long")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    assert _pd is not None  # keep the import local to the warmup

    def run_pass(d: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, fn in HEADLINE.items():
            t0 = time.perf_counter()
            fn(spark, d).write.mode("overwrite").format("noop").save()
            out[name] = round(time.perf_counter() - t0, 3)
        return out

    # OS page-cache warmup (round 16): the first bench after a host
    # boot measured pass totals [69.3, 53.5, 23.5, 19.1, 25.9] vs a
    # warm re-run's [17.8, 15.6, 14.5, 13.9, 16.3] on identical code
    # (/tmp/bench_r16a.out vs _r16b.out) — the first touches of the
    # sf parquet bytes were DISK reads billed to whichever queries ran
    # first (the 1x minhash sig stage read 19.5s cold vs 0.98s warm,
    # flipping the published 10x ratio to a nonsense 0.72). Read the
    # inputs once outside the timers so measured passes price compute,
    # not the host's boot state.
    import glob as _glob

    for _pq in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(_pq, "rb") as _fh:
            while _fh.read(1 << 22):
                pass

    # compile-warm every query once at the smallest SF: whole-stage
    # codegen + JIT of each plan's generated code is 1-3s/query of
    # run-to-run NOISE otherwise (measured 27-56s headline swings on
    # identical code); after this, measured passes reflect data
    # processing, not JVM compilation
    smallest = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(smallest):
        run_pass(smallest)

    # N measured passes; the headline is the per-query MEDIAN so one
    # noisy pass (GC, code-cache churn, OS scheduling, a concurrent
    # process stealing cores) cannot masquerade as a regression —
    # n=1 cold timing made the round-2 ">20% regression" bar
    # undecidable. (An inter-pass System.gc() was tried and measured
    # slightly WORSE on an idle machine; medians alone are the fix.)
    # Default raised 3 → 5 (round-12 verdict task 6): r12 vs r11 swung
    # ±7% on byte-identical code; more passes tighten the median and
    # the published per-query stddev makes the remaining spread
    # readable instead of argued.
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))
    passes: list[dict[str, float]] = []
    load_per_pass: list[dict] = []
    for _ in range(n_passes):
        passes.append(run_pass(sf_dir))
        load_per_pass.append(machine_load())

    def median(vals: list[float]) -> float:
        s = sorted(vals)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    timings = {n: median([p[n] for p in passes]) for n in HEADLINE}
    warm_timings = passes[-1]  # steady-state pass, for continuity

    def stddev(vals: list[float]) -> float:
        m = sum(vals) / len(vals)
        return round((sum((v - m) ** 2 for v in vals) / len(vals)) ** 0.5, 3)

    # per-query spread across the measured passes (round-12 verdict
    # task 6): published in the tail line so a round-over-round delta
    # can be read against the same run's own noise floor
    query_stddev = {n: stddev([p[n] for p in passes]) for n in HEADLINE}

    # scale-stress: the dedup/ANN/curation path again on a 10×
    # duplicate-amplified corpus (see plans/scale_stress.py) — the
    # ratio vs the 1× pass shows whether the blocking/bucketing keeps
    # the shuffle sub-quadratic before a real cluster would
    from timebox_spark.plans import scale_stress

    amp_factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
    amp_dir = f"/tmp/timebox_scale{amp_factor}_{os.path.basename(sf_dir.rstrip('/'))}"
    t0 = time.perf_counter()
    scale_stress.amplify_sf_dir(spark, sf_dir, amp_dir, factor=amp_factor)
    amp_build = round(time.perf_counter() - t0, 3)
    # LLM path (duplicate-amplified docs/embeddings) + shuffle-heavy
    # relational path (skewed 10× events / orders / lineitem): q16 asof,
    # q59 fact-fact top-k, and connected-components clustering are the
    # queries whose 100× behavior was previously argued but not measured.
    # Clustering runs over MINHASH pairs (the scale path) rather than
    # the q31 driver key's n-gram-Jaccard pairs: length-bucket blocking
    # is inherently quadratic in block size, which is exactly why the
    # LSH variant exists — here we measure the CC iteration's scaling,
    # not the exact-verify pair generator's known O(block²).
    from timebox_spark.operators import dedup as D

    # record CC iteration count + per-round changed labels at 1× and
    # 10× so a super-linear scale ratio can be attributed: rounds
    # growing with corpus = diameter growth (switch to
    # large-star/small-star); flat rounds = per-round work only.
    cc_stats: dict[str, dict] = {}

    def cluster_minhash(spark, d):
        docs = tables_load(spark, d, "documents")
        pairs = D.minhash_dedup(docs, threshold=0.35)
        st = cc_stats.setdefault("10x" if d == amp_dir else "1x", {})
        return D.dedup_clusters(docs, pairs, id_col="doc_id", stats=st)

    # bigram-LM perplexity is the most shuffle-heavy round-5 text op
    # (bigram counts + context counts + prob-table join): measure its
    # 10× ratio instead of arguing it
    from timebox_spark.operators import text as TX

    def ppl_lm(spark, d):
        return TX.perplexity_topk(tables_load(spark, d, "documents"))

    scale_queries = {
        "q25_minhash_dedup": LQ.q25_minhash_dedup,
        "q47_ivf_ann": LQ.q47_ivf_ann,
        "q54_curation_pipeline": LQ.q54_curation_pipeline,
        "q16_asof": Q.q16_asof,
        "q59_tpch_q3_shape": Q.q59_tpch_q3_shape,
        "q31_cluster_minhash": cluster_minhash,
        "q21_ppl_lm": ppl_lm,
    }
    scale_timings: dict[str, float] = {}
    scale_base: dict[str, float] = {}
    for name, fn in scale_queries.items():
        if name not in timings:  # not a headline query: measure 1× here
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            scale_base[name] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        fn(spark, amp_dir).write.mode("overwrite").format("noop").save()
        scale_timings[name] = round(time.perf_counter() - t0, 3)

    # q25 minhash stage decomposition (round-6 verdict task 3): time
    # the three stages separately at 1× and 10× so a drifting ratio is
    # attributable — sig = Arrow shingle+signature kernel (map-only,
    # expected ~linear), band = LSH bucket self-join, verify = exact
    # Jaccard on candidates. On the duplicate-AMPLIFIED corpus the
    # true near-dup pair count grows ~quadratically in the
    # amplification factor by construction (k copies of a doc form
    # k(k−1)/2 pairs), so verify-stage growth is inherent to emitting
    # all pairs, not a blocking failure; the sig stage is the one
    # that must stay ~linear.
    def minhash_stages(d: str, prefilter_counts: bool = False) -> dict[str, float]:
        from timebox_spark.operators import dedup as D

        # the headline/scale q25 runs persist the same (canonicalized)
        # signature plan — without this, the sig stage reads their
        # cache and reports ~0 s instead of the kernel cost
        spark.catalog.clearCache()
        docs = tables_load(spark, d, "documents")
        out: dict[str, float] = {}
        combined = D.minhash_signatures(docs, emit_sets=True).persist()
        t0 = time.perf_counter()
        combined.write.mode("overwrite").format("noop").save()
        out["sig"] = round(time.perf_counter() - t0, 3)
        cands = D.minhash_lsh_candidates(combined).persist()
        t0 = time.perf_counter()
        cands.write.mode("overwrite").format("noop").save()
        out["band"] = round(time.perf_counter() - t0, 3)
        verified = D.jaccard_verify(cands, combined, threshold=0.35)
        t0 = time.perf_counter()
        verified.write.mode("overwrite").format("noop").save()
        out["verify"] = round(time.perf_counter() - t0, 3)
        out["n_candidates"] = cands.count()
        if prefilter_counts:
            # round-14 verdict tasks 3/8: the estimate prefilter's
            # verify-side candidate counts, debiased (shipped) vs raw
            # (pre-round-14), at the shipped margin (0.25 below the
            # 0.35 threshold) and right at the threshold — the
            # published payoff of the debias is the admitted-count drop
            for label, min_est in (("margin25", 0.10), ("at_t", 0.35)):
                for mode, bands_arg in (("", 8), ("_raw", None)):
                    out[f"prefilter_{label}{mode}"] = D.minhash_estimate_filter(
                        cands, combined, num_hashes=32,
                        min_estimate=min_est, bands=bands_arg,
                    ).count()
        combined.unpersist()
        cands.unpersist()
        return out

    # star-contraction rounds on the 10× pairs (round 12): the
    # escalation path's round count and wall time next to label
    # propagation's (cc_rounds above) — measured, not argued. On the
    # duplicate-amplified corpus clusters stay shallow, so label wins
    # on constant factors; the star numbers are here so the crossover
    # is visible the day diameter grows.
    star_st: dict = {}
    pairs10 = D.minhash_dedup(
        tables_load(spark, amp_dir, "documents"), threshold=0.35
    )
    t0 = time.perf_counter()
    D.connected_components_star(pairs10, stats=star_st).write.mode(
        "overwrite"
    ).format("noop").save()
    cc_stats["10x_star"] = {
        "rounds": star_st.get("rounds"),
        "edges": star_st.get("edges"),
        "sec": round(time.perf_counter() - t0, 3),
    }

    # q20 stage decomposition (round-11 verdict task 6): q20 grew 2.2×
    # over r04 while gaining five column families — time each family
    # separately (shared token_features input; 'base' carries the
    # shared tokenization cost) so future growth stays attributable
    def q20_stage_timings(d: str) -> dict[str, float]:
        spark.catalog.clearCache()
        out: dict[str, float] = {}
        for fam, df in LQ.q20_stage_frames(spark, d).items():
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            out[fam] = round(time.perf_counter() - t0, 3)
        return out

    q20_split = q20_stage_timings(sf_dir)

    minhash_split = {
        "1x": minhash_stages(sf_dir, prefilter_counts=True),
        "10x": minhash_stages(amp_dir),
    }
    # the honest 10× ratio: both sides uncached (clearCache above).
    # scale10_ratio's q25 entry compares a CACHE-ASSISTED 1× median
    # (q25's persist makes later passes cache hits) against a fresh
    # 10× run, which overstates the growth — this one doesn't.
    _stage_keys = ("sig", "band", "verify")
    minhash_split["stage_ratio"] = round(
        sum(minhash_split["10x"][k] for k in _stage_keys)
        / max(sum(minhash_split["1x"][k] for k in _stage_keys), 1e-9),
        2,
    )

    # PageRank iteration cost at 1× and 10× docs (round 14): the graph
    # derives deterministically from doc_id over a doc-count-sized
    # node space, 6 fixed-point rounds; the ratio shows the
    # per-iteration join+agg scaling with the edge list, the
    # localCheckpoint latency being the 1× floor. Round 16: the graph
    # is IRREGULAR — out-degree 1 + doc_id % 5, and every doc_id % 7
    # == 0 node emits nothing (dangling) — because the previous
    # 3-regular graph had the uniform distribution as its exact fixed
    # point, making the published residual curve [x, 0, 0, ...]:
    # vacuous evidence (round-15 judge). sec values are therefore not
    # comparable to BENCH_r15 and earlier for this block (edge count
    # ~2.2n vs 3n; everything else unchanged).
    def pagerank_timing(d: str) -> dict:
        from pyspark.sql import functions as F

        from timebox_spark.operators import graphs as G
        from timebox_spark.operators.dedup import unpersist_owned

        docs = tables_load(spark, d, "documents").select("doc_id")
        n_docs = docs.count()
        mod = max(n_docs, 17)
        outs = F.slice(
            F.array(
                *[
                    (F.col("doc_id") * 31 + F.lit(j)) % mod
                    for j in range(1, 6)
                ]
            ),
            F.lit(1),
            (F.col("doc_id") % 5 + 1).cast("int"),
        )
        edges = (
            docs.filter(F.col("doc_id") % 7 != 0)
            .select(
                (F.col("doc_id") % mod).alias("src"),
                F.explode(outs).alias("dst"),
            )
        )
        owned: list = []
        t0 = time.perf_counter()
        try:
            G.pagerank(edges, iterations=6, owned_rdds=owned).write.mode(
                "overwrite"
            ).format("noop").save()
        finally:
            unpersist_owned(owned)
        sec = round(time.perf_counter() - t0, 3)
        # residual decay (round 15; both scales since round 16),
        # measured OUTSIDE the timed run so `sec` stays comparable
        # across rounds: the per-round exact integer L1 delta — the
        # number an operator reads to choose `iterations` for a new
        # graph (SCALE.md)
        res: list = []
        owned2: list = []
        try:
            G.pagerank(
                edges, iterations=6, owned_rdds=owned2, residuals=res
            ).write.mode("overwrite").format("noop").save()
        finally:
            unpersist_owned(owned2)
        out = {"sec": sec, "docs": n_docs}
        if res:
            out["residual_ticks"] = res
        return out

    pagerank_stats = {
        "1x": pagerank_timing(sf_dir),
        "10x": pagerank_timing(amp_dir),
    }
    pagerank_stats["ratio"] = round(
        pagerank_stats["10x"]["sec"]
        / max(pagerank_stats["1x"]["sec"], 1e-9),
        2,
    )

    # estimate-vs-exact verify fidelity at the driver's scale (round-12
    # verdict task 3) — the number behind the production index-tier
    # default documented in SCALE.md
    index_tier = _index_tier_fidelity(spark, sf_dir)

    # Bloom-gate cost/fidelity at the driver's scale (round-14 task 2)
    # — the numbers behind curate_and_ingest_stream's gate-on default
    bloom_gate = _bloom_gate_stats(spark, sf_dir)

    # end-to-end ingest-loop throughput + per-cycle decomposition at
    # 1× and 10× corpus, plus the one-query streaming drain
    # (round-16 verdict task 4)
    ingest_loop = _ingest_loop_stats(spark, sf_dir)

    # streaming stress: the q68 sliding-window rollup at the target SF
    # driven one file per micro-batch (9 batches instead of the driver
    # contract's availableNow few-batch drain), recording batch count
    # and state-store rows so bounded-state eviction is demonstrated
    # under multi-batch load, not just in toy tests
    stream_stats = _stream_stress(spark, sf_dir)

    load_end = machine_load()
    samples = [load_start, *load_per_pass, load_end]
    # contended when a foreign JVM / pyspark worker was alive at any
    # sample, or the machine was already loaded before our JVM started
    # (load1 > 25% of cores with nothing of ours running yet). Mid-run
    # loadavg is dominated by our own 32 threads, so it can't be used
    # as a foreign-load signal — the start sample and the process
    # counts can.
    contended = (
        load_start["load1"] > 0.25 * (load_start["cpus"] or 1)
        or any(
            s["other_java_procs"] > 0 or s["other_pyspark_procs"] > 0
            for s in samples
        )
    )

    total = round(sum(timings.values()), 3)
    # full-detail line FIRST; a compact contract-shaped line LAST. The
    # driver retains only the tail of bench output, and round 9's
    # detail growth (top_procs) pushed this line's head — with the
    # per-query dict — out of the retained window (BENCH_r09 parsed:
    # null). The last line is small enough to always survive whole.
    print(
        json.dumps(
            {
                "metric": "headline_total_detail",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "warm_total": round(sum(warm_timings.values()), 3),
                "warm_queries": warm_timings,
                "scale10_queries": scale_timings,
                "scale10_factor": amp_factor,
                "scale10_build_sec": amp_build,
                "scale10_ratio": {
                    # q25's 1× median is CACHE-ASSISTED (its persist
                    # makes later headline passes cache hits), so its
                    # raw ratio overstates growth — rename it so the
                    # JSON alone says so, and promote the honest
                    # uncached stage decomposition as q25's number.
                    (
                        "q25_minhash_dedup_cache_assisted"
                        if k == "q25_minhash_dedup"
                        else k
                    ): round(
                        scale_timings[k] / (timings.get(k) or scale_base[k]), 2
                    )
                    for k in scale_timings
                    if timings.get(k) or scale_base.get(k)
                }
                | {"q25_minhash_uncached_stages": minhash_split["stage_ratio"]},
                "stream_stress": stream_stats,
                "minhash_stages": minhash_split,
                "q20_stages": q20_split,
                "idle_waited_sec": idle_waited,
                "cc_rounds": cc_stats,
                "pagerank": pagerank_stats,
                "index_tier": index_tier,
                "bloom_gate": bloom_gate,
                "ingest_loop": ingest_loop,
                "query_stddev": query_stddev,
                "machine": {
                    "start": load_start,
                    "per_pass": load_per_pass,
                    "end": load_end,
                },
                "contended": contended,
                "n_passes": n_passes,
                "pass_totals": [round(sum(p.values()), 3) for p in passes],
                "sf": sf,
            }
        ),
        flush=True,
    )
    # the tail line is what the driver's 2,000-char capture retains.
    # Essentials (the contract fields + per-query MEDIANS) always fit;
    # diagnostics are appended in priority order while the line stays
    # within TAIL_LINE_BYTES, COMPACTED to their load-bearing fields
    # (the full structures are on the detail line above). Round 12 lost
    # cc_rounds by putting it detail-line-only; rounds 9/14/15/16 lost
    # EVERYTHING by letting this line outgrow the capture window
    # (parsed: null) — fit_tail_line fixes the class.
    tail_essentials = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "warm_total": round(sum(warm_timings.values()), 3),
        "pass_totals": [round(sum(p.values()), 3) for p in passes],
        "contended": contended,
        "sf": sf,
    }
    ingest_tail: dict = {
        sc: {
            k: v
            for k, v in ingest_loop.get(sc, {}).items()
            if k in ("cycle_sec_total", "docs_per_sec")
        }
        for sc in ("1x", "10x")
    }
    ingest_tail["cycle_ratio_10x"] = ingest_loop.get("cycle_ratio_10x")
    if "stream" in ingest_loop:
        ingest_tail["stream"] = ingest_loop["stream"]
    tail_diagnostics = [
        ("query_stddev", query_stddev),
        ("ingest_loop", ingest_tail),
        (
            "bloom_gate",
            {
                k: v
                for k, v in bloom_gate.items()
                if k
                in (
                    "build_sec",
                    "tree_rows_10x",
                    "fpr_sized_10bpd",
                    "gated_sec_1x",
                    "gated_fps_rows_1x",
                    "ungated_sec_1x",
                    "gated_sec_10x",
                    "gated_fps_rows_10x",
                    "ungated_sec_10x",
                )
            },
        ),
        (
            "q25_candidates",
            {
                k: v
                for k, v in minhash_split["1x"].items()
                if k == "n_candidates" or k.startswith("prefilter_")
            },
        ),
        (
            "scale10_ratio_minhash_uncached",
            minhash_split["stage_ratio"],
        ),
        (
            "cc_rounds",
            {
                "1x_rounds": cc_stats.get("1x", {}).get("rounds"),
                "10x_rounds": cc_stats.get("10x", {}).get("rounds"),
                "10x_star_rounds": cc_stats.get("10x_star", {}).get(
                    "rounds"
                ),
                "10x_star_sec": cc_stats.get("10x_star", {}).get("sec"),
            },
        ),
        (
            "pagerank",
            {
                "1x_sec": pagerank_stats.get("1x", {}).get("sec"),
                "10x_sec": pagerank_stats.get("10x", {}).get("sec"),
                "ratio": pagerank_stats.get("ratio"),
            },
        ),
        (
            "index_tier",
            {
                k: v
                for k, v in index_tier.items()
                if k
                in (
                    "candidates",
                    "exact_pass",
                    "adj_pass",
                    "adj_fd",
                    "adj_fk",
                    "threshold",
                )
            },
        ),
        ("q20_stages", q20_split),
        ("idle_waited_sec", idle_waited),
    ]
    print(
        json.dumps(fit_tail_line(tail_essentials, tail_diagnostics)),
        flush=True,
    )


if __name__ == "__main__":
    main()
