"""Approximate sketches pinned against exact answers: the sketch
internals (HLL++, KLL) can't hash-match another engine, so the
contract is bounded relative error vs the exact aggregates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from timebox_spark.plans.tables import load


def test_approx_count_distinct_within_bounds(spark):
    events = load(spark, SF_SMOKE, "events")
    row = events.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] <= 0.05


def test_hll_rollup_matches_exact_within_bounds(spark):
    from timebox_spark.operators import sketches

    events = load(spark, SF_SMOKE, "events")
    daily = sketches.daily_distinct_sketches(events, "user_id")
    monthly = sketches.rollup_distinct(daily, "month")
    exact = (
        events.groupBy(
            F.date_trunc("month", F.to_date("ts")).cast("date").alias("period")
        )
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    rows = monthly.join(exact, "period").collect()
    assert rows
    for r in rows:
        rel = abs(r["n_distinct_approx"] - r["n_exact"]) / max(r["n_exact"], 1)
        assert rel <= 0.05, f"{r['period']}: {rel}"


def test_hll_merge_of_dailies_close_to_direct_sketch(spark):
    from timebox_spark.operators import sketches

    events = load(spark, SF_SMOKE, "events")
    merged = sketches.rollup_distinct(
        sketches.daily_distinct_sketches(events, "user_id"), "year"
    ).collect()[0]["n_distinct_approx"]
    direct = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("n")
    ).collect()[0]["n"]
    assert abs(merged - direct) / max(direct, 1) <= 0.02


def test_percentile_approx_within_bounds(spark):
    events = load(spark, SF_SMOKE, "events")
    row = events.agg(
        F.percentile("value", 0.5).alias("exact"),
        F.percentile_approx("value", 0.5, 10000).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= 0.01 * max(abs(row["exact"]), 1.0)


def test_log2_histogram_quantiles_bound_and_merge(spark):
    """The histogram is exact integer counts (mergeable by SUM), and
    each quantile estimate's bucket [2^(b-1), 2^b - 1] contains the
    true discrete quantile — the sketch's guaranteed error bound."""
    import datetime
    import math

    from pyspark.sql import functions as F

    from timebox_spark.operators import sketches as SK

    rows = []
    vals = [0.01, 0.02, 0.5, 1.27, 1.28, 3.0, 40.0, 40.95, 40.96, 400.0]
    for m in (1, 2):
        for i, v in enumerate(vals):
            rows.append((datetime.datetime(2024, m, 1 + i), v * m))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    hist = SK.log2_histogram(df)
    got = {
        (r["period"].month, r["bucket"]): r["n"] for r in hist.collect()
    }
    for m in (1, 2):
        expect = {}
        for v in vals:
            vi = math.floor(v * m * 100 + 0.5)
            b = vi.bit_length() if vi > 0 else 0
            expect[b] = expect.get(b, 0) + 1
        assert {b: n for (mm, b), n in got.items() if mm == m} == expect
    # mergeable: summing the two monthly sketches = sketch of the union
    merged = {
        r["bucket"]: r["n"]
        for r in hist.groupBy("bucket").agg(F.sum("n").alias("n")).collect()
    }
    union_expect = {}
    for _, v in rows:
        vi = math.floor(v * 100 + 0.5)
        b = vi.bit_length() if vi > 0 else 0
        union_expect[b] = union_expect.get(b, 0) + 1
    assert merged == union_expect

    q = SK.histogram_quantiles(hist).collect()
    assert len(q) == 2 * len(SK.QSKETCH_PS)
    for r in q:
        m = r["period"].month
        cents = sorted(math.floor(v * m * 100 + 0.5) for v in vals)
        exact = cents[r["rank"] - 1]  # rank-th smallest
        assert exact <= r["est_hi"] < 2 * exact + 2  # within bucket span


def test_log2_bucket_property_random_values(spark):
    """Property: the conv-based bit-length bucket equals Python
    int.bit_length over values spanning the double range the metric
    can take (sub-cent to millions, incl. exact powers of two in
    cents and the v<=0 guard)."""
    import datetime
    import math

    from timebox_spark.operators import sketches as SK

    vals = [0.0, -1.0, 0.004, 0.005, 0.01, 0.64, 1.27, 1.28, 2.56,
            5.11, 5.12, 163.84, 655.36, 10485.76, 9999999.99]
    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(ts, v) for v in vals], "ts timestamp, value double"
    )
    got = {}
    for r in SK.log2_histogram(df).collect():
        got[r["bucket"]] = got.get(r["bucket"], 0) + r["n"]
    expect = {}
    for v in vals:
        vi = math.floor(v * SK.QSKETCH_SCALE + 0.5)
        b = vi.bit_length() if vi > 0 else 0
        expect[b] = expect.get(b, 0) + 1
    assert got == expect


def test_histogram_quantiles_random_histograms(spark):
    """Property: on random bucket-count tables the quantile picker
    matches a Python recompute of rank = ceil(p·N/100) and
    first-bucket-with-cum>=rank, with est_hi = 2^b - 1."""
    import datetime
    import math
    import random

    from timebox_spark.operators import sketches as SK

    rng = random.Random(13)
    rows = []
    hists = {}
    for m in range(1, 5):
        period = datetime.datetime(2024, m, 1)
        buckets = sorted(rng.sample(range(0, 20), rng.randint(2, 8)))
        hists[period] = {b: rng.randint(1, 500) for b in buckets}
        for b, n in hists[period].items():
            rows.append((period, b, n))
    hist = spark.createDataFrame(rows, "period timestamp, bucket int, n long")
    got = {
        (r["period"], r["p"]): (r["rank"], r["est_hi"], r["cum"])
        for r in SK.histogram_quantiles(hist).collect()
    }
    for period, h in hists.items():
        total = sum(h.values())
        for p in SK.QSKETCH_PS:
            rank = math.floor((total * p + 99) / 100)
            cum = 0
            for b in sorted(h):
                cum += h[b]
                if cum >= rank:
                    assert got[(period, p)] == (rank, 2**b - 1, cum)
                    break


def test_bloom_no_false_negatives_and_merge(spark):
    """Round 13: bloom_build/bloom_probe — every built value probes
    maybe_present (NO false negatives, the property the exact-dedup
    pre-gate's correctness rests on); disjoint values mostly probe
    absent at the design fpr; and bloom_merge of per-part sketches
    equals the sketch of the union bit-for-bit."""
    from timebox_spark.operators import sketches as SK

    m, k = 1 << 16, 5
    vals = spark.range(0, 500).selectExpr(
        "id", "md5(CAST(id AS STRING)) AS v"
    )
    ins = vals.filter("id % 2 = 0")
    bloom = SK.bloom_build(ins.select("v"), "v", m, k)
    probe = {
        r["id"]: r["maybe_present"]
        for r in SK.bloom_probe(vals, "id", "v", bloom, m, k).collect()
    }
    members = {i for i in range(0, 500, 2)}
    assert all(probe[i] for i in members), "false negative!"
    non = [i for i in range(1, 500, 2)]
    fp = sum(1 for i in non if probe[i])
    # 250 docs in 65536 bits ≈ 262 bits/doc → fpr ≈ (1-e^-kn/m)^k ~ 2e-9
    assert fp <= 2, fp

    # merge(part sketches) == sketch(union)
    b1 = SK.bloom_build(ins.filter("id < 250").select("v"), "v", m, k)
    b2 = SK.bloom_build(ins.filter("id >= 250").select("v"), "v", m, k)
    merged = {
        (r["word"], r["bits"])
        for r in SK.bloom_merge(b1.unionByName(b2)).collect()
    }
    whole = {(r["word"], r["bits"]) for r in bloom.collect()}
    assert merged == whole

    # probing with the WRONG (m, k) has no no-false-negative guarantee
    # — a dup would bypass exact dedup as 'definitely new' — so the
    # sketch carries its parameters as sentinel rows and a mismatched
    # probe (at its first action) or merge RAISES instead of silently
    # corrupting results
    from pyspark.errors import PySparkException

    with pytest.raises(PySparkException, match="m_bits"):
        SK.bloom_probe(vals, "id", "v", bloom, m * 2, k).collect()
    with pytest.raises(PySparkException, match="m_bits"):
        SK.bloom_probe(vals, "id", "v", bloom, m, k + 1).collect()
    other_geom = SK.bloom_build(ins.select("v"), "v", m * 2, k)
    with pytest.raises(ValueError, match="geometries"):
        SK.bloom_merge(bloom.unionByName(other_geom))

    # determinism across runs
    again = {
        r["id"]: r["maybe_present"]
        for r in SK.bloom_probe(vals, "id", "v", bloom, m, k).collect()
    }
    assert again == probe


def test_incremental_exact_dedup_bloom_gate_identical(spark):
    """The broadcast Bloom pre-gate changes the PLAN, never the
    result: incremental_exact_dedup with corpus_bloom equals the
    gate-less run on a batch containing corpus dups, in-batch dups
    and fresh docs."""
    from timebox_spark.operators import dedup as DD
    from timebox_spark.operators import sketches as SK

    corpus = spark.createDataFrame(
        [(1, "alpha document body one"), (2, "beta document body two")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha document body one"),   # corpus dup
            (11, "gamma fresh body"),          # fresh
            (12, "gamma fresh body"),          # in-batch dup of 11
            (13, "delta another fresh body"),  # fresh
            (14, None),                        # NULL text: fp NULL, kept
        ],
        "doc_id long, text string",
    )
    m, k = 1 << 14, 5
    bloom = SK.bloom_build(DD.corpus_fingerprints(corpus), "__fp", m, k)
    plain = {
        r["doc_id"]
        for r in DD.incremental_exact_dedup(batch, corpus).collect()
    }
    gated = {
        r["doc_id"]
        for r in DD.incremental_exact_dedup(
            batch, corpus, corpus_bloom=bloom, bloom_m=m, bloom_k=k
        ).collect()
    }
    # NULL text never matches the corpus anti-join, so both paths keep
    # it (review round 13: the id-keyed gate silently dropped it)
    assert gated == plain == {11, 13, 14}


def _plan_paths_to_leaves(node):
    """All root→leaf node paths of a JVM physical plan tree."""
    kids = node.children()
    if kids.size() == 0:
        return [[node]]
    out = []
    for i in range(kids.size()):
        for sub in _plan_paths_to_leaves(kids.apply(i)):
            out.append([node] + sub)
    return out


def _leaf_scan_paths(leaf) -> str:
    """The root paths of a FileSourceScanExec leaf (its toString
    truncates long locations at spark.sql.maxMetadataStringLength, so
    pytest tmp dirs never survive it)."""
    try:
        rp = leaf.relation().location().rootPaths()
        return " ".join(rp.apply(i).toString() for i in range(rp.size()))
    except Exception:
        return ""


def _fps_scan_join_segments(df, path_fragment):
    """For each parquet scan leaf whose root path carries
    ``path_fragment``, the node-name list from the leaf up to (and
    including) the first join above it."""
    plan = df._jdf.queryExecution().executedPlan()
    segs = []
    for path in _plan_paths_to_leaves(plan):
        leaf = path[-1]
        if path_fragment not in _leaf_scan_paths(leaf):
            continue
        seg = []
        for node in reversed(path):  # leaf → root
            seg.append(node.nodeName())
            if "Join" in node.nodeName():
                break
        segs.append(seg)
    return segs


def test_bloom_gated_dedup_never_shuffles_fps_scan(spark, tmp_path):
    """Round-14 verdict task 1 (the round-13 `weak`): with the Bloom
    gate on, the fingerprint tree must be the STREAMED side of a
    broadcast semi-join — map-only, no Exchange between the fps scan
    and its join at any corpus size. The gate-less path (the
    contrast) sort-merge/shuffles that same scan."""
    from timebox_spark.operators import dedup as DD
    from timebox_spark.operators import sketches as SK

    corpus = spark.createDataFrame(
        [(i, f"corpus doc body {i}") for i in range(60)],
        "doc_id long, text string",
    )
    fps_dir = str(tmp_path / "r14_fps_tree")
    bloom_dir = str(tmp_path / "r14_bloom_tree")
    DD.corpus_fingerprints(corpus).select(
        F.unhex("__fp").alias("__fp")
    ).write.mode("overwrite").parquet(fps_dir)
    fps = spark.read.parquet(fps_dir)
    m, k = 1 << 14, 5
    SK.bloom_build(
        fps.select(DD._fp_hex("__fp").alias("__fp")), "__fp", m, k
    ).write.mode("overwrite").parquet(bloom_dir)
    bloom = spark.read.parquet(bloom_dir)
    batch = spark.createDataFrame(
        [(100, "corpus doc body 3"), (101, "fresh body")],
        "doc_id long, text string",
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        gated = DD.incremental_exact_dedup(
            batch, corpus, corpus_fps=fps, corpus_bloom=bloom,
            bloom_m=m, bloom_k=k,
        )
        segs = [
            s
            for s in _fps_scan_join_segments(gated, "r14_fps_tree")
            if "Join" in s[-1]
        ]
        assert segs, "no fps scan found under a join in the gated plan"
        for seg in segs:
            assert not any(n == "Exchange" for n in seg), seg
            assert "BroadcastHashJoin" in seg[-1], seg
        # contrast: the gate-less plan DOES shuffle the fps scan (the
        # anti-join builds on the right) — proves the walker sees
        # exchanges when they exist
        plain = DD.incremental_exact_dedup(batch, corpus, corpus_fps=fps)
        plain_segs = _fps_scan_join_segments(plain, "r14_fps_tree")
        assert plain_segs
        assert any(
            any(n == "Exchange" for n in seg) for seg in plain_segs
        ), plain_segs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # and the results are still identical
    assert {r["doc_id"] for r in gated.collect()} == {
        r["doc_id"]
        for r in DD.incremental_exact_dedup(
            batch, corpus, corpus_fps=fps
        ).collect()
    } == {101}


def test_bloom_probe_duplicate_word_rows_keep_no_false_negatives(spark):
    """Advisor round 13 (medium): a sketch with multiple rows per word
    — a raw union of per-cycle sketches, or a consolidated tree read
    without bloom_merge — must still probe every true member present:
    the probe defensively re-aggregates per word (bit_or) before the
    join, so partial-bit duplicate rows can't turn min(hit) false."""
    from timebox_spark.operators import sketches as SK

    m, k = 1 << 14, 5
    vals = spark.range(0, 200).selectExpr(
        "id", "md5(CAST(id AS STRING)) AS v"
    )
    # two per-cycle sketches over DIFFERENT members, raw-unioned (no
    # bloom_merge): words colliding across cycles now have two rows,
    # each with only its own cycle's bits
    b1 = SK.bloom_build(vals.filter("id < 100").select("v"), "v", m, k)
    b2 = SK.bloom_build(vals.filter("id >= 100").select("v"), "v", m, k)
    raw_union = b1.unionByName(b2)
    probe = {
        r["id"]: r["maybe_present"]
        for r in SK.bloom_probe(vals, "id", "v", raw_union, m, k).collect()
    }
    missing = [i for i in range(200) if not probe[i]]
    assert not missing, f"false negatives through duplicate rows: {missing}"


def test_bloom_probe_conflicting_sentinels_raise(spark):
    """A raw union of different-geometry sketches carries conflicting
    sentinel rows — the probe must raise at its first action, not
    pick one (the old 2-row collect kept whichever row came last)."""
    from pyspark.errors import PySparkException

    from timebox_spark.operators import sketches as SK

    m, k = 1 << 14, 5
    vals = spark.range(0, 50).selectExpr("id", "md5(CAST(id AS STRING)) AS v")
    b1 = SK.bloom_build(vals.select("v"), "v", m, k)
    b2 = SK.bloom_build(vals.select("v"), "v", m * 2, k)
    with pytest.raises(PySparkException, match="raw union"):
        SK.bloom_probe(vals, "id", "v", b1.unionByName(b2), m, k).collect()


def _has_broadcast_hint(df) -> bool:
    return "strategy=broadcast" in (
        df._jdf.queryExecution().analyzed().toString()
    )


def _budget_warnings(rec) -> int:
    """The UserWarnings among recorded warnings (a collect can also
    leave py4j ResourceWarnings), each asserted to be the budget one."""
    msgs = [str(w.message) for w in rec if issubclass(w.category, UserWarning)]
    assert all("broadcast budget" in m for m in msgs), msgs
    return len(msgs)


def test_bloom_probe_shuffle_strategy_identical(spark, monkeypatch):
    """Over BLOOM_BROADCAST_BUDGET_BYTES the probe picks the plain
    (shuffle) join itself: the flags equal the broadcast probe's, the
    analyzed plan carries no broadcast hint and exactly one warning is
    emitted."""
    import warnings

    from timebox_spark.operators import sketches as SK

    m, k = 1 << 14, 5
    built = spark.range(0, 200).selectExpr("md5(CAST(id AS STRING)) AS v")
    bloom = SK.bloom_build(built, "v", m, k)
    probe = spark.range(0, 400).selectExpr(
        "id", "md5(CAST(id AS STRING)) AS v"
    )
    within = SK.bloom_probe(probe, "id", "v", bloom, m, k)
    assert _has_broadcast_hint(within)
    b = {r["id"]: r["maybe_present"] for r in within.collect()}
    assert all(b[i] for i in range(200))  # no false negatives

    # the module budget is read at call time
    monkeypatch.setattr(SK, "BLOOM_BROADCAST_BUDGET_BYTES", 8)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        over = SK.bloom_probe(probe, "id", "v", bloom, m, k)
    assert _budget_warnings(rec) == 1
    assert not _has_broadcast_hint(over)
    assert {r["id"]: r["maybe_present"] for r in over.collect()} == b


def test_bloom_broadcast_budget_raises_and_dedup_falls_back(
    spark, monkeypatch
):
    """Over the broadcast budget the probe no longer raises: the gated
    incremental_exact_dedup falls back to the plain join with exactly
    one warning and still matches the ungated result."""
    import warnings

    from timebox_spark.operators import dedup as DD
    from timebox_spark.operators import sketches as SK

    m, k = 1 << 14, 5
    monkeypatch.setattr(SK, "BLOOM_BROADCAST_BUDGET_BYTES", 8)
    corpus = spark.createDataFrame(
        [(1, "alpha body"), (2, "beta body")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "alpha body"), (11, "fresh body")], "doc_id long, text string"
    )
    cbloom = SK.bloom_build(DD.corpus_fingerprints(corpus), "__fp", m, k)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        gated = {
            r["doc_id"]
            for r in DD.incremental_exact_dedup(
                batch, corpus, corpus_bloom=cbloom, bloom_m=m, bloom_k=k
            ).collect()
        }
    assert _budget_warnings(rec) == 1
    plain = {
        r["doc_id"]
        for r in DD.incremental_exact_dedup(batch, corpus).collect()
    }
    assert gated == plain == {11}


# ------------------------------------------------------- count-min

def _cms_fixture(spark, width=64, depth=3):
    from timebox_spark.operators import sketches as SK

    vals = [(i, f"dom{i % 37}.com") for i in range(1000)] + [(9999, None)]
    df = spark.createDataFrame(vals, "id long, v string")
    return SK, df, SK.cms_build(df, "v", width=width, depth=depth)


def test_cms_never_undercounts_and_absent_is_zero(spark):
    SK, df, cms = _cms_fixture(spark)
    probe = spark.createDataFrame(
        [(k, f"dom{k}.com") for k in range(40)] + [(100, "absent.net")],
        "id long, v string",
    )
    est = {
        r["id"]: r["est_count"]
        for r in SK.cms_query(probe, "id", "v", cms, 64, 3).collect()
    }
    true = {k: (1000 + 36 - k) // 37 if k < 37 else 0 for k in range(40)}
    for k in range(40):
        assert est[k] >= true[k], (k, est[k], true[k])
    assert est[100] >= 0  # absent value can only over-count


def test_cms_query_over_budget_estimates_without_broadcast(
    spark, monkeypatch
):
    """Over the broadcast budget cms_query returns the same estimates
    through a plain join (one warning, no broadcast hint) instead of
    raising."""
    import warnings

    SK, df, cms = _cms_fixture(spark)
    probe = df.filter("id < 60")
    want = {
        r["id"]: r["est_count"]
        for r in SK.cms_query(probe, "id", "v", cms, 64, 3).collect()
    }
    monkeypatch.setattr(SK, "BLOOM_BROADCAST_BUDGET_BYTES", 8)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        over = SK.cms_query(probe, "id", "v", cms, 64, 3)
    assert _budget_warnings(rec) == 1
    assert not _has_broadcast_hint(over)
    assert {r["id"]: r["est_count"] for r in over.collect()} == want


def test_cms_merge_equals_whole_and_mixed_geometry_raises(spark):
    import pytest

    SK, df, cms = _cms_fixture(spark)
    whole = sorted(
        (r["row"], r["idx"], r["cnt"])
        for r in cms.collect()
        if r["row"] >= 0
    )
    h1 = SK.cms_build(df.filter("id < 500"), "v", width=64, depth=3)
    h2 = SK.cms_build(df.filter("id >= 500"), "v", width=64, depth=3)
    merged = sorted(
        (r["row"], r["idx"], r["cnt"])
        for r in SK.cms_merge(h1.unionByName(h2)).collect()
        if r["row"] >= 0
    )
    assert merged == whole
    other = SK.cms_build(df, "v", width=128, depth=3)
    with pytest.raises(ValueError, match="conflicting"):
        SK.cms_merge(h1.unionByName(other))
    with pytest.raises(ValueError, match="CONFLICTING"):
        SK.cms_query(df, "id", "v", h1.unionByName(other), 64, 3)
    with pytest.raises(ValueError, match="geometry|built with"):
        SK.cms_query(df, "id", "v", cms, 128, 3)


def test_cms_query_defensive_on_raw_union(spark):
    """A raw union of per-cycle sketches (no cms_merge) must estimate
    as if merged — cms_query re-aggregates cells with SUM before the
    join (the bloom advisor-finding pattern, sum-flavored)."""
    SK, df, cms = _cms_fixture(spark)
    h1 = SK.cms_build(df.filter("id < 500"), "v", width=64, depth=3)
    h2 = SK.cms_build(df.filter("id >= 500"), "v", width=64, depth=3)
    probe = spark.createDataFrame([(0, "dom0.com")], "id long, v string")
    merged_est = SK.cms_query(probe, "id", "v", cms, 64, 3).collect()[0][
        "est_count"
    ]
    raw_est = SK.cms_query(
        probe, "id", "v", h1.unionByName(h2), 64, 3
    ).collect()[0]["est_count"]
    assert raw_est == merged_est


def test_cms_stats_mode_fused_scan(spark):
    """Round 17: ``_cms_stats_mode`` answers the geometry validation
    AND the weightedness read in ONE aggregation job (the ingest gate
    ran ``_cms_stats`` + ``cms_is_weighted`` back-to-back over the
    same tree). Same raises, same mode semantics as the pair."""
    import pytest

    SK, df, cms = _cms_fixture(spark)
    wdf = df.withColumn("w", (F.col("id") % 7).cast("long"))
    wcms = SK.cms_build(wdf, "v", width=64, depth=3, weight="w")

    # mode read matches cms_is_weighted across all three states
    n_cnt, mode_cnt = SK._cms_stats_mode(cms, 64, 3, "t")
    assert mode_cnt is SK.cms_is_weighted(cms) is False
    assert n_cnt == SK._cms_stats(cms, 64, 3, "t")
    _, mode_w = SK._cms_stats_mode(wcms, 64, 3, "t")
    assert mode_w is SK.cms_is_weighted(wcms) is True
    legacy = cms.filter("row >= 0")  # pre-sentinel tree
    _, mode_legacy = SK._cms_stats_mode(legacy, 64, 3, "t")
    assert mode_legacy is SK.cms_is_weighted(legacy) is None

    # the pair's raises survive the fusion: mode mix, geometry mix,
    # call-vs-tree mismatch
    mixed = cms.unionByName(wcms)
    with pytest.raises(ValueError, match="mixes count-mode"):
        SK._cms_stats_mode(mixed, 64, 3, "t")
    other = SK.cms_build(df, "v", width=128, depth=3)
    with pytest.raises(ValueError, match="CONFLICTING"):
        SK._cms_stats_mode(cms.unionByName(other), 64, 3, "t")
    with pytest.raises(ValueError, match="built with"):
        SK._cms_stats_mode(cms, 128, 3, "t")
    # the check_mode=False contract (_cms_stats delegation, the
    # cms_query path) must NOT newly raise on a mode mix
    assert SK._cms_stats(mixed, 64, 3, "t") == mixed.filter(
        "row >= 0"
    ).count()


def test_cms_heavy_hitters_gate(spark):
    SK, df, cms = _cms_fixture(spark)
    cands = spark.createDataFrame(
        [(k, f"dom{k}.com") for k in range(50)], "id long, v string"
    )
    hh = SK.cms_heavy_hitters(cands, "id", "v", cms, 20, 64, 3)
    ids = {r["id"] for r in hh.collect()}
    # every true heavy hitter (true count 27-28 >= 20) must survive
    assert set(range(37)) <= ids


# ----------------------------------------------- round 15: pruned fps scan


def _fps_scan_leaf(df, path_fragment):
    """The FileSourceScanExec leaf over the fps tree (by root path) in
    df's EXECUTED plan, or None."""
    plan = df._jdf.queryExecution().executedPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        if "FileSourceScan" in node.getClass().getSimpleName():
            if path_fragment in _leaf_scan_paths(node):
                return node
        # children() covers unary wrappers (WholeStageCodegen,
        # InputAdapter) too — do NOT also push node.child(), that
        # enqueues every unary child twice and the walk goes
        # exponential on deep plans
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return None


def _write_prunable_fps_tree(spark, corpus, path):
    """A production-layout fps tree: binary __fp sorted by value, many
    small row groups so row-group stats pruning is observable at test
    size."""
    from timebox_spark.operators import dedup as DD

    fps = DD.corpus_fingerprints(corpus).select(F.unhex("__fp").alias("__fp"))
    (
        fps.repartitionByRange(2, "__fp")
        .sortWithinPartitions("__fp")
        .write.mode("overwrite")
        .option("parquet.block.size", 16 * 1024)
        .parquet(path)
    )


def test_gated_dedup_prunes_fps_scan(spark, tmp_path):
    """Round-15 verdict task 1 (the round-14 `weak`): with the gate on
    and a batch-bounded maybe set, the fps scan must carry a pushed
    In/EqualTo predicate on __fp and surface only the row groups that
    can contain a maybe fingerprint — O(batch) IO, not O(corpus)."""
    from timebox_spark.operators import dedup as DD
    from timebox_spark.operators import sketches as SK

    n = 20_000
    corpus = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("corpus doc body "), F.col("id")).alias("text"),
    )
    fps_dir = str(tmp_path / "r15_fps_bin")
    _write_prunable_fps_tree(spark, corpus, fps_dir)
    fps = spark.read.parquet(fps_dir)
    assert dict(fps.dtypes)["__fp"] == "binary"
    m, k = 1 << 16, 5
    # the sketch hashes hex (what the batch probes with)
    bloom = SK.bloom_build(
        fps.select(DD._fp_hex("__fp").alias("__fp")), "__fp", m, k
    )
    batch = spark.createDataFrame(
        [(100_000, "corpus doc body 3"), (100_001, "fresh body")],
        "doc_id long, text string",
    )
    # AQE wraps stages in AdaptiveSparkPlanExec whose children() the
    # walker can't descend (round-14 test convention: walk non-AQE)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        gated = DD.incremental_exact_dedup(
            batch, corpus, corpus_fps=fps, corpus_bloom=bloom,
            bloom_m=m, bloom_k=k,
        )
        assert {r["doc_id"] for r in gated.collect()} == {100_001}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    leaf = _fps_scan_leaf(gated, "r15_fps_bin")
    assert leaf is not None, "fps scan not found in gated plan"
    pushed = str(leaf.metadata().apply("PushedFilters"))
    assert "__fp" in pushed and ("In(" in pushed or "EqualTo(" in pushed), pushed
    scanned = leaf.metrics().apply("numOutputRows").value()
    # the tree has 20k fingerprints in ~16KiB row groups; a 1-2 value
    # maybe set must surface a handful of row groups, not the corpus
    assert scanned < n // 4, f"fps scan surfaced {scanned} of {n} rows"


def test_incremental_exact_dedup_refuses_string_fps_tree(spark):
    """fps trees hold one type, the 16-byte binary md5: a hex-string
    ``corpus_fps`` (a pre-binary store) is refused at call time with
    a rebuild hint, on the gated and gate-less paths alike."""
    from timebox_spark.operators import dedup as DD
    from timebox_spark.operators import sketches as SK

    corpus = spark.createDataFrame(
        [(1, "corpus doc body")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "corpus doc body")], "doc_id long, text string"
    )
    hex_fps = DD.corpus_fingerprints(corpus)
    m, k = 1 << 14, 5
    bloom = SK.bloom_build(hex_fps, "__fp", m, k)
    with pytest.raises(ValueError, match="rebuild the store"):
        DD.incremental_exact_dedup(batch, corpus, corpus_fps=hex_fps)
    with pytest.raises(ValueError, match="rebuild the store"):
        DD.incremental_exact_dedup(
            batch, corpus, corpus_fps=hex_fps, corpus_bloom=bloom,
            bloom_m=m, bloom_k=k,
        )


@pytest.mark.parametrize(
    "site", ["__fp", "key", "doc_id"], ids=["fps", "band_keys", "cand_ids"]
)
def test_gated_dedup_maybe_overflow_falls_back_identical(
    spark, tmp_path, monkeypatch, site
):
    """A key set past FPS_PRUNE_ISIN_MAX (a saturated sketch) must
    fall back to the broadcast semi-join at each prune site — the fps
    scan, the band keys and the candidate ids — and keep exactly the
    rows of the ungated compact_corpus."""
    from timebox_spark.operators import dedup as DD
    from timebox_spark.operators import sketches as SK
    from timebox_spark.streaming import ingest

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa quebec")
    corpus = spark.createDataFrame(
        [(i, f"{base} corpus tail {i}") for i in range(30)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "r15_ovf")
    _write_prunable_fps_tree(spark, corpus, p)
    fps = spark.read.parquet(p)
    banded, sets = DD.build_corpus_index(corpus)
    m, k = 1 << 16, 5
    bloom = SK.bloom_build(
        fps.select(DD._fp_hex("__fp").alias("__fp")), "__fp", m, k
    )
    band_bloom = SK.bloom_build(banded.select("key"), "key", m, k)
    batch = spark.createDataFrame(
        [(500, f"{base} corpus tail 1"),      # exact dup of corpus 1
         (501, f"{base} corpus tail 2"),      # exact dup of corpus 2
         (502, f"{base} corpus tail 7 x"),    # near-dup of corpus 7
         (503, "utterly unrelated words nothing shares a shingle "
               "with the corpus documents at all here today")],
        "doc_id long, text string",
    )

    def kept(**gates):
        return {
            r["doc_id"]
            for r in ingest.compact_corpus(
                batch, corpus, near_dup=True, threshold=0.5,
                corpus_index=(banded, sets), corpus_fps=fps, **gates,
            ).collect()
        }

    plain = kept()
    assert plain == {503}, plain
    # cap the targeted site at 1 key, leave the others on the In path
    real = DD.prune_to_keys
    fell_back = []

    def spy(tree, col, keys):
        monkeypatch.setattr(DD, "FPS_PRUNE_ISIN_MAX", 1 if col == site else 512)
        out = real(tree, col, keys)
        if "LeftSemi" in out._jdf.queryExecution().logical().toString():
            fell_back.append(col)
        return out

    monkeypatch.setattr(DD, "prune_to_keys", spy)
    gated = kept(
        corpus_bloom=bloom, bloom_m=m,
        corpus_band_bloom=band_bloom, band_bloom_m=m,
    )
    assert fell_back == [site]
    assert gated == plain


def test_incremental_dedup_null_text_keep_one_pinned(spark, tmp_path):
    """Round-15 verdict task 7: NULL-text rows share a NULL
    fingerprint — they never match the corpus, and exactly ONE per
    batch survives (smallest id), identically on the gated and
    gate-less paths (matches batch exact_dedup, where groupBy also
    pools NULL fingerprints)."""
    from timebox_spark.operators import dedup as DD
    from timebox_spark.operators import sketches as SK

    corpus = spark.createDataFrame(
        [(1, "corpus doc body"), (2, None)], "doc_id long, text string"
    )
    p = str(tmp_path / "r15_null_fps")
    _write_prunable_fps_tree(spark, corpus, p)
    fps = spark.read.parquet(p)
    m, k = 1 << 14, 5
    bloom = SK.bloom_build(
        fps.select(F.lower(F.hex("__fp")).alias("__fp")), "__fp", m, k
    )
    batch = spark.createDataFrame(
        [(10, None), (11, None), (12, "fresh"), (13, "corpus doc body")],
        "doc_id long, text string",
    )
    want = {10, 12}  # one NULL survivor (smallest id) + the fresh doc
    gated = {
        r["doc_id"]
        for r in DD.incremental_exact_dedup(
            batch, corpus, corpus_fps=fps, corpus_bloom=bloom,
            bloom_m=m, bloom_k=k,
        ).collect()
    }
    plain = {
        r["doc_id"]
        for r in DD.incremental_exact_dedup(
            batch, corpus, corpus_fps=fps
        ).collect()
    }
    assert gated == plain == want


def test_bloom_probe_inline_validation_identical_and_raises(spark):
    """Round 18: sentinel validation rides the probe plan as a per-row
    assert — no eager full-tree scan. Probing a valid multi-partition
    raw union equals probing its ``bloom_merge`` bit-for-bit, and the
    no-false-negative guards still hold: a mismatched (m_bits, k)
    call and a conflicting-geometry raw union both RAISE from the
    probe's first action (the assert runs BEFORE the defensive bit_or
    merge, so aggregation can never alias the conflict past the
    check). Building the probe plan launches no check of its own."""
    from pyspark.errors import PySparkException

    from timebox_spark.operators import sketches as SK

    m, k = 1 << 16, 5
    vals = spark.range(0, 400).selectExpr(
        "id", "md5(CAST(id AS STRING)) AS v"
    )
    ins = vals.filter("id % 2 = 0")
    # raw union of two same-geometry per-cycle sketches — the shape
    # run_ingest_cycle's gates probe (duplicate words + duplicate
    # sentinels merge inside the probe)
    b1 = SK.bloom_build(ins.filter("id < 200").select("v"), "v", m, k)
    b2 = SK.bloom_build(ins.filter("id >= 200").select("v"), "v", m, k)
    tree = b1.unionByName(b2)
    merged = {
        r["id"]: r["maybe_present"]
        for r in SK.bloom_probe(
            vals, "id", "v", SK.bloom_merge(tree), m, k
        ).collect()
    }
    raw = {
        r["id"]: r["maybe_present"]
        for r in SK.bloom_probe(vals, "id", "v", tree, m, k).collect()
    }
    assert raw == merged
    assert all(raw[i] for i in range(0, 400, 2)), "false negative!"

    # mismatched call parameters: the plan builds, the first action
    # raises with the sentinel contract in its message
    bad_m = SK.bloom_probe(vals, "id", "v", tree, m * 2, k)
    with pytest.raises(PySparkException, match="m_bits"):
        bad_m.collect()
    with pytest.raises(PySparkException, match="m_bits"):
        SK.bloom_probe(vals, "id", "v", tree, m, k + 1).collect()
    # conflicting-geometry union: bit_or of the two m sentinels could
    # alias past a POST-merge check; the per-row assert fires on
    # whichever row disagrees with the call
    other = SK.bloom_build(ins.select("v"), "v", m * 2, k)
    with pytest.raises(PySparkException, match="m_bits"):
        SK.bloom_probe(
            vals, "id", "v", tree.unionByName(other), m, k
        ).collect()


def _jvm_values(spark):
    # JVM-only input: any Python RDD in a plan is then the sketch's own
    return spark.range(300).selectExpr("id", "concat('v', id) AS v")


def test_sketch_builders_gateway_round_trip_budget(spark, gateway_round_trips):
    """Each sketch declares its hash family as SQL text in one
    projection, so building a plan costs a bounded number of py4j
    round trips, not a few per Column method per hash (built as
    Column trees they cost 473-1,122)."""
    from timebox_spark.operators import sketches as SK

    vals = _jvm_values(spark)
    n_bb, bloom = gateway_round_trips(lambda: SK.bloom_build(vals, "v"))
    n_cb, cms = gateway_round_trips(lambda: SK.cms_build(vals, "v"))
    counts = {
        "bloom_build": n_bb,
        "bloom_probe": gateway_round_trips(
            lambda: SK.bloom_probe(vals, "id", "v", bloom)
        )[0],
        "cms_build": n_cb,
        # includes the geometry-check collect
        "cms_query": gateway_round_trips(
            lambda: SK.cms_query(vals, "id", "v", cms)
        )[0],
    }
    assert max(counts.values()) <= 250, counts


def test_sketch_builders_scan_no_python_rdd(spark):
    """Sentinel rows come from a SQL ``VALUES`` relation: no sketch
    plan scans a Python RDD (a ``createDataFrame(list)`` relation is
    one, and its stage starts Python workers)."""
    from timebox_spark.operators import sketches as SK

    vals = _jvm_values(spark)
    bloom = SK.bloom_build(vals, "v")
    cms = SK.cms_build(vals, "v")
    for df in (
        bloom, cms, SK.bloom_probe(vals, "id", "v", bloom),
        SK.cms_query(vals, "id", "v", cms),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
