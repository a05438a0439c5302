"""Physical-plan regression tests: the properties that make these
queries scale (pushdown, pruning, join strategy) are asserted, not
just eyeballed — a regression to a nested-loop join or a full-schema
scan fails CI."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from tests.conftest import SF_SMOKE
from timebox_spark.plans import queries as Q


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_agg_pushdown_and_pruning(spark):
    plan = _plan(Q.q11_filter_agg(spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: only the 4 needed columns reach the scan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read and "l_extendedprice" in read
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_join_topk_broadcasts_dim_no_bnlj(spark):
    plan = _plan(Q.q12_join_topk(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_range_join_is_equi_join(spark):
    plan = _plan(Q.q35_range_join(spark, SF_SMOKE))
    # the bucketing rewrite must keep this a hash/merge equi-join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_single_shuffle_no_join_explosion(spark):
    plan = _plan(Q.q16b_asof_by_user(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange") <= 6  # union + window shuffles only


def test_events_scan_prunes_columns(spark):
    plan = _plan(Q.q15_time_bucket(spark, SF_SMOKE))
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read and "user_id" not in read


def _shuffles(plan: str) -> int:
    """Shuffle exchanges in the formatted plan (each node appears
    twice: once in the tree, once in the detail list)."""
    return (plan.count("Exchange") - plan.count("BroadcastExchange")) // 2


def test_q50_all_dims_broadcast_one_shuffle(spark):
    plan = _plan(Q.q50_tpch_q5_shape(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the fact-side agg is the only shuffle; every dim join is broadcast
    assert _shuffles(plan) <= 1


def test_q49_unpivot_is_map_only(spark):
    plan = _plan(Q.q49_unpivot(spark, SF_SMOKE))
    assert _shuffles(plan) == 0
    assert "Expand" in plan


def test_q48_cube_single_shuffle(spark):
    plan = _plan(Q.q48_cube(spark, SF_SMOKE))
    assert "Expand" in plan  # grouping sets expanded map-side
    assert _shuffles(plan) <= 1


def test_q54_curation_single_shuffle(spark):
    from timebox_spark.plans import llm_queries as LQ

    plan = _plan(LQ.q54_curation_pipeline(spark, SF_SMOKE))
    # annotate/gate/split are map-side; the fingerprint-dedup window
    # is the only data-sized exchange. At this smoke SF the
    # ensure_parallelism guard adds one round-robin fan-out of the
    # single-file scan; at scale that guard is a no-op (see SCALE.md),
    # so the budget is dedup-shuffle + small-scan fan-out.
    assert _shuffles(plan) <= 2
    assert "CartesianProduct" not in plan


def test_q59_pushdown_no_cartesian_topk_no_global_sort(spark):
    plan = _plan(Q.q59_tpch_q3_shape(spark, SF_SMOKE))
    # filters reach all three scans; join stays hash-based
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # top-10 must be a per-partition heap, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_q57_pair_join_broadcasts_bucket_table(spark):
    plan = _plan(Q.q57_corr_matrix(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q58_stats_join_broadcast_two_scans_max(spark):
    plan = _plan(Q.q58_anomaly_zscore(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # events scan reads only the two needed columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read and "user_id" not in read


def test_q56_interpolate_windows_are_keyed(spark):
    plan = _plan(Q.q56_interpolate(spark, SF_SMOKE))
    # every Window in the plan is partitioned by event_type -- no
    # single-task global window on data-sized input
    for line in plan.splitlines():
        if "Window" in line and "partition" in line.lower():
            assert "event_type" in line


# ---------------- mechanical no-single-task invariant (SCALE.md)

def _single_partition_offenders(plan: str) -> list[str]:
    """Lines where an Exchange SinglePartition is fed by an UNREDUCED
    table scan: its subtree reaches a FileScan/Scan with no Aggregate
    or Limit in between — the one plan shape that cannot survive a
    100x scale-up. Post-aggregate single partitions (tiny inputs:
    bucket summaries, 1-row digests, broadcast prefixes) are fine.
    """
    import re

    lines = plan.splitlines()

    def start_col(ln: str) -> int:
        return re.match(r"^[\s:+\-*]*", ln).end()

    offenders = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        col = start_col(ln)
        reduced = False
        scans = False
        for sub in lines[i + 1 :]:
            if sub.strip() and start_col(sub) <= col:
                break
            if re.search(r"Aggregate|Limit|TakeOrdered|CollectLimit", sub):
                reduced = True
                break  # everything deeper is below a reduction
            if re.search(r"FileScan|Scan parquet|BatchScan|Scan ExistingRDD", sub):
                scans = True
        if scans and not reduced:
            offenders.append(ln.strip())
    return offenders


# fact tables, identified in the ANALYZED logical plan by a column
# only that table's unpruned Relation carries — data-sized at
# production scale, so an explicit broadcast() hint on an unreduced,
# unfiltered subtree of one would materialize the table on every
# executor. Catalyst AUTO-broadcasts (size-estimation based) are NOT
# flagged: they correctly become shuffle joins once the fact exceeds
# the threshold at real scale; the hint overrides size checks and is
# the local-bench-invisible scale-killer.
_FACT_SIGNATURES = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_type",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _broadcast_fact_offenders(plan: str) -> list[str]:
    """``ResolvedHint (strategy=broadcast)`` nodes (the analyzed-plan
    form of an explicit ``F.broadcast(...)``) whose subtree reaches a
    fact-table Relation with NO reduction (Aggregate/Limit/
    Deduplicate) and NO selective filter in between. A Filter counts
    as selective only if it compares against a literal (e.g.
    ``vec_id < 10``) — auto-inserted ``isnotnull`` join-key filters
    reduce nothing. Deliberate tiny subsets (filtered probes,
    aggregated prefixes) stay broadcastable."""
    import re

    lines = plan.splitlines()

    def start_col(ln: str) -> int:
        return re.match(r"^[\s:+\-*]*", ln).end()

    def selective_filter(ln: str) -> bool:
        if not ln.lstrip(" :+-*").startswith("Filter"):
            return False
        body = re.sub(r"isnotnull\([^)]*\)|isnan\([^)]*\)", "", ln)
        return bool(
            re.search(
                r"[<>]|=(?!=)|\bIN\b|\bLIKE\b|StartsWith|EndsWith|Contains|RLIKE",
                body,
            )
        )

    offenders = []
    for i, ln in enumerate(lines):
        if "ResolvedHint" not in ln or "broadcast" not in ln.lower():
            continue
        col = start_col(ln)
        guarded = False
        facts = []
        for sub in lines[i + 1 :]:
            if sub.strip() and start_col(sub) <= col:
                break
            if re.search(r"Aggregate|GlobalLimit|LocalLimit|Deduplicate", sub):
                guarded = True
                break
            if selective_filter(sub):
                guarded = True
                break
            if sub.lstrip(" :+-*").startswith("Relation"):
                for fact, sig in _FACT_SIGNATURES.items():
                    if sig in sub:
                        facts.append(fact)
        if facts and not guarded:
            offenders.append(f"{ln.strip()} <- unguarded broadcast of {facts}")
    return offenders


def _analyzed_plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _driver_query_names():
    from timebox_spark.plans import suites

    # streaming queries run a stateful drain inside the builder — their
    # returned frame is a batch agg over the drained sink; walking them
    # would execute the stream here, so they're covered by their own
    # streaming tests instead
    return [
        n for n in suites.DRIVER_QUERIES
        if n not in (
            "q65_stream_hourly",
            "q66_stream_join",
            "q67_stream_zscore",
            "q68_stream_suite",
        )
    ]


def _simple_plan(df) -> str:
    # the one-line-per-operator form ("Exchange SinglePartition ...");
    # explain("formatted") splits operator name and arguments across
    # sections, which a line walker cannot pair up
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", _driver_query_names())
def test_no_unreduced_single_partition_exchange(name, spark):
    from timebox_spark.plans import suites

    df = suites.DRIVER_QUERIES[name](spark, SF_SMOKE)
    offenders = _single_partition_offenders(_simple_plan(df))
    assert not offenders, f"{name}: {offenders}"


@pytest.mark.parametrize("name", _driver_query_names())
def test_no_unguarded_fact_broadcast(name, spark):
    from timebox_spark.plans import suites

    df = suites.DRIVER_QUERIES[name](spark, SF_SMOKE)
    offenders = _broadcast_fact_offenders(_analyzed_plan(df))
    assert not offenders, f"{name}: {offenders}"


def _bench_headline():
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    return bench.HEADLINE


@pytest.mark.parametrize("name", sorted(_bench_headline()))
def test_bench_queries_pass_plan_invariants(name, spark):
    """The benched set includes fast-path variants that are not driver
    keys (q25 minhash kernel path, q47 IVF) — hold them to the same
    mechanical scale invariants as the driver queries."""
    df = _bench_headline()[name](spark, SF_SMOKE)
    assert not _single_partition_offenders(_simple_plan(df)), name
    assert not _broadcast_fact_offenders(_analyzed_plan(df)), name


def test_broadcast_walker_catches_bad_plan(spark):
    # negative self-test: an explicitly hinted whole-fact broadcast
    # MUST be flagged; a literal-filtered subset, an aggregated
    # summary, a dimension broadcast, and an AUTO (unhinted) join of
    # the same fact must NOT
    from pyspark.sql import functions as F
    from timebox_spark.plans.tables import load

    ev = load(spark, SF_SMOKE, "events")
    na = load(spark, SF_SMOKE, "nation")
    bad = na.join(
        F.broadcast(ev.select("user_id", "value")),
        na.n_nationkey == F.col("user_id"),
    )
    assert _broadcast_fact_offenders(_analyzed_plan(bad))
    ok = na.join(
        F.broadcast(ev.filter(F.col("event_id") < 10).select("user_id")),
        na.n_nationkey == F.col("user_id"),
    )
    assert not _broadcast_fact_offenders(_analyzed_plan(ok))
    agg = na.join(
        F.broadcast(ev.groupBy("user_id").count()),
        na.n_nationkey == F.col("user_id"),
    )
    assert not _broadcast_fact_offenders(_analyzed_plan(agg))
    dims = ev.join(F.broadcast(na), ev.user_id == na.n_nationkey)
    assert not _broadcast_fact_offenders(_analyzed_plan(dims))
    auto = na.join(
        ev.select("user_id", "value"), na.n_nationkey == F.col("user_id")
    )
    assert not _broadcast_fact_offenders(_analyzed_plan(auto))


def test_single_partition_walker_catches_bad_plan(spark):
    # sanity for the walker itself: an unkeyed global-window plan over
    # a table scan MUST be flagged
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from timebox_spark.plans.tables import load

    events = load(spark, SF_SMOKE, "events")
    bad = events.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts"))
    )
    assert _single_partition_offenders(_simple_plan(bad))


def test_unkeyed_delta_paths_are_bucketed(spark):
    """delta_encode / delta_decode without partition_by
    must run the bucketed-carry plan (no data-sized single-partition
    exchange) and still be exact vs the keyed/window semantics."""
    from timebox_spark.operators import kernels
    from timebox_spark.plans.tables import load

    events = load(spark, SF_SMOKE, "events").select("ts", "event_id", "value")
    # shared-bounds composition: one auto_bucket bounds agg for the
    # whole unkeyed pipeline instead of one per kernel call
    bkt = kernels.auto_bucket(events, ["ts", "event_id"])
    enc = kernels.delta_encode(
        events, "value", order_by=["ts", "event_id"], bucket=bkt
    )
    assert not _single_partition_offenders(_simple_plan(enc))
    dec = kernels.delta_decode(
        enc, "value_delta", "value", order_by=["ts", "event_id"], bucket=bkt
    )
    assert not _single_partition_offenders(_simple_plan(dec))

    # exactness: reconstruct == original value everywhere
    from pyspark.sql import functions as F

    bad = dec.filter(
        F.abs(F.col("reconstructed") - F.col("value")) > 1e-9
    ).count()
    assert bad == 0


def test_token_budget_default_cumsum_is_bucketed(spark):
    """Round 17 (round-16 verdict task 1): token budgets are quoted
    per SOURCE, a handful of groups at 100 TB — the default-order
    cumulative sum must NOT be a bare Window.partitionBy(group)
    (each source's whole data through one sort task). The data-sized
    window must carry the monotone bucket key; the only group-keyed
    window allowed is the one over the REDUCED per-bucket summary
    (the bucketed-carry rule)."""
    from pyspark.sql import functions as F

    from timebox_spark.operators.sampling import token_budget_per_group
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents").withColumn(
        "__nt", F.length("text").cast("long")
    )
    kept = token_budget_per_group(
        docs, group_col="source", token_col="__nt", budget=700
    )
    plan = _plan(kept)
    # the data-sized cumsum window (the kernel sums __v0 =
    # coalesce(__tb_v, 0)) is bucketed: its windowspecdefinition
    # includes the __bkt partition key. The only other window is the
    # per-bucket summary prefix (sum(__s) over the REDUCED agg).
    data_windows = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "sum(__v0" in ln
    ]
    assert data_windows, plan
    assert all("__bkt" in ln for ln in data_windows), data_windows
    # and no single-partition exchange anywhere in the plan
    assert not _single_partition_offenders(_simple_plan(kept))


def test_cross_contamination_corpus_sets_candidate_bounded(spark):
    """Round 17 (round-16 verdict task 3): the decontamination verify
    stage must not re-shingle the whole corpus — the corpus-side
    shingle-set computation sits ABOVE a LeftSemi join on the
    candidate ids (Catalyst cannot push a join below the shingle
    projection, so the pre-filter must be explicit in the plan)."""
    from timebox_spark.operators import dedup
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    probes = docs.filter("doc_id % 10 = 6").selectExpr(
        "doc_id + 7000000 as doc_id", "text || ' probe' as text"
    )
    # the __sh projection feeding the verify join sits above a LeftSemi
    out_p = dedup.cross_minhash_contamination(docs, probes, threshold=0.35)
    assert "LeftSemi" in _plan(out_p)


def test_classifier_topk_map_only_take(spark):
    """Hashed-linear classifier scoring is map-only JVM expressions +
    TakeOrderedAndProject — zero shuffles at any corpus size."""
    from timebox_spark.operators import text as T
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    plan = _plan(T.classifier_topk(docs))
    assert "TakeOrderedAndProject" in plan
    assert _shuffles(plan) == 0, plan
    assert "Sort " not in plan  # top-k must not be a global sort


def test_bpe_pair_counts_two_reduced_shuffles(spark):
    """BPE merge counting: corpus → vocab agg → pair agg → take.
    Exactly the two reduction exchanges, no global sort."""
    from timebox_spark.operators import text as T
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    plan = _plan(T.bpe_pair_counts(docs))
    assert "TakeOrderedAndProject" in plan
    assert _shuffles(plan) == 2, plan


def test_mixture_sample_broadcasts_rate_table(spark):
    """The O(n_groups) rate table joins back by broadcast — the
    corpus side is never shuffled for the join."""
    from timebox_spark.operators.sampling import mixture_sample
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    plan = _plan(mixture_sample(docs, group_col="lang"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_perplexity_pipeline_no_cartesian_no_global_sort(spark):
    """The bigram-LM pipeline joins on bigram/context keys only; the
    one-row vocab count is the only nested-loop (broadcast) join and
    selection is TakeOrderedAndProject."""
    from timebox_spark.operators import text as T
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    plan = _plan(T.perplexity_topk(docs))
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_repetition_mass_two_reduced_shuffles(spark):
    """Gopher char-mass: explode → (doc,gram) count → per-doc max —
    keyed aggregations only, plus the doc-id join back; top-k is
    TakeOrderedAndProject, never a global sort."""
    from timebox_spark.operators import text as T
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    plan = _plan(T.repetition_topk(docs))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_kl_divergence_grid_is_broadcast(spark):
    """The (group × vocab) grid comes from broadcasting the K-word
    vocab and one-row totals — the corpus-sized table is never on
    the build side of a nested-loop join."""
    from timebox_spark.operators import text as T
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    plan = _plan(T.source_kl_divergence(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_text_embedding_topk_broadcasts_queries(spark):
    """Text retrieval: inference is map-only; the query side is
    broadcast; ranking is a keyed window."""
    from timebox_spark.operators import similarity as S
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    plan = _plan(S.text_embedding_topk(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan


def test_line_dedup_keyed_shuffles_no_cartesian(spark):
    """Line dedup: explode → line-fingerprint agg → semi-join back →
    per-doc reassembly. Every exchange is keyed (fingerprint or doc
    id); no cartesian product, no unkeyed window, no global sort."""
    from timebox_spark.operators import dedup as D
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    plan = _plan(D.line_dedup(docs, D.chunk_lines("text", 8)))
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "GlobalSort" not in plan and "Sort [" not in plan.split("\n")[0]


def test_portable_neardup_lsh_bucket_equijoin(spark):
    """The portable LSH near-dup path must candidate-generate via a
    bucket equi-join (SMJ/SHJ on tbl+bkt), never an all-pairs
    product; the top-n tail is TakeOrderedAndProject, not a global
    sort + limit over an exchange to one partition."""
    from timebox_spark.operators import dedup as D
    from timebox_spark.plans.tables import load

    emb = load(spark, SF_SMOKE, "embeddings")
    plan = _plan(D.portable_embedding_near_dups_lsh(emb))
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_bpe_vocab_round_is_map_only_after_checkpoint(spark):
    """A BPE merge round over the checkpointed vocab is pair-agg +
    TakeOrdered: one reduction shuffle, and applying the merge is a
    map-only replace (zero exchanges)."""
    from pyspark.sql import functions as F2

    from timebox_spark.operators import text as T
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    vocab = T._bpe_vocab(docs, "text").localCheckpoint(eager=True)
    round_plan = _plan(
        T._bpe_pair_counts_from(vocab).orderBy(F2.desc("n"), "a", "b").limit(1)
    )
    assert "TakeOrderedAndProject" in round_plan
    assert _shuffles(round_plan) == 1, round_plan
    apply_plan = _plan(
        vocab.withColumn("seq", F2.replace(F2.col("seq"), F2.lit("x"), F2.lit("y")))
    )
    assert _shuffles(apply_plan) == 0, apply_plan


def test_save_bucketed_colocated_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key with the same bucket count
    must plan their join with ZERO hashpartitioning exchanges, and a
    groupBy on the bucket key must skip its exchange; the same join
    over plain parquet (negative self-test) must shuffle."""
    from timebox_spark.plans.tables import load
    from timebox_spark.table import save_bucketed

    ev = load(spark, SF_SMOKE, "events")
    ta = save_bucketed(
        ev, "tb_test_bkt_a", str(tmp_path / "a"), "user_id", 4
    )
    per_user = ta.groupBy("user_id").count()
    tb = save_bucketed(
        per_user, "tb_test_bkt_b", str(tmp_path / "b"), "user_id", 4
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "Exchange hashpartitioning" not in plan(ta.join(tb, "user_id"))
    assert "Exchange hashpartitioning" not in plan(
        ta.groupBy("user_id").agg({"value": "sum"})
    )
    # negative: plain parquet on both sides shuffles
    ev.write.mode("overwrite").parquet(str(tmp_path / "plain"))
    plain = spark.read.parquet(str(tmp_path / "plain"))
    pu = plain.groupBy("user_id").count()
    assert "Exchange hashpartitioning" in plan(plain.join(pu, "user_id"))


def test_jsonl_roundtrip_preserves_tricky_text(spark, tmp_path):
    """JSONL write -> read round-trips text exactly through JSON
    escaping: newlines, tabs, quotes, backslashes, unicode."""
    import pandas as pd

    from timebox_spark.sources import jsonl

    texts = [
        'line one\nline two',
        'tab\there and "quotes" and \\backslash\\',
        'unicode: café — 中文 \U0001f600',
        '',
        '   leading/trailing   ',
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    path = str(tmp_path / "jsonl_out")
    jsonl.write_jsonl(df, path)
    back = jsonl.read_jsonl(spark, path, df.schema)
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    assert got == dict(enumerate(texts))


def test_warc_roundtrip_content_length_framing(spark, tmp_path):
    """WARC write->read survives the payloads that break a
    separator-scanning reader: an embedded record separator, a nested
    'WARC/1.0' marker, multi-byte UTF-8 (octet vs char length), and
    an empty document."""
    from timebox_spark.sources import warc

    rows = [
        (0, "plain ascii doc."),
        (1, "unicode δοκιμή ünïcode 漢字."),
        (2, "embedded\r\n\r\nseparator and WARC/1.0\r\nmarker inside."),
        (3, ""),
        (4, "Content-Length: 9999 spoofed in the body."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(2)
    path = str(tmp_path / "warc_out")
    warc.write_warc(df, path)
    back = (
        warc.read_warc(spark, path)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(back) == len(rows)
    orig = dict(rows)
    for _, r in back.iterrows():
        assert r["text"] == orig[r["doc_id"]]
        assert r["target_uri"] == f"http://corpus.invalid/doc/{r['doc_id']}"


def _foreign_warc_record(doc_id: int, text: str) -> bytes:
    """Build a WARC/1.0 response record WITHOUT warc.warc_record —
    an independent construction so the reader is tested against
    foreign bytes, not its own writer."""
    body = text.encode("utf-8")
    hdr = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:foreign:{doc_id}>\r\n"
        f"WARC-Target-URI: http://corpus.invalid/doc/{doc_id}\r\n"
        "Content-Type: text/plain\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return hdr + body + b"\r\n\r\n"


def test_warc_gz_reads_foreign_multimember_shard(spark, tmp_path):
    """Round-8 verdict task 5: real Common Crawl shards are .warc.gz
    with one gzip MEMBER per record. A foreign-built multi-member
    shard (each record separately gzip.compress'ed, concatenated)
    must parse; a whole-file single-member gzip must too."""
    import gzip

    from timebox_spark.sources import warc

    texts = {
        0: "first gzip member δοκιμή.",
        1: "second member with WARC/1.0\r\n\r\n inside.",
        2: "",
    }
    members = b"".join(
        gzip.compress(_foreign_warc_record(i, t), mtime=0)
        for i, t in texts.items()
    )
    d = tmp_path / "cc_shard"
    d.mkdir()
    (d / "shard-00000.warc.gz").write_bytes(members)
    # whole-file gzip (one member over all records) in the same dir
    allrecs = b"".join(_foreign_warc_record(i + 10, t) for i, t in texts.items())
    (d / "shard-00001.warc.gz").write_bytes(gzip.compress(allrecs, mtime=0))
    got = {
        r["doc_id"]: r["text"]
        for r in warc.read_warc(spark, str(d), on_error="raise").collect()
    }
    assert got == {**texts, **{i + 10: t for i, t in texts.items()}}


def test_warc_gz_write_roundtrip_per_record_members(spark, tmp_path):
    """write_warc(compress=True) emits per-record gzip members that
    a plain stdlib reader can walk member-by-member, and read_warc
    round-trips them."""
    import gzip
    import io
    import zlib

    from timebox_spark.sources import warc

    rows = [(i, f"doc {i} body with ünïcode {i}") for i in range(7)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(2)
    path = str(tmp_path / "warc_gz_out")
    warc.write_warc(df, path, compress=True)
    import os

    names = sorted(n for n in os.listdir(path) if n.endswith(".warc.gz"))
    assert 1 <= len(names) <= 2 and not any("staging" in n for n in names)
    # member-per-record: count gzip members across the files
    n_members = 0
    for n in names:
        blob = (tmp_path / "warc_gz_out" / n).read_bytes()
        pos = 0
        while pos < len(blob):
            d = zlib.decompressobj(wbits=31)
            d.decompress(blob[pos:])
            assert d.eof
            pos = len(blob) - len(d.unused_data)
            n_members += 1
    assert n_members == len(rows)
    back = {
        r["doc_id"]: r["text"]
        for r in warc.read_warc(spark, path, on_error="raise").collect()
    }
    assert back == dict(rows)
    assert io is not None and gzip is not None


def test_warc_ranged_reads_match_full_walk(spark, tmp_path):
    """Round-11 verdict task 8: index_warc_gz emits one (path,
    offset, length) span per gzip member of a multi-member .warc.gz,
    and read_warc_ranges over ALL spans is bit-identical to the full
    read_warc walk; a sub-selection fetches exactly those members —
    the testable core of CDX-index + ranged-GET Common Crawl ingest."""
    from timebox_spark.sources import warc

    rows = [(i, f"ranged doc {i} bödy with content {i * 7}") for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(2)
    path = str(tmp_path / "warc_ranged")
    warc.write_warc(df, path, compress=True)

    idx = warc.index_warc_gz(spark, path, on_error="raise")
    idx_rows = idx.collect()
    assert len(idx_rows) == len(rows)
    assert {r["doc_id"] for r in idx_rows} == {i for i, _ in rows}
    # spans tile each shard exactly: per file, offsets start at 0 and
    # each member begins where the previous ended
    import os
    from collections import defaultdict

    by_file = defaultdict(list)
    for r in idx_rows:
        by_file[r["path"]].append((r["offset"], r["length"]))
    for p, spans in by_file.items():
        spans.sort()
        assert spans[0][0] == 0
        for (o1, l1), (o2, _l2) in zip(spans, spans[1:]):
            assert o1 + l1 == o2
        local = p[len("file:"):] if p.startswith("file:") else p
        assert spans[-1][0] + spans[-1][1] == os.path.getsize(local)

    full = sorted(
        map(tuple, warc.read_warc(spark, path, on_error="raise").collect())
    )
    ranged = sorted(
        map(tuple, warc.read_warc_ranges(spark, idx, on_error="raise").collect())
    )
    assert ranged == full

    # sub-selection: only even doc ids, via the index — exactly those
    # members come back, passing ranges as plain tuples too
    sel = [
        (r["path"], r["offset"], r["length"])
        for r in idx_rows
        if r["doc_id"] % 2 == 0
    ]
    got = {
        r["doc_id"]: r["text"]
        for r in warc.read_warc_ranges(spark, sel, on_error="raise").collect()
    }
    assert got == {i: t for i, t in rows if i % 2 == 0}

    # plain-WARC shards index at RECORD granularity (round 12):
    # ranged reads over the record spans equal the full walk too
    plain_path = str(tmp_path / "warc_ranged_plain")
    warc.write_warc(df, plain_path, compress=False)
    pidx = warc.index_warc_gz(spark, plain_path, on_error="raise")
    pidx_rows = pidx.collect()
    assert {r["doc_id"] for r in pidx_rows} == {i for i, _ in rows}
    pranged = sorted(
        map(tuple, warc.read_warc_ranges(spark, pidx, on_error="raise").collect())
    )
    pfull = sorted(
        map(
            tuple,
            warc.read_warc(spark, plain_path, on_error="raise").collect(),
        )
    )
    assert pranged == pfull


def test_warc_malformed_records_skip_or_raise(spark, tmp_path):
    """Garbage in a real crawl must not abort the shard: a record
    with a non-integer Content-Length, one whose body is truncated
    past EOF, and a corrupt gzip member are skipped under the default
    policy (good neighbors survive) and raised under
    on_error='raise'."""
    import gzip

    import pytest

    from timebox_spark.sources import warc

    good0 = _foreign_warc_record(0, "good zero.")
    bad_len = (
        b"WARC/1.0\r\n"
        b"WARC-Target-URI: http://corpus.invalid/doc/1\r\n"
        b"Content-Length: not-a-number\r\n\r\n"
        b"whatever body"
    )
    good2 = _foreign_warc_record(2, "good two.")
    truncated = _foreign_warc_record(3, "x" * 50)[:-30]  # body cut short
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "shard.warc").write_bytes(good0 + bad_len + good2 + truncated)
    got = {
        r["doc_id"]: r["text"]
        for r in warc.read_warc(spark, str(plain)).collect()
    }
    assert got == {0: "good zero.", 2: "good two."}
    with pytest.raises(Exception, match="alformed|ontent-Length"):
        warc.read_warc(spark, str(plain), on_error="raise").collect()

    gz = tmp_path / "gz"
    gz.mkdir()
    corrupt = bytearray(gzip.compress(_foreign_warc_record(5, "y" * 200), mtime=0))
    corrupt[len(corrupt) // 2] ^= 0xFF  # flip a byte mid-deflate-stream
    members = (
        gzip.compress(good0, mtime=0)
        + bytes(corrupt)
        + gzip.compress(good2, mtime=0)
    )
    (gz / "shard.warc.gz").write_bytes(members)
    got = {
        r["doc_id"]: r["text"]
        for r in warc.read_warc(spark, str(gz)).collect()
    }
    assert got == {0: "good zero.", 2: "good two."}
    with pytest.raises(Exception, match="gzip"):
        warc.read_warc(spark, str(gz), on_error="raise").collect()


def test_warc_gz_rerun_clears_stale_shards(spark, tmp_path):
    """Overwrite-contract parity with plain mode: a compress=True
    rerun that produces FEWER partitions must delete the prior run's
    extra part files, not leave them for read_warc to resurrect."""
    from timebox_spark.sources import warc

    path = str(tmp_path / "warc_gz_rerun")
    first = spark.createDataFrame(
        [(i, f"first run doc {i}") for i in range(8)],
        "doc_id long, text string",
    ).repartition(4)
    warc.write_warc(first, path, compress=True)

    second = spark.createDataFrame(
        [(100, "second run only doc")], "doc_id long, text string"
    ).repartition(1)
    warc.write_warc(second, path, compress=True)
    got = {
        r["doc_id"]: r["text"]
        for r in warc.read_warc(spark, path, on_error="raise").collect()
    }
    assert got == {100: "second run only doc"}


def test_warc_payload_decode_failure_resumes_at_frame_boundary(
    spark, tmp_path
):
    """A record whose Content-Length framing is VALID but whose
    payload fails UTF-8 decode must be skipped by resuming at the
    frame's end boundary — marker-scanning inside the payload would
    emit the embedded pseudo-record as a garbage row."""
    import pytest

    from timebox_spark.sources import warc

    good0 = _foreign_warc_record(0, "good zero.")
    # invalid UTF-8 payload that CONTAINS a complete fake record: a
    # rescan-from-body_start reader would emit doc 99
    pseudo = _foreign_warc_record(99, "pseudo record from inside")
    bad_payload = b"\xff\xfe" + pseudo + b"\xff"
    bad = (
        b"WARC/1.0\r\n"
        b"WARC-Target-URI: http://corpus.invalid/doc/1\r\n"
        + f"Content-Length: {len(bad_payload)}\r\n\r\n".encode()
        + bad_payload
        + b"\r\n\r\n"
    )
    good2 = _foreign_warc_record(2, "good two.")
    d = tmp_path / "decode_fail"
    d.mkdir()
    (d / "shard.warc").write_bytes(good0 + bad + good2)
    got = {
        r["doc_id"]: r["text"]
        for r in warc.read_warc(spark, str(d)).collect()
    }
    assert got == {0: "good zero.", 2: "good two."}
    assert 99 not in got
    with pytest.raises(Exception, match="alformed"):
        warc.read_warc(spark, str(d), on_error="raise").collect()


def test_warc_ranged_reads_over_http(spark, tmp_path):
    """Round-12 verdict task 4: read_warc_ranges over http:// paths
    issues REAL ranged GETs (one per span) against a Range-capable
    server and returns rows bit-identical to the full local walk —
    the object-store ingest shape, not a stand-in. A server that
    ignores the Range header fails loudly instead of silently
    downloading whole shards."""
    import http.server
    import re as _re
    import threading
    from functools import partial

    from timebox_spark.sources import warc

    class RangeHandler(http.server.SimpleHTTPRequestHandler):
        serve_ranges = True

        def log_message(self, *a):  # keep pytest output clean
            pass

        def do_GET(self):
            path = self.translate_path(self.path)
            try:
                with open(path, "rb") as f:
                    data = f.read()
            except OSError:
                self.send_error(404)
                return
            rng = self.headers.get("Range")
            if rng and self.serve_ranges:
                m = _re.match(r"bytes=(\d+)-(\d+)$", rng)
                lo, hi = int(m.group(1)), int(m.group(2))
                if lo >= len(data):  # real servers 416 past EOF
                    self.send_error(416)
                    return
                chunk = data[lo : hi + 1]
                self.send_response(206)
                self.send_header(
                    "Content-Range", f"bytes {lo}-{hi}/{len(data)}"
                )
            else:
                chunk = data
                self.send_response(200)
            self.send_header("Content-Length", str(len(chunk)))
            self.end_headers()
            self.wfile.write(chunk)

    class NoRangeHandler(RangeHandler):
        serve_ranges = False

    rows = [(i, f"http ranged doc {i} with bödy {i * 13}") for i in range(7)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(2)
    shard_dir = str(tmp_path / "warc_http")
    warc.write_warc(df, shard_dir, compress=True)
    full = sorted(
        map(tuple, warc.read_warc(spark, shard_dir, on_error="raise").collect())
    )

    def serve(handler):
        srv = http.server.ThreadingHTTPServer(
            ("127.0.0.1", 0), partial(handler, directory=str(tmp_path))
        )
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    srv = serve(RangeHandler)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        idx = warc.index_warc_gz(spark, shard_dir, on_error="raise")
        prefix = f"file:{tmp_path}"
        http_ranges = [
            (
                base + r["path"][len(prefix):],
                r["offset"],
                r["length"],
            )
            for r in idx.collect()
        ]
        assert all(p.startswith(f"{base}/warc_http/") for p, _, _ in http_ranges)
        ranged = sorted(
            map(
                tuple,
                warc.read_warc_ranges(
                    spark, http_ranges, on_error="raise"
                ).collect(),
            )
        )
        assert ranged == full

        # a STALE index span (offset past EOF -> 416) under
        # on_error='skip' drops that span and keeps the rest — the
        # same degradation the local backend gives (review round 13);
        # under 'raise' it propagates
        stale = http_ranges + [
            (http_ranges[0][0], 10_000_000, 1024)
        ]
        skipped = sorted(
            map(
                tuple,
                warc.read_warc_ranges(
                    spark, stale, on_error="skip"
                ).collect(),
            )
        )
        assert skipped == full
        with pytest.raises(Exception, match="416"):
            warc.read_warc_ranges(spark, stale, on_error="raise").collect()
    finally:
        srv.shutdown()

    # a Range-ignoring server (200 + whole file) must raise EVEN under
    # on_error='skip': it is a systemic misconfiguration — skipping
    # every span would silently return an empty result
    srv2 = serve(NoRangeHandler)
    try:
        base2 = f"http://127.0.0.1:{srv2.server_address[1]}"
        bad = [
            (base2 + p[len(base):], o, ln) for p, o, ln in http_ranges[:1]
        ]
        with pytest.raises(Exception, match="206"):
            warc.read_warc_ranges(spark, bad, on_error="raise").collect()
        with pytest.raises(Exception, match="206"):
            warc.read_warc_ranges(spark, bad, on_error="skip").collect()
    finally:
        srv2.shutdown()


def test_warc_http_retry_backoff_and_span_coalescing(spark, tmp_path):
    """Round-14 verdict task 4: (a) transient 5xx/429 responses retry
    with backoff (Retry-After honored) and the read comes back
    bit-identical; (b) adjacent CDX spans share ONE ranged GET (the
    whole contiguous shard collapses to a single request), with a
    per-span fallback when the coalesced GET fails so one stale span
    never drops its neighbors."""
    import http.server
    import re as _re
    import threading
    from functools import partial

    import pytest

    from timebox_spark.sources import warc

    req_log: list[str] = []  # every ranged GET's Range header
    fail_once: set[str] = set()  # Range values already 503'd once

    class FlakyRangeHandler(http.server.SimpleHTTPRequestHandler):
        flaky = False

        def log_message(self, *a):
            pass

        def do_GET(self):
            rng = self.headers.get("Range") or ""
            req_log.append(rng)
            if self.flaky and rng not in fail_once:
                fail_once.add(rng)
                self.send_response(503)
                self.send_header("Retry-After", "0")
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            path = self.translate_path(self.path)
            try:
                with open(path, "rb") as f:
                    data = f.read()
            except OSError:
                self.send_error(404)
                return
            m = _re.match(r"bytes=(\d+)-(\d+)$", rng)
            lo, hi = int(m.group(1)), int(m.group(2))
            if lo >= len(data):
                self.send_error(416)
                return
            chunk = data[lo : hi + 1]
            self.send_response(206)
            self.send_header("Content-Range", f"bytes {lo}-{hi}/{len(data)}")
            self.send_header("Content-Length", str(len(chunk)))
            self.end_headers()
            self.wfile.write(chunk)

    rows = [(i, f"retry doc {i} body {i * 7}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    shard_dir = str(tmp_path / "warc_retry")
    warc.write_warc(df, shard_dir, compress=True)
    full = sorted(
        map(tuple, warc.read_warc(spark, shard_dir, on_error="raise").collect())
    )
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), partial(FlakyRangeHandler, directory=str(tmp_path))
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        idx = warc.index_warc_gz(spark, shard_dir, on_error="raise")
        prefix = f"file:{tmp_path}"
        ranges = [
            (base + r["path"][len(prefix):], r["offset"], r["length"])
            for r in sorted(idx.collect(), key=lambda r: r["offset"])
        ]
        # members of one .warc.gz shard are byte-adjacent — the whole
        # list must coalesce into ONE ranged GET (single partition so
        # one pandas batch sees every span)
        rdf = spark.createDataFrame(
            ranges, "path string, offset long, length long"
        ).coalesce(1)
        req_log.clear()
        got = sorted(
            map(
                tuple,
                warc.read_warc_ranges(spark, rdf, on_error="raise").collect(),
            )
        )
        assert got == full
        assert len(req_log) == 1, req_log  # N spans -> 1 request

        # with coalescing disabled: one request per span
        req_log.clear()
        got = sorted(
            map(
                tuple,
                warc.read_warc_ranges(
                    spark, rdf, on_error="raise", coalesce_gap=-1
                ).collect(),
            )
        )
        assert got == full
        assert len(req_log) == len(ranges), req_log

        # flaky server: first attempt of every distinct Range 503s
        # (Retry-After: 0) — the retry policy makes the read succeed
        # and bit-match, with exactly one retry per request issued
        FlakyRangeHandler.flaky = True
        fail_once.clear()
        req_log.clear()
        got = sorted(
            map(
                tuple,
                warc.read_warc_ranges(spark, rdf, on_error="raise").collect(),
            )
        )
        assert got == full
        assert len(req_log) == 2, req_log  # 503 + retried success

        # retry exhaustion is loud: retries=0 propagates the 503
        FlakyRangeHandler.flaky = True
        fail_once.clear()
        with pytest.raises(Exception, match="503"):
            warc.http_range_fetch(
                ranges[0][0], ranges[0][1], ranges[0][2],
                retries=0, backoff_s=0.0,
            )
        # ...and bounded: retries=3 counts 1 + 1 retry (served on 2nd)
        fail_once.clear()
        req_log.clear()
        data = warc.http_range_fetch(
            ranges[0][0], ranges[0][1], ranges[0][2],
            retries=3, backoff_s=0.0,
        )
        assert len(data) == ranges[0][2]
        assert len(req_log) == 2, req_log
        FlakyRangeHandler.flaky = False

        # a coalesced group whose merged GET fails (stale span pushes
        # the group range past EOF -> 416) degrades to per-span
        # fetches: the good neighbors survive under on_error='skip'
        shard_len = None
        import os as _os

        for name in _os.listdir(shard_dir):
            if name.endswith(".warc.gz"):
                shard_len = _os.path.getsize(f"{shard_dir}/{name}")
        assert shard_len is not None
        stale = ranges + [(ranges[0][0], shard_len + 1024, 2048)]
        sdf = spark.createDataFrame(
            stale, "path string, offset long, length long"
        ).coalesce(1)
        req_log.clear()
        got = sorted(
            map(
                tuple,
                warc.read_warc_ranges(
                    spark, sdf, on_error="skip", coalesce_gap=1 << 30
                ).collect(),
            )
        )
        assert got == full
        # 1 failed group GET + per-span fallback (N good + 1 stale)
        assert len(req_log) == 1 + len(stale), req_log
    finally:
        srv.shutdown()


def test_http_range_fetch_retries_incomplete_read(tmp_path):
    """Round-14 review: a connection dropped MID-BODY raises
    http.client.IncompleteRead (an HTTPException urlopen does not
    wrap) — http_range_fetch must retry it like any other transient
    network fault, and succeed when the next attempt completes."""
    import http.server
    import threading

    from timebox_spark.sources import warc

    payload = b"x" * 4096
    dropped_once: list[str] = []

    class DropMidBodyHandler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            rng = self.headers.get("Range") or ""
            lo, hi = (int(x) for x in rng.removeprefix("bytes=").split("-"))
            chunk = payload[lo : hi + 1]
            self.send_response(206)
            self.send_header(
                "Content-Range", f"bytes {lo}-{hi}/{len(payload)}"
            )
            self.send_header("Content-Length", str(len(chunk)))
            self.end_headers()
            if rng not in dropped_once:
                dropped_once.append(rng)
                # advertise the full length but send half and slam the
                # connection -> client's resp.read() raises
                # IncompleteRead
                self.wfile.write(chunk[: len(chunk) // 2])
                self.wfile.flush()
                self.connection.close()
                return
            self.wfile.write(chunk)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), DropMidBodyHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/anything"
        data = warc.http_range_fetch(url, 100, 200, backoff_s=0.0)
        assert data == payload[100:300]
        assert len(dropped_once) == 1  # exactly one retry happened
    finally:
        srv.shutdown()
        srv.server_close()
