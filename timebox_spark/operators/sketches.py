"""Mergeable sketches: the 100 TB pattern for distinct counting.

At scale you never recompute COUNT(DISTINCT) over raw data per
reporting period — you store small mergeable sketches per fine bucket
(day) and union them to any coarser period (week/month/all-time)
without touching the base table again. Spark 4 ships Apache
DataSketches HLL natively (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``), so the whole path is JVM-side binary
columns — no Python, one shuffle to build, one tiny shuffle to merge.

The reference has no aggregation surface at all (SURVEY §2.7); this
is part of the analytics extension the engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timebox_spark.operators.dedup import _md5_u32_sql, _q


def daily_distinct_sketches(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    lg_k: int = 12,
) -> DataFrame:
    """Per-day HLL sketch of distinct ``key_col`` values — the
    mergeable pre-aggregate to persist alongside the data. ``lg_k``
    12 ⇒ ~4 KB per sketch, ~1.6% relative error."""
    return df.groupBy(F.to_date(ts_col).alias("day")).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def rollup_distinct(
    sketches: DataFrame,
    period: str = "month",
    day_col: str = "day",
    sketch_col: str = "sketch",
) -> DataFrame:
    """Merge fine-grained sketches to a coarser period WITHOUT
    rescanning base data: ``hll_union_agg`` over the stored binary
    sketches, then estimate. Input is days; output is one row per
    ``period`` with the approximate distinct count."""
    return (
        sketches.groupBy(
            F.date_trunc(period, F.col(day_col)).cast("date").alias("period")
        )
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(sketch_col, F.lit(True))
            ).alias("n_distinct_approx"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


# histogram-quantile sketch constants (shared with the q57 oracle)
QSKETCH_SCALE = 100  # fixed-point cents before bucketing
QSKETCH_PS = (50, 90, 99)


def log2_histogram(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    period: str = "month",
) -> DataFrame:
    """Per-period power-of-two histogram of a positive metric — the
    deterministic mergeable quantile sketch: bucket = bit-length of
    the fixed-point value, so counts are exact integers, the sketch is
    O(64) rows per period, and rollup to any coarser period is a
    plain SUM (same persist-fine/merge-coarse pattern as the HLL
    distinct sketches above). Unlike t-digest/KLL there is no
    randomness or order dependence — the same data yields the same
    sketch on any engine, so the DuckDB oracle hash-checks it.

    bucket b holds values with bit_length(round(v·100)) = b, i.e.
    [2^(b-1), 2^b - 1] in cents; non-positive values land in bucket 0.
    """
    vi = F.floor(
        F.col(value_col).cast("double") * F.lit(float(QSKETCH_SCALE))
        + F.lit(0.5)
    ).cast("long")
    bucket = F.when(vi <= 0, F.lit(0)).otherwise(
        F.length(F.conv(vi.cast("string"), 10, 2))
    )
    return df.groupBy(
        F.date_trunc(period, F.col(ts_col)).alias("period"),
        bucket.cast("int").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))


def histogram_quantiles(
    hist: DataFrame, ps: tuple[int, ...] = QSKETCH_PS
) -> DataFrame:
    """Quantile estimates from the histogram alone (no base-data
    rescan): for percentile p, the first bucket whose cumulative
    count reaches rank = ceil(p·N/100); the estimate is the bucket's
    inclusive upper bound 2^b − 1 (cents), which over-states the true
    quantile by at most the bucket width — the classic
    guaranteed-error histogram bound.

    All arithmetic is integer (ceil-division via (x+99)//100), and the
    cumulative window is keyed by period over O(64) bucket-summary
    rows — never over data-sized input. Returns
    (period, p, rank, est_hi, cum) per requested percentile.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("period").orderBy("bucket")
    wt = Window.partitionBy("period")
    cum = (
        hist.withColumn("cum", F.sum("n").over(w))
        .withColumn("total", F.sum("n").over(wt))
    )
    pdf = cum.sparkSession.createDataFrame(
        [(int(p),) for p in ps], "p int"
    )
    # integer `div`, NOT floor(double /): the double path loses
    # exactness once total*p exceeds 2^53, silently diverging from the
    # DuckDB oracle's integer // at extreme scale
    ranked = cum.crossJoin(F.broadcast(pdf)).withColumn(
        "rank",
        F.expr("(total * p + 99) div 100").cast("long"),
    )
    wp = Window.partitionBy("period", "p").orderBy("bucket")
    return (
        ranked.filter(F.col("cum") >= F.col("rank"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "period",
            "p",
            "rank",
            (F.expr("shiftleft(CAST(1 AS BIGINT), bucket)") - 1).alias(
                "est_hi"
            ),
            "cum",
        )
    )


# ---------------------------------------------------------------- Bloom

def _sentinels(spark, schema: str, rows: list[tuple]) -> DataFrame:
    """A sketch's sentinel rows as a SQL ``VALUES`` relation with the
    columns of ``schema`` (``"name TYPE, ..."``). A
    ``createDataFrame(list)`` relation is a scan of a Python RDD: every
    sketch write would run a Python-backed stage, and a stream's first
    one would start the Python workers. ``nullif(_, NULL)`` keeps each
    column nullable, as a DDL-schema relation is, so the parquet
    schema a sketch is written with stays the same."""
    cols = [c.split() for c in schema.split(",")]
    values = ", ".join(
        "(" + ", ".join(str(int(v)) for v in row) + ")" for row in rows
    )
    return spark.sql(
        "SELECT "
        + ", ".join(f"nullif(CAST({n} AS {t}), NULL) AS {n}" for n, t in cols)
        + f" FROM VALUES {values} AS t({', '.join(n for n, _ in cols)})"
    )


def _bloom_bits(
    df: DataFrame, keep: list[str], col: str, m_bits: int, k: int
) -> DataFrame:
    """(keep..., word, m): the Bloom hash family, shared by
    ``bloom_build`` and ``bloom_probe`` — one row per position
    p_i = md5_u32(f"{i}|" + v) % m_bits of each value v of
    ``df[col]``, as the mask m of bit p mod 32 in 32-bit word p / 32.
    SQL text (``dedup._md5_u32_sql``): a Column tree costs py4j round
    trips per method, text one ``selectExpr``."""
    pos = ", ".join(
        f"{_md5_u32_sql(_q(col), str(i))} % {int(m_bits)}" for i in range(k)
    )
    keep = [_q(c) for c in keep]
    return df.selectExpr(*keep, f"explode(array({pos})) AS p").selectExpr(
        *keep,
        "CAST(shiftright(p, 5) AS INT) AS word",
        "shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 32) AS INT)) AS m",
    )


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """Sparse Bloom bitset of ``df[col]`` values as a MERGEABLE
    (word int, bits long) table — the membership sketch a growing
    corpus persists per ingest cycle so exact-dedup pre-gating is a
    broadcast, not an O(corpus) fingerprint join (see
    ``dedup.incremental_exact_dedup(corpus_bloom=...)``).

    Hash family: position_i(v) = md5(f"{i}|" + v)[:8 hex] % m_bits
    (``_bloom_bits`` — deterministic and SQL-expressible, so the
    q23 'bloom' oracle re-derives the bitset bit-for-bit). Each long
    word carries 32 bits (bit index <= 31, so neither engine's
    shift-left can overflow — the repo's 1<<63 trap). Merging cycles
    = ``groupBy(word).agg(bit_or(bits))`` (``bloom_merge``); Bloom
    union is exact, so incremental maintenance never rebuilds.

    Sizing (standard formulas): m ≈ −n·ln(fpr)/ln²2, k ≈ (m/n)·ln 2 —
    1%% fpr costs ~9.6 bits/doc (~120 MB per 10⁸ docs: broadcastable;
    at 10⁹ docs prefer sharding or the plain fingerprint join).

    The sketch CARRIES its (m_bits, k) as sentinel rows (word −1 / −2
    — real words are >= 0): probing or merging a persisted sketch
    with mismatched parameters would silently break the
    no-false-negative guarantee — a duplicate would bypass the
    dedup's exact join as 'definitely new' — so ``bloom_probe`` and
    ``bloom_merge`` validate the sentinels and raise instead (same
    defect class as the estimate-index num_perm guard). They come
    from a SQL ``VALUES`` relation (``_sentinels``), so the build runs
    no Python-backed stage."""
    return (
        _bloom_bits(df, [], col, m_bits, k)
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
        .unionByName(
            _sentinels(
                df.sparkSession, "word INT, bits BIGINT",
                [(-1, m_bits), (-2, k)],
            )
        )
    )


# Broadcast budget for the sketch probes (bloom_probe, cms_query): a
# sketch is broadcast only while its structural size fits — one sized
# for 10^10 docs would otherwise OOM the driver. Over the budget the
# probe runs a plain join instead and warns. ~20 bytes/row covers the
# (int word, long bits) data plus JVM row overhead; 1 GiB keeps the
# probe well under Spark's 8 GB broadcast hard limit and typical
# driver headroom. Module-level (read at call time) so deployments —
# and the budget pytest — can adjust it.
BLOOM_BROADCAST_BUDGET_BYTES = 1 << 30
_BLOOM_ROW_BYTES = 20


def _sketch_join(
    probe: DataFrame, sketch: DataFrame, on, est_bytes: int, ctx: str
) -> DataFrame:
    """``probe`` left-joined to ``sketch`` on ``on``: a broadcast hash
    join while ``est_bytes`` (the sketch's structural size) fits
    ``BLOOM_BROADCAST_BUDGET_BYTES``, else a plain join the optimizer
    plans freely, with one ``UserWarning`` — no sketch over the budget
    is ever broadcast. The answers are identical either way."""
    budget = BLOOM_BROADCAST_BUDGET_BYTES
    if est_bytes <= budget:
        return probe.join(F.broadcast(sketch), on, "left")
    import warnings

    warnings.warn(
        f"{ctx}: the sketch is ≈ {est_bytes} bytes, over the "
        f"{budget}-byte broadcast budget — probing with a plain join "
        f"instead; shard the sketch (one per stable key prefix) to "
        f"keep the broadcast",
        UserWarning,
        stacklevel=3,
    )
    return probe.join(sketch, on, "left")


def bloom_merge(blooms: DataFrame) -> DataFrame:
    """Union of Bloom sketches built with the SAME (m_bits, k): OR the
    words together. Exact (Bloom union loses nothing), so per-cycle
    sketch partitions merge at read time without a rebuild. Mixed
    parameters RAISE: the input's sentinel rows must agree (OR-ing
    bitsets of different geometries is silent corruption)."""
    bad = (
        blooms.filter(F.col("word") < 0)
        .groupBy("word")
        .agg(F.count_distinct("bits").alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            "bloom_merge: inputs carry conflicting (m_bits, k) "
            "sentinels — sketches of different geometries cannot be "
            "merged; rebuild with one parameter set"
        )
    return blooms.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_probe(
    df: DataFrame,
    id_col: str,
    col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """(id_col, maybe_present) membership probe against a
    ``bloom_build`` sketch with the SAME (m_bits, k): maybe_present is
    TRUE iff all k positions' bits are set — NO false negatives (a
    value that was built in always probes true), false positives at
    the sketch's design rate. The sketch is broadcast and the probe
    rows fan out k-fold map-side; the only shuffle is the
    probe-side-sized groupBy back to one row per id.

    Sentinel validation rides the probe plan: every embedded
    (m_bits, k) sentinel row is compared against the call's by a
    per-row assert evaluated while the sketch side is scanned, BEFORE
    the defensive ``bit_or`` merge below — so a mismatch, or a raw
    union of conflicting-geometry sketches, raises on whichever row
    disagrees (aggregation can never alias it past the check).
    Absent sentinels (a hand-built sketch) pass silently. The raise
    comes from the FIRST action that consumes the probe, as a Spark
    execution error carrying the sentinel message — and only when
    that action actually scans the sketch side: with an EMPTY probe
    input, AQE's empty-relation propagation may skip the sketch scan,
    so a mismatched tree passes that action unnoticed (nothing was
    probed, so no answer was wrong). No call-time scan runs.

    The sketch is defensively re-aggregated per word (``bit_or``)
    before the join (advisor round 13): a sketch with
    MULTIPLE rows per word — a raw union of per-cycle sketches, or a
    consolidated tree read without ``bloom_merge`` — would otherwise
    fan the left join out per duplicate row, and ``min(hit)`` would
    require the bit set in EVERY copy: a true member could probe
    ``maybe_present=false`` and bypass exact dedup as definitely new.
    Sentinel rows are idempotent under ``bit_or`` once the per-row
    check has passed (same geometry ⇒ identical sentinel bits).

    The sketch is broadcast while its structural size — at most
    m_bits/32 data words plus 2 sentinel rows, ~20 B each — fits
    ``BLOOM_BROADCAST_BUDGET_BYTES`` (1 GiB); above it the probe runs
    a plain join instead (the sketch side is ~bits/32 narrow rows,
    far below the fingerprint tree a gate replaces) and warns once.
    The flags are identical either way."""
    # per-row sentinel assert, evaluated while the sketch side is
    # scanned and BEFORE the bit_or merge below (pre-aggregation: a
    # conflicting-geometry union raises on whichever row disagrees —
    # bit_or can never alias it past this check). assert_true yields
    # NULL when the condition holds, so the coalesce keeps every row
    # and the filter's only effect is to force the evaluation.
    sentinel_ok = F.expr(
        f"CASE WHEN word = -1 THEN bits = {int(m_bits)} "
        f"WHEN word = -2 THEN bits = {int(k)} ELSE true END"
    )
    bloom = bloom.filter(
        F.coalesce(
            F.assert_true(
                sentinel_ok,
                F.lit(
                    f"bloom_probe: sketch sentinel mismatch — the tree "
                    f"carries a (m_bits, k) sentinel different from the "
                    f"call's (m_bits={m_bits}, k={k}), or is a raw union "
                    f"of different geometries; a mismatch silently "
                    f"breaks the no-false-negative guarantee (a dup "
                    f"would bypass exact dedup as 'definitely new') — "
                    f"pass the build-time parameters or rebuild with "
                    f"one geometry"
                ),
            ),
            F.lit(True),
        )
    )
    bloom = bloom.groupBy("word").agg(F.bit_or("bits").alias("bits"))
    p = _bloom_bits(df, [id_col], col, m_bits, k)
    est_bytes = (m_bits // 32 + 2) * _BLOOM_ROW_BYTES
    return (
        _sketch_join(p, bloom, "word", est_bytes, "bloom_probe")
        .groupBy(id_col)
        .agg(F.expr("min(CAST((coalesce(bits, 0) & m) != 0 AS INT)) AS __mp"))
        .selectExpr(_q(id_col), "__mp = 1 AS maybe_present")
    )


# ------------------------------------------------------- Count-min

# CMS defaults + the hash-salt prefix (shared with the q57 'cms'
# oracle renderer in plans/suites.py — repo convention: both engines
# derive positions from the same constants).
CMS_WIDTH = 512
CMS_DEPTH = 4
CMS_SALT = "cms"


def _cms_cells_sql(col: str, width: int, depth: int) -> str:
    """SQL generator of the count-min hash family, shared by
    ``cms_build`` and ``cms_query``: one ``(row, idx)`` cell per sketch
    row j, idx_j(v) = md5_u32(f"{CMS_SALT}{j}|" + v) % width."""
    return "inline(array(" + ", ".join(
        f"named_struct('row', {j}, 'idx', CAST("
        f"{_md5_u32_sql(_q(col), f'{CMS_SALT}{j}')} % {int(width)} AS INT))"
        for j in range(depth)
    ) + "))"


def _cms_stats(cms: DataFrame, width: int, depth: int, ctx: str) -> int:
    """One-scan sentinel validation for a count-min sketch:
    conflicting embedded (width, depth)
    sentinels raise (a raw union of different geometries), a mismatch
    with the caller's parameters raises (wrong-width positions silently
    under-count), absent sentinels pass. Returns the data-row count
    for the broadcast budget check."""
    return _cms_stats_mode(cms, width, depth, ctx, check_mode=False)[0]


def _cms_stats_mode(
    cms: DataFrame,
    width: int,
    depth: int,
    ctx: str,
    check_mode: bool = True,
) -> tuple[int, bool | None]:
    """``_cms_stats``'s geometry validation and ``cms_is_weighted``'s
    mode read fused into ONE aggregation job (round 17): the ingest
    gate ran them back-to-back over the same tree, paying two
    full-tree scans where one answers both. Returns (data-row count,
    weighted mode: True/False per the row −3 sentinel, None for
    legacy sentinel-less trees). ``check_mode=True`` raises on a
    count/weighted MIX exactly like ``cms_is_weighted``;
    ``check_mode=False`` is the plain ``_cms_stats`` contract
    (probes answer whatever denomination the tree holds)."""
    sentinel = "CASE WHEN `row` = {} THEN cnt END".format
    row = cms.selectExpr(
        "count(CASE WHEN `row` >= 0 THEN 1 END) AS n_rows",
        f"count(DISTINCT {sentinel(-1)}) AS n_w",
        f"count(DISTINCT {sentinel(-2)}) AS n_d",
        f"count(DISTINCT {sentinel(-3)}) AS n_mode",
        f"max({sentinel(-1)}) AS w",
        f"max({sentinel(-2)}) AS d",
        f"max({sentinel(-3)}) AS mode",
    ).collect()[0]
    if row["n_w"] > 1 or row["n_d"] > 1:
        raise ValueError(
            f"{ctx}: sketch carries CONFLICTING (width, depth) "
            f"sentinels — it is a raw union of sketches built with "
            f"different geometries; counters of different widths hash "
            f"to different cells and cannot be combined — rebuild with "
            f"one parameter set"
        )
    got_w, got_d = row["w"], row["d"]
    if (got_w is not None and got_w != width) or (
        got_d is not None and got_d != depth
    ):
        raise ValueError(
            f"{ctx}: sketch was built with (width={got_w}, "
            f"depth={got_d}) but the call uses (width={width}, "
            f"depth={depth}) — mismatched geometry silently corrupts "
            f"estimates; pass the build-time parameters"
        )
    if check_mode and row["n_mode"] > 1:
        raise ValueError(
            f"{ctx}: sketch mixes count-mode and weighted-mode "
            f"partitions — their sums answer neither 'how many rows' "
            f"nor 'how much weight'; rebuild the tree in one mode"
        )
    mode = None if row["mode"] is None else bool(row["mode"])
    return int(row["n_rows"]), mode


def cms_build(
    df: DataFrame,
    col: str,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    weight: str | Column | None = None,
) -> DataFrame:
    """Count-min sketch of ``df[col]`` frequencies as a MERGEABLE
    (row int, idx int, cnt long) counter table — the fixed-size
    frequency summary a 100 TB pipeline persists per ingest
    cycle/day so later "how often has this domain/token appeared so
    far?" probes never rescan history: merging cycles is a plain SUM
    (``cms_merge``), and a probe (``cms_query``) broadcasts the
    ≤ depth·width-row sketch. Estimates NEVER under-count (est ≥
    true count always); over-count is bounded by 2eN/width with
    probability 1−(1/2)^depth — the classic CMS guarantee.

    Hash family: idx_j(v) = md5(f"{CMS_SALT}{j}|" + v) first 8 hex as
    int, mod width (``_cms_cells_sql``) — deterministic and
    SQL-expressible, so the q57 'cms' oracle re-derives every counter
    exactly. Integer counts ⇒ the sketch is identical on any engine
    and partitioning. NULL values are skipped (not counted); probe
    NULLs estimate 0.

    The sketch carries (width, depth) as sentinel rows (row −1 / −2,
    idx 0 — real rows are >= 0): ``cms_merge`` and ``cms_query``
    validate them and raise on mismatch, the same silent-geometry
    failure class as the Bloom gate's. Like the Bloom sketch's, they
    come from a SQL ``VALUES`` relation (``_sentinels``).

    ``weight`` (round 16): counters accumulate ``SUM(weight)`` per
    value instead of row counts — the WEIGHTED sketch behind
    token-denominated corpus-horizon budgets ("how many TOKENS of
    source X so far?", ``sampling.token_budget_per_group(cms=...)``)
    where the count sketch answers "how many docs?". Weights must be
    NON-NEGATIVE integers (a negative weight voids the never-
    under-count guarantee; NULL weights add 0 while still claiming
    the value's cells); merge/query/heavy-hitter paths are unchanged
    — a weighted sketch is the count sketch of weight-fold repeated
    rows."""
    # row −3 records WEIGHTEDNESS (cnt 1 weighted / 0 count): a tree
    # mixing count and weighted cycles answers neither "how many
    # docs?" nor "how many tokens?" — cms_merge's per-row sentinel
    # conflict check now catches that mix exactly like a geometry mix
    sentinels = _sentinels(
        df.sparkSession, "row INT, idx INT, cnt BIGINT",
        [(-1, 0, width), (-2, 0, depth), (-3, 0, weight is not None)],
    )
    if weight is None:
        inc = F.lit(1).cast("long")
    else:
        w = F.col(weight) if isinstance(weight, str) else weight
        inc = F.coalesce(w.cast("long"), F.lit(0).cast("long"))
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.expr(_cms_cells_sql(col, width, depth)), inc.alias("__w"))
        .groupBy("row", "idx")
        .agg(F.sum("__w").alias("cnt"))
        .unionByName(sentinels)
    )


def cms_merge(sketches: DataFrame) -> DataFrame:
    """Sum of count-min sketches built with the SAME (width, depth):
    counters add cell-wise (CMS merge is exact — the merged sketch
    equals the sketch of the concatenated data). Mixed geometries
    RAISE via the sentinel check. Sentinel rows are deduplicated, not
    summed (they are metadata, not counters)."""
    bad = (
        sketches.filter(F.col("row") < 0)
        .groupBy("row")
        .agg(F.count_distinct("cnt").alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            "cms_merge: inputs carry conflicting sentinels (width, "
            "depth, or count-vs-weighted mode) — sketches of "
            "different geometries hash to different cells, and a "
            "count/weighted mix answers neither denomination; "
            "rebuild with one parameter set"
        )
    data = (
        sketches.filter(F.col("row") >= 0)
        .groupBy("row", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return data.unionByName(
        sketches.filter(F.col("row") < 0).distinct()
    )


def cms_is_weighted(cms: DataFrame) -> bool | None:
    """Read a sketch's weightedness sentinel (row −3): True =
    weighted (``cms_build(weight=...)``), False = count, None =
    legacy sketch built before the sentinel existed (treat as count
    — weighted builds have always stamped it). Raises on a
    count/weighted MIX (a raw union of both modes — summing them
    answers neither denomination)."""
    vals = {
        r["cnt"]
        for r in cms.filter(F.col("row") == -3)
        .select("cnt")
        .distinct()
        .collect()
    }
    if len(vals) > 1:
        raise ValueError(
            "cms_is_weighted: sketch mixes count-mode and "
            "weighted-mode partitions — their sums answer neither "
            "'how many rows' nor 'how much weight'; rebuild the tree "
            "in one mode"
        )
    if not vals:
        return None
    return bool(vals.pop())


def cms_query(
    df: DataFrame,
    id_col: str,
    col: str,
    cms: DataFrame,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """(id_col, est_count) frequency estimates for ``df[col]`` against
    a ``cms_build`` sketch with the SAME (width, depth):
    est = min over the depth rows of the addressed counters (missing
    cell ⇒ 0). Never under-counts a value the sketch ingested. The
    sketch is defensively re-aggregated per cell (SUM — duplicate
    cell rows from a raw union of per-cycle sketches merge exactly,
    ``cms_merge`` semantics) and broadcast; probe rows fan out
    depth-fold map-side, and the only shuffle is the probe-sized
    groupBy back to one row per id. Geometry sentinels are validated
    against the call's; over the broadcast budget the sketch is joined
    without the broadcast, like ``bloom_probe``'s (a sketch is
    depth·width cells, so this only happens at degenerate widths)."""
    n_rows = _cms_stats(cms, width, depth, "cms_query")
    # size the frame actually joined (round-15 advisor): cmsd is the
    # re-aggregated sketch, bounded by depth·width cells — a tall raw
    # union of thousands of per-cycle sketches collapses to that bound
    est_bytes = min(n_rows, depth * width) * 24
    cmsd = (
        cms.filter("`row` >= 0")
        .groupBy("row", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
    p = df.selectExpr(_q(id_col), _cms_cells_sql(col, width, depth))
    return (
        _sketch_join(p, cmsd, ["row", "idx"], est_bytes, "cms_query")
        .groupBy(id_col)
        .agg(F.expr("min(coalesce(cnt, CAST(0 AS BIGINT))) AS est_count"))
    )


def cms_heavy_hitters(
    candidates: DataFrame,
    id_col: str,
    col: str,
    cms: DataFrame,
    min_count: int,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Candidates whose CMS-estimated frequency reaches ``min_count``
    — the heavy-hitter gate over a SMALL candidate set (this batch's
    distinct domains/tokens) against the merged historical sketch.
    No false negatives (est ≥ true): every true heavy hitter among
    the candidates survives; false positives at the sketch's
    over-count rate are the caller's exact-verify problem (the Bloom
    gate's contract shape)."""
    return cms_query(
        candidates, id_col, col, cms, width=width, depth=depth
    ).filter(F.col("est_count") >= int(min_count))
