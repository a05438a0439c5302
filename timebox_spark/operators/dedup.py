"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design: every variant is blocking-based — no all-pairs cross
join ever materializes. Exact dedup is a hash groupBy; MinHash bands
and SimHash blocks turn near-dup detection into equi-join keys;
n-gram Jaccard and cosine near-dup verify only within candidate
blocks.

Two hash families, each deterministic across runs and cluster sizes:

- md5 (``_md5_u32``/``_md5_u32_sql``, ``portable_*``,
  ``build_corpus_index``, ``corpus_fingerprints``): every SQL engine
  recomputes it, so the DuckDB oracle hash-matches the output. The
  ingest path (``streaming.ingest``: fingerprints, corpus index,
  compactor, q68), q23's exact fingerprints, q25's suite members
  ('minhash', 'simhash', 'cross'), q54's 'near' member and
  ``pipeline.curate``'s near-dup stage run it.
- numpy universal hashing with xxhash64 band keys
  (``minhash_signatures``, ``minhash_lsh_candidates``,
  ``minhash_dedup``): one vectorized mix per shingle instead of 32
  md5 calls. The headline query ``q25_minhash_dedup`` and bench's
  stage split and clustering runs use it; no oracle recomputes it.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from timebox_spark.operators.text import TOKEN_RE
from timebox_spark.session import ensure_parallelism


class ConvergenceError(RuntimeError):
    """An iterative dedup algorithm hit its round cap without
    converging. A dedicated type (advisor round 12) so escalation
    paths — ``dedup_clusters``, the streaming compactor — catch
    exactly this and never mask an unrelated
    RuntimeError behind a silent re-run."""


def _tracked_local_checkpoint(df: DataFrame, owned: list | None) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, recording the checkpointed
    JVM RDD in ``owned`` (when given) so the CALLER can unpersist
    exactly the blocks it created — per-owner tracking instead of the
    global getPersistentRDDs snapshot diff, which assumed a single
    persister per driver (round-12 verdict task 5: two concurrent
    cluster-mode compactions would sweep each other's state). The
    checkpointed plan is a LogicalRDD, so the exact RDD handle is
    readable off the analyzed plan; unpersist only after every action
    that consumes ``df`` has run (local checkpoints sever lineage —
    the blocks cannot be recomputed)."""
    out = df.localCheckpoint(eager=True)
    if owned is not None:
        owned.append(out._jdf.queryExecution().analyzed().rdd())
    return out


def unpersist_owned(owned: list) -> None:
    """Unpersist (non-blocking) every RDD ``_tracked_local_checkpoint``
    recorded in ``owned`` and clear the list. Safe to call twice."""
    for r in owned:
        r.unpersist(False)
    owned.clear()


# ---------------------------------------------------------------- exact

def normalize_text(col="text"):
    return F.trim(F.regexp_replace(F.lower(F.col(col) if isinstance(col, str) else col), r"\s+", " "))


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    fp = F.md5(F.encode(normalize_text(text_col), "UTF-8"))
    per = df.select(fp.alias("fp")).groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
    return per.agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.col("n") - 1).alias("n_dup_rows"),
    )


# ---------------------------------------------------------------- shingles

def char_shingles(col: str, n: int = 5):
    """Character n-gram shingles of an ALREADY-NORMALIZED text column,
    as an array — JVM-side via transform(sequence(...)) (no Python).

    Callers must materialize ``normalize_text`` into a column first:
    re-evaluating the regexp normalization inside the per-position
    lambda is O(len²) regex work (measured 10× on the minhash bench).
    A materialized ``__norm`` does not protect a FILTER on the shingle
    column: Catalyst pushes it below projections and exchanges and
    inlines the normalization back into the lambda, on the source's
    partitions. Never filter on a shingle column; filter on the text
    column (non-NULL text always yields at least one shingle).
    """
    c = f"`{col}`"
    return F.expr(
        f"CASE WHEN length({c}) < {n} THEN array({c}) "
        f"ELSE transform(sequence(1, length({c}) - {n - 1}), "
        f"i -> substring({c}, i, {n})) END"
    )


def with_norm(df: DataFrame, text_col: str = "text", out: str = "__norm") -> DataFrame:
    return df.withColumn(out, normalize_text(text_col))


def word_shingles(col: str, n: int = 3):
    """Word n-gram shingles (token windows joined by a space)."""
    toks = F.regexp_extract_all(normalize_text(col), F.lit(TOKEN_RE), F.lit(0))
    return F.when(
        F.size(toks) < n, F.array(F.array_join(toks, " "))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


# ---------------------------------------------------------------- minhash

# deterministic universal-hash constants (odd multipliers)
_MH_SEED = 1234


def _mh_consts(num_hashes: int):
    import numpy as np

    rng = np.random.RandomState(_MH_SEED)
    a = rng.randint(1, 2**61, num_hashes).astype(np.uint64) | np.uint64(1)
    b = rng.randint(0, 2**61, num_hashes).astype(np.uint64)
    return a, b


def _batch_shingle_values(texts, n: int):
    """Vectorized char-n-gram polynomial hashes for a batch of texts.

    Returns (values uint64, doc_index int64, seg_starts int64): one
    value per shingle position, grouped contiguously by doc. All
    numpy — one sliding_window_view over the concatenated bytes, no
    per-document Python loop.
    """
    import re

    import numpy as np

    ws = re.compile(r"\s+")
    norm = [ws.sub(" ", t.lower()).strip().encode() for t in texts]
    norm = [t if len(t) >= n else t + b"\x00" * (n - len(t)) for t in norm]
    lens = np.array([len(t) for t in norm], dtype=np.int64)
    blob = np.frombuffer(b"".join(norm), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    counts = lens - (n - 1)  # valid windows per doc

    win = np.lib.stride_tricks.sliding_window_view(blob, n).astype(np.uint64)
    with np.errstate(over="ignore"):
        val = np.zeros(len(win), dtype=np.uint64)
        for j in range(n):
            val = val * np.uint64(257) + win[:, j]
    # select only windows fully inside one doc
    idx = np.concatenate(
        [np.arange(s, s + c) for s, c in zip(starts, counts)]
    ) if len(norm) else np.empty(0, dtype=np.int64)
    values = val[idx]
    doc_index = np.repeat(np.arange(len(norm), dtype=np.int64), counts)
    seg_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return values, doc_index, seg_starts


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 5,
    emit_sets: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature via an Arrow-batched numpy kernel:
    one polynomial base hash per shingle position, ``num_hashes``
    universal-hash permutations, per-doc minima via
    ``np.minimum.reduceat`` — zero shuffle, no per-row Python.

    ``emit_sets=True`` additionally emits the sorted unique shingle-
    hash set per doc (``sh_set array<long>``) from the SAME shingle
    pass — the verify stage then joins sets out of this one table
    instead of re-shingling the corpus in a second kernel (the text
    work is the dominant map-side cost; one pass halves it).

    (A pure JVM higher-order-function variant was 1.5× slower because
    Spark interprets lambda-transform expressions per element;
    duplicate shingles need no dedup — they cannot change a min.)
    """
    import numpy as np
    import pandas as pd

    from timebox_spark.session import ship_package

    ship_package(df.sparkSession)
    a_const, b_const = _mh_consts(num_hashes)
    k = num_hashes

    def compute(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            values, doc_index, seg_starts = _batch_shingle_values(
                list(pdf[text_col]), shingle_n
            )
            out = {id_col: pdf[id_col].to_numpy()}
            with np.errstate(over="ignore"):
                for i in range(k):
                    hs = values * a_const[i] + b_const[i]
                    out[f"mh_{i}"] = np.minimum.reduceat(hs, seg_starts).astype(
                        np.int64
                    )
            res = pd.DataFrame(out)
            if emit_sets:
                order = np.lexsort((values, doc_index))
                dv, vv = doc_index[order], values[order]
                keep = np.ones(len(vv), dtype=bool)
                if len(vv) > 1:
                    keep[1:] = (vv[1:] != vv[:-1]) | (dv[1:] != dv[:-1])
                dv, vv = dv[keep], vv[keep].astype(np.int64)
                bounds = np.searchsorted(dv, np.arange(1, len(pdf)))
                res["sh_set"] = list(np.split(vv, bounds))
            yield res

    schema = f"{id_col} long, " + ", ".join(f"mh_{i} long" for i in range(k))
    if emit_sets:
        schema += ", sh_set array<long>"
    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        compute, schema=schema
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket key;
    docs sharing any (band, bucket) are candidates. Self-join is
    equi-join on the bucket key — broadcast/SMJ-able, skew handled by
    AQE. Output: distinct candidate pairs (a < b)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [
            F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bucket"))
        )
    buckets = sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def jaccard_verify(
    pairs: DataFrame,
    sets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard on candidate pairs only: join the (id, sh_set)
    shingle-hash table ``sets`` (the ``emit_sets`` output of
    ``minhash_signatures``) back by id for both sides — candidates are
    few, so this is a small join, and the inner joins prune
    non-candidate docs themselves.

    Caching: a LOCAL copy of ``pairs`` is persisted (it feeds two
    joins; recomputing it would re-run the whole candidate pipeline).
    Entries are keyed by canonicalized plan, so repeated invocations
    of the same query in one session reuse rather than accumulate;
    they are dropped on session end. The caller's DataFrame object is
    never mutated."""
    pairs = pairs.select("id_a", "id_b").persist()
    sets = sets.select(id_col, "sh_set")
    return (
        pairs.join(sets.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh_set", "sh_a"), "id_a")
        .join(sets.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh_set", "sh_b"), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_estimate_filter(
    pairs: DataFrame,
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    min_estimate: float = 0.0,
    bands: int | None = None,
) -> DataFrame:
    """Estimated Jaccard per candidate pair from signature agreement
    (the fraction of equal MinHash components is an unbiased Jaccard
    estimator). Used to discard low-similarity candidates before the
    exact shingle-set verify — a cheap long-comparison per hash vs an
    array intersection per pair.

    ``bands`` (round 14): when the pairs came out of LSH banding over
    these same signatures, pass the banding's band count so the
    estimate is DEBIASED (``debiased_agreement`` — the one definition
    shared with the compactor's estimate verify and bench's
    index_tier block): a banded candidate exists BECAUSE one band's
    positions agreed, so raw agreement is conditioned upward and the
    prefilter admits ~6× the candidates it should (measured sf0.1 /
    threshold 0.35: 5,189 raw vs 1,067 debiased of 40,105), paying
    exact verification on junk pairs. Leave ``None`` for pairs from
    any other source — debiasing non-banded pairs would bias DOWN."""
    sig_arr = F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)])
    a = sigs.select(F.col(id_col).alias("id_a"), sig_arr.alias("__sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), sig_arr.alias("__sig_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    # bands=None → debiased_agreement's bands<=1 branch IS raw
    # agreement over all num_hashes positions (nothing to exclude)
    adj_agree, adj_n = debiased_agreement(
        "__sig_a", "__sig_b", num_hashes, bands or 1
    )
    est = adj_agree / adj_n
    return joined.withColumn("jaccard_est", est).filter(
        F.col("jaccard_est") >= min_estimate
    ).select("id_a", "id_b", "jaccard_est")


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_n: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → minhash → band →
    bucket-join → exact-Jaccard verify.

    ``bands=None`` (default) derives (bands, rows) from ``threshold``
    via ``lsh_tuning(bias='precision')`` — the S-curve midpoint sits
    at or just above the verify threshold, so the band join's
    candidate rate tracks the threshold instead of a hard-coded 8
    (which was only right near threshold ≈ 0.6). Precision bias
    because the exact-Jaccard verify downstream restores precision
    for free while a candidate flood is the scale failure mode; pass
    an explicit ``bands`` (or use ``lsh_tuning(bias='recall')``) to
    trade verify compute for borderline-pair recall.

    One shingle pass: signatures AND shingle sets come out of the
    same kernel (``emit_sets``), persisted once; banding reads the
    sig columns, verify joins the set column — the corpus text is
    tokenized exactly once end-to-end.

    Cache lifecycle (caller contract): this is a BATCH utility — its
    persists are plan-keyed cache entries (repeat invocations of the
    same query reuse, never accumulate) dropped at session end. A
    long-lived driver compacting many corpora should either call
    ``spark.catalog.clearCache()`` between corpora or use the
    streaming compactor path (``streaming.ingest.compact_corpus``),
    which persists nothing per cycle by design.
    """
    if bands is None:
        bands, _rows = lsh_tuning(threshold, num_hashes, bias="precision")
    combined = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, emit_sets=True
    ).persist()
    cands = minhash_lsh_candidates(combined, id_col, num_hashes, bands)
    return jaccard_verify(cands, combined, id_col, threshold)


# ---------------------------------------------------------------- jaccard (blocked)

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs n-gram Jaccard within blocking groups (e.g. same
    lang + length bucket). The join key bounds the pair count; at
    scale choose blocks so each holds O(100s) docs."""
    block_cols = block_cols or ["lang"]
    sets_df = with_norm(df, text_col).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.array_distinct(char_shingles("__norm", shingle_n)).alias("sh"),
    )
    a, b = sets_df.alias("a"), sets_df.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    pairs = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.sh").alias("sh_a"),
        F.col("b.sh").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.withColumn("jaccard", inter / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_contamination(
    docs: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 12,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at
    least ``min_overlap`` distinct character ``shingle_n``-grams with
    a probe set (an eval benchmark) — the standard pre-training
    decontamination step, so test data never leaks into the corpus.

    Scale shape: probe shingles are exploded, deduped, and BROADCAST
    (benchmarks are small by nature — thousands of docs, not
    billions); the corpus side is one scan + explode, a broadcast
    equi-join on the shingle, and one agg shuffle on ``id_col``.
    Never a cross join; corpus text normalized once. Returns
    (id, n_overlap) for flagged docs — anti-join it back to drop
    them. The reference has no text ops (SURVEY §2.7); this extends
    it for LLM-pipeline workloads."""
    doc_sh = with_norm(docs, text_col).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(char_shingles("__norm", shingle_n))
        ).alias("sh"),
    )
    probe_sh = (
        with_norm(probes, text_col)
        .select(
            F.explode(
                F.array_distinct(char_shingles("__norm", shingle_n))
            ).alias("sh")
        )
        .distinct()
    )
    return (
        doc_sh.join(F.broadcast(probe_sh), "sh")
        # shingles are distinct per doc pre-explode, so count() is the
        # distinct-overlap count without a second dedup
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= F.lit(min_overlap))
    )


def cross_minhash_contamination(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
) -> DataFrame:
    """NEAR-duplicate decontamination ACROSS corpora: (corpus doc,
    probe doc) pairs whose EXACT shingle Jaccard >= ``threshold``,
    found by banding BOTH frames with the same MinHash family and
    joining band keys across frames only — no corpus self-pairs,
    never all-pairs. :func:`ngram_contamination` flags verbatim
    n-gram leakage; this is the second decontamination tier, catching
    PARAPHRASE-level leakage (a benchmark item lightly reworded into
    a training document) that an exact n-gram probe misses.

    Both frames are indexed with ``portable_minhash_index`` — the md5
    hash family every SQL engine can recompute, so the q25 'cross'
    driver member is oracle-hashed bit-for-bit.

    Scale: the probe side is an eval benchmark — small — so its band
    table is the natural build side of the band-key equi-join against
    the corpus band scan (no broadcast hint: let AQE size it);
    candidates are bounded by band collisions. The decontamination
    job pays ONE full corpus text pass (the signature scan the band
    keys require); the verify stage's corpus shingle sets are
    computed only for docs appearing in a candidate pair (round 17 —
    semi-join on the probe-bounded candidate ids BEFORE the shingle
    projection, so the second text pass touches a sliver of the
    corpus). The candidate table is persisted (it feeds both the
    semi-join and the verify join; recomputing it would re-run the
    full corpus signature scan) — plan-keyed cache entries, dropped at
    session end, the ``jaccard_verify`` convention. Returns
    ``(id_col, probe_id, jaccard)`` — id spaces need not be disjoint,
    the two columns keep the frames apart."""
    banded_c, _d_c_full = portable_minhash_index(
        corpus, id_col, text_col, num_hashes, bands, shingle_n
    )
    banded_p, d_p = portable_minhash_index(
        probes, id_col, text_col, num_hashes, bands, shingle_n
    )
    cand = (
        banded_c.join(
            banded_p.withColumnRenamed(id_col, "probe_id"), ["band", "key"]
        )
        .select(id_col, "probe_id")
        .distinct()
        .persist()
    )
    # corpus shingle sets for CANDIDATE docs only: candidates are
    # probe-bounded, so the semi-join broadcasts and the second text
    # pass touches a sliver of the corpus instead of all of it
    needed = corpus.join(cand.select(id_col).distinct(), id_col, "left_semi")
    d_c = _portable_sets(needed, id_col, text_col, shingle_n)
    sh_c = d_c.select(F.col(id_col), F.col("__sh").alias("sh_a"))
    sh_p = d_p.select(
        F.col(id_col).alias("probe_id"), F.col("__sh").alias("sh_b")
    )
    joined = cand.join(sh_c, id_col).join(sh_p, "probe_id")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (
        F.size("sh_a").cast("double") + F.size("sh_b").cast("double") - inter
    )
    return joined.select(
        F.col(id_col), F.col("probe_id"), (inter / union).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------- clustering

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    stats: dict | None = None,
    owned_rdds: list | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → duplicate clusters.

    Iterative min-label propagation: every node repeatedly adopts the
    smallest label among itself and its neighbors until no label
    changes. Each iteration is one join + one aggregate (all
    DataFrame ops, checkpoint-free loop with localCheckpoint to stop
    lineage blowup); converges in O(diameter) iterations — near-dup
    clusters are shallow, so this terminates in a handful of rounds
    at any scale. Returns (node, component) with component = min node
    id of the cluster.

    This is the cluster-resolution step a 100 TB dedup pipeline runs
    after pair generation (pick one canonical doc per component).

    When ``stats`` is passed (a dict, mutated in place) the loop
    records ``{"rounds": n, "changed_per_round": [...], "edges": m}``
    so scale runs can show whether iteration count (graph diameter)
    grows with corpus size — the diagnostic for switching to
    large-star/small-star contraction. Stats mode counts ALL changed
    labels per round instead of the limit(1) any-change probe, so it
    costs one extra aggregate per round; leave stats=None on the
    hot path.

    ``owned_rdds`` (a list, appended in place) collects the JVM RDD
    handle of every local checkpoint this call creates, so a
    long-running caller can unpersist exactly its own blocks
    (``unpersist_owned``) after consuming the result — including the
    FINAL labels' checkpoint, so only unpersist after the dependent
    action ran.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    if stats is not None:
        stats["edges"] = edges.count()
        stats["changed_per_round"] = []
        stats["rounds"] = 0
    def one_round(lbls):
        neighbor_min = (
            edges.join(lbls, edges.dst == lbls.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            lbls.join(neighbor_min, lbls.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("nbr_component"), F.col("component")) < F.col("component")).alias(
                    "__changed"
                ),
            )
        )
        updated = _tracked_local_checkpoint(updated, owned_rdds)
        if stats is not None:
            n_changed = updated.filter(F.col("__changed")).count()
            stats["changed_per_round"].append(n_changed)
            stats["rounds"] += 1
        else:
            n_changed = updated.filter(F.col("__changed")).limit(1).count()
        return updated.drop("__changed"), n_changed

    converged = False
    for _ in range(max_iterations):
        labels, changed = one_round(labels)
        if changed == 0:
            converged = True
            break
    if not converged:
        # the cap-th round may have made the FINAL propagation (a
        # diameter-exactly-cap chain): one extra probe round
        # distinguishes just-finished from truncated before raising
        labels, changed = one_round(labels)
        converged = changed == 0
    if not converged:
        # round 12: silently returning truncated labels mislabels any
        # cluster whose diameter exceeds the round cap — raise loudly;
        # deep-diameter graphs belong on the contraction path
        raise ConvergenceError(
            f"connected_components did not converge in {max_iterations} "
            f"rounds (cluster diameter exceeds the cap) — use "
            f"connected_components_star, or dedup_clusters, which "
            f"escalates to it"
        )
    if stats is not None:
        stats["converged"] = True
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    stats: dict | None = None,
    owned_rdds: list | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    *Connected Components in MapReduce and Beyond*, SoCC 2014) — the
    O(log² n)-round scale path the label-propagation diagnostic
    (``connected_components(stats=...)``'s round count) escalates to
    when cluster DIAMETER grows with corpus size: label propagation
    pays O(diameter) rounds (a 10k-link plagiarism chain = 10k joins),
    contraction pays O(log² n) regardless of shape.

    Edges are kept canonical (child > parent). Per round:
    *large-star* attaches every neighbor v > u to m = min(Γ(u) ∪ {u})
    over the bidirectional adjacency; *small-star* re-points each
    node's smaller-neighborhood (and itself) at its minimum. Both are
    one groupBy-min + one join each. Converged when the small-star
    output equals the previous round's edge set exactly (count match
    + empty exceptAll — a digest heuristic could terminate early on
    collision); then edges ARE (node, root) stars and labels read off
    directly. Raises if ``max_iterations`` rounds don't converge —
    silently mislabeled components are worse than a loud failure.

    Returns (node, component) for every node appearing in ``pairs``,
    component = min id — bit-identical to ``connected_components``
    (pinned by tests on paths/cliques/random graphs), so the two are
    drop-in interchangeable (``dedup_clusters`` escalates to it).
    Like label propagation, each round localCheckpoints to cut
    lineage; ``owned_rdds`` records the checkpointed RDD handles so a
    long-lived caller (``streaming.ingest.compact_corpus``) unpersists
    exactly its own blocks after consuming the result."""
    e = _tracked_local_checkpoint(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("child"),
            F.least("a", "b").alias("parent"),
        )
        .distinct(),
        owned_rdds,
    )
    prev_n = e.count()
    if stats is not None:
        stats["edges"] = prev_n
        stats["rounds"] = 0
        stats["edges_per_round"] = []
    for _ in range(max_iterations):
        # large-star: bidirectional adjacency, attach larger neighbors
        # to the neighborhood minimum
        adj = e.select(
            F.col("child").alias("u"), F.col("parent").alias("v")
        ).union(
            e.select(F.col("parent").alias("u"), F.col("child").alias("v"))
        )
        m = (
            adj.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        e1 = (
            adj.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("child"), F.col("m").alias("parent"))
            .distinct()
        )
        # small-star: per node, re-point its smaller-neighborhood
        # (and itself) at the minimum of that neighborhood
        m2 = e1.groupBy("child").agg(F.min("parent").alias("m"))
        joined = e1.join(m2, "child")
        e2 = _tracked_local_checkpoint(
            joined.filter(F.col("parent") != F.col("m"))
            .select(F.col("parent").alias("child"), F.col("m").alias("parent"))
            .union(joined.select("child", F.col("m").alias("parent")))
            .distinct(),
            owned_rdds,
        )
        n2 = e2.count()
        if stats is not None:
            stats["rounds"] += 1
            stats["edges_per_round"].append(n2)
        if n2 == prev_n and e2.exceptAll(e).limit(1).count() == 0:
            e = e2
            break
        e, prev_n = e2, n2
    else:
        raise ConvergenceError(
            f"connected_components_star did not converge in "
            f"{max_iterations} rounds"
        )
    return (
        e.select(F.col("child").alias("node"), F.col("parent").alias("component"))
        .union(
            e.select(
                F.col("parent").alias("node"), F.col("parent").alias("component")
            )
        )
        .distinct()
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    stats: dict | None = None,
) -> DataFrame:
    """Canonical-doc assignment: every doc mapped to its cluster's min
    id (docs with no near-dup map to themselves). Components come from
    min-label propagation (:func:`connected_components`, O(diameter)
    rounds — right for the shallow clusters near-dup graphs usually
    are), escalating to star contraction
    (:func:`connected_components_star`, O(log² n) rounds) iff the
    round cap is hit: label propagation RAISES
    :class:`ConvergenceError` instead of silently returning truncated
    labels, and only that exact type triggers escalation (an
    unrelated RuntimeError propagates). Both give component = min
    node id, so a converged run's labels are the star run's labels;
    shallow graphs pay the cheap path and a pathological plagiarism
    chain can no longer mislabel. ``stats`` is passed through to the
    component algorithm; on escalation the aborted label run's stats
    entries are re-namespaced under ``label_*`` so the star run's keys
    are never mixed with stale ones."""
    try:
        comp = connected_components(pairs, stats=stats)
    except ConvergenceError:
        if stats is not None:
            stats["escalated_to_star"] = True
            for k in ("rounds", "changed_per_round", "edges"):
                if k in stats:
                    stats[f"label_{k}"] = stats.pop(k)
        comp = connected_components_star(pairs, stats=stats)
    return (
        df.select(F.col(id_col))
        .join(comp, df[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
        )
    )


def cluster_representatives(
    df: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware keep-one: per near-dup cluster, the member with
    the HIGHEST ``score_col`` (ties → smallest id) — RefinedWeb-style
    best-of-cluster retention (keep the longest / highest-quality
    duplicate) instead of keep-smallest-id. ``clusters`` is
    ``dedup_clusters`` output; any deterministic score works
    (``n_chars``, ``text.quality_score_q``, a classifier score).

    One keyed window over (cluster, member) rows — clusters are
    near-dup groups and therefore small, so the partition key is
    well-distributed at any corpus size. Returns
    (canonical_id, rep_id, rep_score)."""
    scored = df.select(F.col(id_col), F.col(score_col)).join(
        clusters, id_col
    )
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc(score_col), F.col(id_col)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "canonical_id",
            F.col(id_col).alias("rep_id"),
            F.col(score_col).cast("long").alias("rep_score"),
        )
    )


# weight quantum for duplicate_weights: a cluster of size s gives each
# member weight_q = QUANT div s ticks, so Σ weight_q over the corpus is
# an exact BIGINT (safe below ~9e9 docs at 1e9 ticks/doc)
DUP_WEIGHT_QUANT = 1_000_000_000


def duplicate_weights(
    clusters: DataFrame,
    id_col: str = "doc_id",
    quant: int = DUP_WEIGHT_QUANT,
) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates, give
    every document a sampling weight ``1 / cluster_size`` so each
    cluster contributes one document's worth of expected mass to the
    training mix — the reweight-don't-discard alternative used by
    data-constrained pretraining pipelines (duplicates carry signal;
    down-weighting preserves it without over-representing the
    cluster). Unique docs (cluster size 1) keep full weight.

    ``clusters`` is :func:`dedup_clusters` output
    (``id_col, canonical_id``). Returns
    ``(id_col, canonical_id, cluster_size, weight_q)`` where
    ``weight_q = quant div cluster_size`` — exact integer ticks
    (floor), so weights are order-independent, cross-engine
    reproducible, and a corpus-total Σ weight_q is an exact BIGINT
    "effective corpus size" (overflow-safe below ~9e9 docs at the
    default 1e9 quant). A trainer divides by ``quant`` at consumption
    time; per-cluster rounding error is < cluster_size ticks.

    Scale: one window count over ``canonical_id`` — the SAME key the
    clustering shuffled on, and near-dup clusters are small by
    construction, so the partition key is well-distributed at any
    corpus size; no join, no second shuffle."""
    if quant <= 0:
        raise ValueError(f"quant must be positive, got {quant}")
    w = Window.partitionBy("canonical_id")
    return clusters.select(
        F.col(id_col),
        F.col("canonical_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
    ).withColumn(
        "weight_q", F.expr(f"{int(quant)}L div cluster_size")
    )


# ---------------------------------------------------------------- embeddings

def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cols: list[str] | None = None,
    threshold: float = 0.95,
    keep_top_n: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocking groups
    (default: the label column). Cosine via zip_with + aggregate —
    JVM-side array arithmetic, no UDF.

    ``keep_top_n``: additionally keep the N highest-cosine pairs per
    block even when below ``threshold`` — a curation report ("closest
    candidates per group") that also keeps the output non-empty on
    corpora with no true near-dups. The ranking window is keyed by the
    block columns, so it distributes; the pair count per block is the
    same O(n_block^2) the blocked self-join already pays.
    """
    block_cols = block_cols or ["label"]
    a, b = df.alias("a"), df.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    pairs = a.join(b, cond).select(
        *[F.col(f"a.{c}").alias(f"__blk_{c}") for c in block_cols],
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        _cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).alias("cosine"),
    )
    keep = F.col("cosine") >= threshold
    if keep_top_n is not None:
        w = Window.partitionBy(*[f"__blk_{c}" for c in block_cols]).orderBy(
            F.col("cosine").desc(), "id_a", "id_b"
        )
        pairs = pairs.withColumn("__rk", F.row_number().over(w))
        keep = keep | (F.col("__rk") <= keep_top_n)
    return pairs.filter(keep).select("id_a", "id_b", "cosine")


# guarantee threshold = k + window − 1 = 27 chars: any shared substring
# that long contributes ≥1 common fingerprint. Tuned on the synthetic
# docs so reported pairs are genuine partial overlaps (~36 at sf0.01),
# not shared-vocabulary noise.
WINNOW_K = 20  # character k-gram length
WINNOW_WINDOW = 8  # hashes per winnowing window
WINNOW_MAX_DF = 5  # drop fingerprints shared by more docs (stop-fps)
WINNOW_MIN_SHARED = 3  # report pairs sharing at least this many fps


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    window: int = WINNOW_WINDOW,
) -> DataFrame:
    """MOSS-style winnowing (Schleimer et al., SIGMOD 2003): hash every
    character k-gram of the normalized text, slide a window of
    ``window`` hashes, keep each window's MINIMUM hash. Any substring
    match of length ≥ k + window − 1 between two documents is
    guaranteed to contribute at least one common fingerprint, so
    partial-overlap detection becomes a fingerprint equi-join — never
    a text cross-compare. All JVM array expressions (md5-u32 hash
    family shared with the portable minhash), one row per distinct
    (doc, fingerprint).

    The reference's only document identity is whole-value equality
    (numeric engine, SURVEY §2.7); this is LLM-pipeline extension
    surface."""
    # each stage is materialized as a column: referencing a prior
    # STAGE EXPRESSION inside a higher-order lambda would re-evaluate
    # it per element (no common-subexpression elimination inside HOF
    # lambdas — e.g. the full md5 chain once per window, an O(n·w)
    # blowup measured at ~1000× on real text)
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    staged = (
        df.select(F.col(id_col), norm.alias("__norm"))
        .withColumn(
            "__hashes",
            F.when(
                F.length("__norm") - (k - 1) >= 1,
                F.transform(
                    F.sequence(F.lit(1), F.length("__norm") - (k - 1)),
                    lambda i: _md5_u32(F.col("__norm").substr(i, F.lit(k))),
                ),
            ).otherwise(F.array().cast("array<long>")),
        )
        .withColumn(
            "__mins",
            F.when(
                F.size("__hashes") - (window - 1) >= 1,
                F.transform(
                    F.sequence(F.lit(1), F.size("__hashes") - (window - 1)),
                    lambda j: F.array_min(F.slice(F.col("__hashes"), j, window)),
                ),
            ).otherwise(F.array().cast("array<long>")),
        )
    )
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(F.col("__mins"))).alias("fp")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    window: int = WINNOW_WINDOW,
    max_df: int = WINNOW_MAX_DF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Partial-overlap pairs from winnowing fingerprints: drop
    stop-fingerprints appearing in more than ``max_df`` docs (caps any
    join bucket at max_df² pairs — the standard winnowing guard), join
    on fingerprint, keep pairs sharing ≥ ``min_shared``. One agg
    shuffle + one bounded equi-join."""
    fps = winnow_fingerprints(df, id_col, text_col, k, window)
    rare = fps.join(
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("fp"),
        "fp",
    )
    a, b = rare.alias("a"), rare.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# portable LSH near-dup contract constants — the q27 'lsh' oracle SQL
# is generated from these same values (plans/suites.py)
NEARDUP_LSH_TABLES = 4
NEARDUP_LSH_PLANES = 6  # 64 buckets/table: candidates ~ N²/16, recall ~95% @0.95
NEARDUP_THRESHOLD_Q = 950_000_000  # 0.95 at the 1e-9 cosine quantization
NEARDUP_TOP_N = 20


def portable_embedding_near_dups_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_q: int = NEARDUP_THRESHOLD_Q,
    top_n: int = NEARDUP_TOP_N,
    tables: int = NEARDUP_LSH_TABLES,
    planes: int = NEARDUP_LSH_PLANES,
    dim: int = 64,
) -> DataFrame:
    """LSH near-dup pairs for unbounded blocks: candidates are pairs
    that share a bucket in ANY of ``tables`` independent random-
    hyperplane tables (OR-amplified, the family of
    ``similarity.lsh_topk``), with the literal ±1 plane family from
    ``similarity.lsh_plane_signs`` and the quantized integer cosine
    scoring candidates only. ``embedding_near_dups`` compares every
    pair inside a blocking group — O(n_block²); here the join stays a
    bucket equi-join at any block size. Every bucket, candidate, and
    score is a pure BIGINT/IEEE-double computation the DuckDB oracle
    re-derives bit-for-bit (driver key q27's 'lsh' member).

    Emits pairs at ``cosine_q >= threshold_q`` plus the global
    ``top_n`` closest candidate pairs (cosine_q desc, id tie-break) so
    the output is non-vacuous on corpora with no true near-dups —
    same reporting contract as ``embedding_near_dups``'s keep_top_n.
    Top-n is a TakeOrdered (distributed heads, no single-partition
    window); candidates are bucket equi-joins, never all-pairs."""
    from timebox_spark.operators.similarity import (
        _cosine_q_portable,
        portable_bucket_array,
        quantized_vec,
    )

    base = ensure_parallelism(
        df.select(
            F.col(id_col).alias("vec_id"),
            quantized_vec(F.col(vec_col)).alias("__vq"),
        )
    )
    bucketed = base.select(
        "vec_id",
        "__vq",
        F.posexplode(
            portable_bucket_array(
                F.col("__vq"), tables=tables, planes=planes, dim=dim
            )
        ).alias("tbl", "bkt"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.__vq").alias("__va"),
            F.col("b.__vq").alias("__vb"),
        )
        .dropDuplicates(["id_a", "id_b"])  # collapse multi-table hits
    )
    scored = cand.select(
        "id_a",
        "id_b",
        _cosine_q_portable(F.col("__va"), F.col("__vb")).alias("cosine_q"),
    )
    thr = scored.filter(F.col("cosine_q") >= F.lit(threshold_q))
    top = scored.orderBy(F.desc("cosine_q"), "id_a", "id_b").limit(top_n)
    return thr.unionByName(top).dropDuplicates(["id_a", "id_b"])


# ------------------------------------------------------------- line dedup

def chunk_lines(
    col: str = "text", tokens_per_line: int = 8
) -> "F.Column":
    """Whitespace-token stream → array of pseudo-lines of
    ``tokens_per_line`` tokens each (last line ragged). Corpora with
    real newlines pass ``F.split(col, '\\n')`` to line_dedup directly;
    the driver's documents table is single-line word soup, so the
    q23 'lines' member manufactures deterministic line boundaries
    from the token stream instead."""
    toks = F.split(F.col(col), " ", -1)
    n_lines = F.ceil(F.size(toks) / F.lit(tokens_per_line)).cast("long")
    # split() never returns an empty array ("" → [""], size 1), so
    # n_lines >= 1 always and sequence(0, n_lines-1) never takes the
    # descending branch; an empty doc yields one empty pseudo-line on
    # both engines (DuckDB string_split agrees)
    return F.transform(
        F.sequence(F.lit(0).cast("long"), n_lines - 1),
        lambda i: F.array_join(
            F.slice(toks, i * tokens_per_line + 1, tokens_per_line), " "
        ),
    )


def line_dedup(
    docs: DataFrame,
    lines_col,
    id_col: str = "doc_id",
    max_df: int = 1,
) -> DataFrame:
    """RefinedWeb-style line-level dedup (Penedo et al. 2023 §3.3,
    arXiv:2306.01116): drop every line whose exact fingerprint occurs
    in more than ``max_df`` distinct documents (ALL copies dropped),
    keep the rest, and reassemble each document in original line
    order. ``lines_col`` is a Column producing array<string> lines
    (``F.split(text, '\\n')`` for real lines, ``chunk_lines`` for
    token-chunk pseudo-lines).

    Plan: TWO passes of the exploded lines — the unavoidable minimum
    (the cross-document frequency table must exist before any line
    can be judged). Pass 1 aggregates line fingerprints to the
    OVER-THRESHOLD set (countDistinct doc, map-side combined) — the
    boilerplate lines only, a far smaller (and at 100 TB
    broadcast-friendly) table than the keep-set. Pass 2 left-joins
    that drop-list and computes totals, kept counts, and the in-order
    reassembly in ONE keyed aggregation (conditional aggregates —
    ``collect_list(when(kept, ...))`` skips dropped lines), so there
    is no third scan and no totals/reassembly join. No corpus-sized
    window, no all-pairs; hot fingerprints cost one combiner row per
    partition.

    Returns (id, n_lines, n_kept, kept_fp) with kept_fp = md5 of the
    newline-rejoined kept lines ('' hashes to md5("") for
    fully-dropped docs — deterministic on both engines).
    """
    lines = docs.select(
        F.col(id_col), F.posexplode(lines_col).alias("pos", "line")
    ).withColumn("__fp", F.md5(F.encode(F.col("line"), "UTF-8")))
    over_df = (
        lines.groupBy("__fp")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("__fp", F.lit(True).alias("__drop"))
    )
    # over_df is bounded by the boilerplate-line count (distinct fps
    # with df > max_df), orders of magnitude smaller than the corpus:
    # broadcast it so pass 2 is a map-side join — no shuffle of the
    # exploded line table and no skew on a pathologically hot fp.
    marked = lines.join(F.broadcast(over_df), "__fp", "left")
    kept_struct = F.when(
        F.col("__drop").isNull(), F.struct("pos", "line")
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("__drop").isNull().cast("long")).alias("n_kept"),
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["line"],
                    ),
                    "\n",
                ),
                "UTF-8",
            )
        ).alias("kept_fp"),
    )


def _dot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(x, y):
    return _dot(x, y) / (F.sqrt(_dot(x, x)) * F.sqrt(_dot(y, y)))


# ---------------------------------------------------------------- portable (md5) variants

# Engine-portable near-dup mining: the SAME MinHash algorithm as the
# numpy Arrow kernel above, but with an md5-derived hash family that
# any SQL engine reproduces bit-for-bit — so the driver's DuckDB oracle
# recomputes signatures, banding, candidates, and verification and
# hash-matches the full output. The numpy kernel (minhash_signatures)
# is the faster mix (one vectorized mix vs 32 md5 calls per shingle);
# these run entirely JVM-side (md5 + min/conditional-sum expressions —
# no Python at all): band-bucket equi-joins for candidates, never an
# all-pairs join.


def _md5_u32(col, salt: str | None = None):
    """First 8 hex chars of md5 as a BIGINT in [0, 2^32) — identical
    on DuckDB as ('0x' || substr(md5(x), 1, 8))::BIGINT. For one
    hash over a Column; a FAMILY of salted hashes (MinHash salts,
    Bloom positions, count-min rows) is built with ``_md5_u32_sql``
    instead, as SQL text in one ``selectExpr``."""
    c = F.concat(F.lit(f"{salt}|"), col) if salt is not None else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def _md5_u32_sql(expr: str, salt: str | None = None) -> str:
    """``_md5_u32`` as SQL text over the SQL expression ``expr`` — the
    same value. PySpark 4 captures the call site of every Column
    method over a py4j round trip, so a 32-salt signature built as
    Column trees costs thousands of round trips per projection; as
    text, one ``selectExpr`` parses the whole family in the JVM."""
    c = f"concat('{salt}|', {expr})" if salt is not None else expr
    return f"CAST(conv(substring(md5({c}), 1, 8), 16, 10) AS BIGINT)"


def _q(name: str) -> str:
    """A column name quoted for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _minhash_sig_sql(arr: str, num_perm: int) -> str:
    """SQL text of the portable MinHash signature of the shingle-array
    column ``arr``: ``array(h_0, …, h_{num_perm−1})`` with h_i the
    minimum over shingles s of ``md5_u32(f"{i}|" + s)`` — the one
    definition behind ``build_corpus_index``, ``portable_minhash_index``
    and ``streaming.ingest.near_dup_hits_stream`` (the q25/q68 oracles
    re-derive it). Map-only: ``array_min`` over the salted ``transform``
    of each doc's own shingles, no explode + groupBy."""
    return "array(" + ", ".join(
        f"array_min(transform({arr}, s -> {_md5_u32_sql('s', str(i))}))"
        for i in range(num_perm)
    ) + ")"


def _band_rows_sql(sig: str, num_perm: int, bands: int) -> str:
    """SQL generator of one ``(band, key)`` row per LSH band of the
    signature array column ``sig``: key = md5 of the band's
    r = num_perm/bands values joined by ','."""
    if num_perm % bands:
        raise ValueError("num_perm must divide into bands")
    r = num_perm // bands
    return "inline(array(" + ", ".join(
        f"named_struct('band', {j}, 'key', md5(concat_ws(',', "
        + ", ".join(f"CAST({sig}[{j * r + k}] AS STRING)" for k in range(r))
        + ")))"
        for j in range(bands)
    ) + "))"


def _portable_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, __sh) distinct char-shingle sets, JVM expressions only —
    the portable index's verify representation, extracted so the
    cross-corpus decontamination path can compute it over the
    candidate-bounded corpus slice instead of the full frame."""
    return (
        with_norm(df.select(id_col, text_col))
        .withColumn(
            "__sh", F.array_distinct(char_shingles("__norm", shingle_n))
        )
        .select(id_col, "__sh")
    )


def _index_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """``_portable_sets`` of the docs an index covers. NULL-text docs
    are dropped, on the TEXT column below the exchange (see
    ``char_shingles``; non-NULL text always has a shingle). The
    parallelize sits BELOW the shingle projection (round 17): above
    it, the normalize+shingle work ran on however few partitions the
    input had (an AQE-coalesced batch = 1 core); below the raw
    (id, text) scan it is a no-op on big inputs and fans the
    string-heavy projection out on small ones."""
    return _portable_sets(
        ensure_parallelism(
            df.select(id_col, text_col).filter(F.col(text_col).isNotNull())
        ),
        id_col, text_col, shingle_n,
    )


def _signatures(d: DataFrame, id_col: str, num_perm: int) -> DataFrame:
    """(id, __sig): the portable MinHash signature of each shingle set."""
    return d.selectExpr(
        _q(id_col), f"{_minhash_sig_sql('__sh', num_perm)} AS __sig"
    )


def portable_minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """The portable-hash LSH index of a corpus as two narrow tables:
    ``banded`` = (id, band, key) — the band table an incremental
    consumer (the streaming compactor) PERSISTS alongside the corpus
    so later cycles band new docs against it without re-scanning
    corpus text — and ``sets`` = (id, __sh) shingle sets for the
    exact-Jaccard verify of banded candidates. Hash family:
    h_i(s) = md5(f"{i}|" + s) truncated to 32 bits, band keys md5
    over r = num_perm/bands signature values — deterministic and
    SQL-expressible, so the DuckDB oracle re-derives both tables."""
    band_rows = _band_rows_sql("__sig", num_perm, bands)
    d = _index_sets(df, id_col, text_col, shingle_n)
    return _signatures(d, id_col, num_perm).selectExpr(_q(id_col), band_rows), d


def debiased_agreement(sig_a, sig_b, num_perm: int, bands: int):
    """(adjusted-agreement, adjusted-count) MinHash similarity
    estimate between two aligned signature array columns, DEBIASED
    for banded candidates (round 13, measured at sf0.1): a candidate
    pair exists BECAUSE one band's r = num_perm/bands consecutive
    positions agreed, so raw agreement is conditioned upward — raw
    >= 0.35 passed 5,189 of 40,105 band candidates where exact
    Jaccard passed 256. Excluding ONE fully-agreeing band (positions
    independent given the true Jaccard, so the remaining n − r are an
    unbiased sample) cut false drops to 811 with false keeps 0. The
    estimator is agree/(n−r) when any band fully agrees, else
    agree/n (bands == 1 leaves nothing to exclude). Returns the two
    columns so callers can threshold the ratio or recover the integer
    count; the ONE shared definition backing both the compactor's
    estimate verify and bench's published index_tier fidelity — they
    must never measure different estimators."""
    r = num_perm // bands
    eq = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
    agree = F.aggregate(eq, F.lit(0), lambda a, x: a + x).cast("double")
    if bands <= 1:
        return agree, F.lit(float(num_perm))
    full_band = F.exists(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.aggregate(
            F.slice(eq, j * r + 1, r), F.lit(0), lambda a, x: a + x
        )
        == r,
    )
    adj_agree = F.when(full_band, agree - r).otherwise(agree)
    adj_n = F.when(full_band, F.lit(float(num_perm - r))).otherwise(
        F.lit(float(num_perm))
    )
    return adj_agree, adj_n


# Threshold-adjacent standard error above which the estimate verify
# tier warns at the call site (round-14 verdict task 6). The debiased
# estimator's variance is ~ t(1−t)/(num_perm − r); at the measured
# sf0.1 configuration (num_perm=32, bands=8, t=0.35 ⇒ se ≈ 0.090) it
# over-dropped 3× vs exact (811 vs 256 of 40,105 banded candidates,
# BENCH_r13 index_tier) — borderline pairs flip at roughly the se
# rate, so callers above this bound should see the number, not find
# it in SCALE.md after the fact.
ESTIMATE_TIER_SE_BOUND = 0.05


def warn_estimate_tier_variance(
    threshold: float, num_perm: int, bands: int
) -> float:
    """Emit a UserWarning when ``verify='estimate'`` at these
    parameters has threshold-adjacent standard error above
    ``ESTIMATE_TIER_SE_BOUND`` — called by the estimate-verify call
    sites (``streaming.ingest.compact_corpus``) so the measured sf0.1
    over-drop is visible where the tier is chosen, not only in
    SCALE.md. Returns the computed se (pytest hook)."""
    r = num_perm // bands if bands > 1 else 0
    n = max(num_perm - r, 1)
    se = (threshold * (1.0 - threshold) / n) ** 0.5
    if se > ESTIMATE_TIER_SE_BOUND:
        import warnings

        warnings.warn(
            f"verify='estimate' at num_perm={num_perm}, bands={bands}, "
            f"threshold={threshold} has threshold-adjacent standard "
            f"error ≈ {se:.3f} (> {ESTIMATE_TIER_SE_BOUND}): borderline "
            f"pairs flip at roughly that rate — measured at sf0.1 "
            f"(num_perm=32, t=0.35) the debiased estimate falsely "
            f"dropped 811 of 40,105 banded candidates where exact "
            f"dropped 256 (3× over-drop, 0 false keeps). Raise "
            f"num_perm, or keep verify='exact' where near-threshold "
            f"precision matters (SCALE.md, index-tier notes).",
            UserWarning,
            stacklevel=3,
        )
    return se


SHINGLE_HASH_SALT = "sh"


def hashed_shingle_sets(
    sets: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, __sh array<long>): each char shingle replaced by its
    32-bit md5 hash (salt ``'sh|'``) — the compact EXACT-verify
    representation a persisted corpus index stores instead of raw
    shingle strings. Honest sizing (round-11 verdict): this is still
    O(text) per doc — one 4-byte hash per DISTINCT shingle, ~5-25×
    smaller than raw 5-char shingle strings but linear in document
    length; the truly signature-sized tier (num_perm longs per doc,
    independent of length) is ``build_corpus_index(verify=
    'estimate')``. Jaccard over hashed sets equals raw-shingle
    Jaccard except on md5 collisions, which both engines reproduce
    identically (the q68 oracle hashes the same way), so the
    comparison stays bit-for-bit."""
    return sets.selectExpr(
        _q(id_col),
        "array_distinct(transform(__sh, s -> "
        f"{_md5_u32_sql('s', SHINGLE_HASH_SALT)})) AS __sh",
    )


def build_corpus_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    verify: str = "exact",
    owned_rdds: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The PERSISTABLE near-dup index of a corpus: ``(banded,
    verify_table)`` where banded = (id, band, key) LSH band table and
    the verify table's shape selects the tier (round-11 verdict
    task 3):

    - ``verify='exact'``: (id, __sh array<long>) HASHED shingle sets
      (``hashed_shingle_sets``) for exact-Jaccard verification —
      O(text) per doc (4 bytes per distinct shingle).
    - ``verify='estimate'``: (id, __sig array<long>) the num_perm
      MinHash values themselves — TRULY signature-sized (num_perm
      longs per doc regardless of document length; at the 100 TB
      steady state the index is O(docs), not O(corpus bytes)).
      Verification is DEBIASED signature agreement (round 13): over
      banded candidates raw agreement is conditioned upward by the
      very band collision that selected the pair, so the compactor
      excludes one fully-agreeing band and estimates over the
      remaining num_perm − r positions (measured at sf0.1: raw
      false-dropped 4,933 of 40,105 candidates vs exact, debiased
      811, false keeps 0 either way). Residual variance
      ~ j(1-j)/(num_perm − r) still flips borderline pairs — the
      exact tier remains the re-check authority where that matters.

    This is the pair ``streaming.ingest.compact_corpus(
    corpus_index=...)`` consumes (the mode is inferred from the
    verify table's column). Its one persisted form is an ingest
    store's cycle-partitioned ``index/banded`` and ``index/sets``
    trees, which ``run_ingest_cycle`` writes per cycle and reads back
    through ``_read_state`` — a compaction cycle touches only these
    two narrow tables, never corpus text.

    ``owned_rdds``: pass the caller's checkpoint-tracking list ONLY
    when ``df`` is batch-bounded (the compactor's per-cycle batch) —
    the frame both output tables derive from is then materialized
    once instead of re-computed per table: the shingle sets for
    ``'exact'``, the signature table (which IS the verify table, so
    the 32-salt kernel runs once) for ``'estimate'``. Never for a
    corpus-sized ``df``."""
    if verify not in ("exact", "estimate"):
        raise ValueError(f"verify must be 'exact' or 'estimate', got {verify!r}")
    band_rows = _band_rows_sql("__sig", num_perm, bands)  # validates first
    d = _index_sets(df, id_col, text_col, shingle_n)
    if owned_rdds is not None and verify == "exact":
        d = _tracked_local_checkpoint(d, owned_rdds)
    sig = _signatures(d, id_col, num_perm)
    if owned_rdds is not None and verify == "estimate":
        # the signature table is the estimate tier's verify table and
        # the band table's only input: one checkpoint runs the 32-salt
        # kernel once for both
        sig = _tracked_local_checkpoint(sig, owned_rdds)
    banded = sig.selectExpr(_q(id_col), band_rows)
    if verify == "estimate":
        return banded, sig
    return banded, hashed_shingle_sets(d, id_col)


def _index_fs(df_or_spark, path: str):
    """(Hadoop FileSystem, jvm Path factory) for ``path`` — works for
    local, HDFS and S3 URIs alike (same resolution Spark's own reader
    uses), so state-tree probes never fall back to driver-local
    os.path probing."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs, sc._jvm.org.apache.hadoop.fs.Path


def _part_dir_ids(fs, fs_path, root: str, part_col: str = "cycle") -> list[int]:
    """The N values of ``{part_col}=N`` child dirs under ``root``."""
    if not fs.exists(fs_path(root)):
        return []
    prefix = f"{part_col}="
    out = []
    for st in fs.listStatus(fs_path(root)):
        name = st.getPath().getName()
        if name.startswith(prefix):
            try:
                out.append(int(name[len(prefix):]))
            except ValueError:
                pass
    return out


def _read_state(
    spark, path: str, part_col: str | None = None
) -> DataFrame | None:
    """Read a Spark-written parquet dir with the schema its own footer
    carries, so the read runs no schema-inference job; None when
    ``path`` is missing or holds no data file (with ``part_col``: no
    ``{part_col}=N`` partition with one).

    Lists through the Hadoop FileSystem (local, HDFS and S3 alike) and
    opens one footer: the first data file of the newest partition,
    the schema the last writer used. Spark stores its row schema in
    every footer it writes; the file source makes every field
    nullable on read, as inference does, and ``part_col`` is appended
    as the int partition column. A footer without that schema (not
    written by Spark) falls back to a plain inferred read."""
    import json

    from pyspark.sql import types as T

    fs, fs_path = _index_fs(spark, path)
    if part_col is None:
        dirs = [path] if fs.exists(fs_path(path)) else []
    else:
        ids = sorted(_part_dir_ids(fs, fs_path, path, part_col), reverse=True)
        dirs = [f"{path}/{part_col}={n}" for n in ids]
    for d in dirs:
        files = [
            st for st in fs.listStatus(fs_path(d))
            if st.isFile()
            and not st.getPath().getName().startswith(("_", "."))
        ]
        if files:
            break
    else:
        return None
    first = min(files, key=lambda st: st.getPath().getName())
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first, conf)
    )
    try:
        meta = reader.getFileMetaData().getKeyValueMetaData().get(
            "org.apache.spark.sql.parquet.row.metadata"
        )
    finally:
        reader.close()
    if meta is None:
        return spark.read.parquet(path)
    schema = T.StructType.fromJson(json.loads(meta))
    if part_col is not None:
        schema = schema.add(part_col, T.IntegerType())
    return spark.read.schema(schema).parquet(path)


def portable_minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.35,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with the portable hash family:
    h_i(s) = md5(f"{i}|" + s) truncated to 32 bits; signatures are
    minima per salt, band keys are md5 over r = num_perm/bands
    signature values, candidates are band-key collisions, and the
    output is candidates whose EXACT shingle jaccard >= threshold.
    Deterministic and SQL-expressible end-to-end."""
    banded, d = portable_minhash_index(
        df, id_col, text_col, num_perm, bands, shingle_n
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sh_a = d.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = d.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    joined = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a").cast("double") + F.size("sh_b").cast("double") - inter
    return (
        joined.select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def portable_simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with portable 64-bit token hashes built
    from two md5 halves (hi/lo 32 bits); the fingerprint is carried as
    four 16-bit blocks, which double as the pigeonhole blocking keys
    (4 blocks guarantee recall for hamming <= 3). Votes, blocks, and
    hamming are plain integer arithmetic — identical in DuckDB."""
    n_blocks = 4
    if max_hamming > n_blocks - 1:
        raise ValueError(f"max_hamming={max_hamming} exceeds the pigeonhole bound")
    toks = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(normalize_text(text_col), F.lit(TOKEN_RE), F.lit(0))
        ).alias("tok"),
    )
    hi = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(F.col("tok")), 9, 8), 16, 10).cast("long")
    toks = toks.withColumn("hhi", hi).withColumn("hlo", lo)

    def vote(p: int):
        src = F.col("hlo") if p < 32 else F.col("hhi")
        sh = p if p < 32 else p - 32
        bit = F.shiftright(src, sh).bitwiseAND(F.lit(1))
        return F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{p}")

    agg = toks.groupBy(id_col).agg(*[vote(p) for p in range(64)])
    block_cols = []
    for k in range(n_blocks):
        blk = F.lit(0).cast("long")
        for q in range(16):
            p = 16 * k + q
            blk = blk + F.when(
                F.col(f"v{p}") > 0, F.lit(1 << q).cast("long")
            ).otherwise(0)
        block_cols.append(blk.alias(f"b{k}"))
    fps = agg.select(F.col(id_col), *block_cols)

    blocked = fps.select(
        id_col,
        *[F.col(f"b{k}") for k in range(n_blocks)],
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("blk"), F.col(f"b{k}").alias("key"))
                    for k in range(n_blocks)
                ]
            )
        ).alias("e"),
    ).select(id_col, *[f"b{k}" for k in range(n_blocks)], "e.blk", "e.key")
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.b{k}").alias(f"ab{k}") for k in range(n_blocks)],
            *[F.col(f"b.b{k}").alias(f"bb{k}") for k in range(n_blocks)],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"ab{k}").bitwiseXOR(F.col(f"bb{k}")))
        for k in range(n_blocks)
    )
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def corpus_fingerprints(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The one-column (__fp) normalized-text fingerprint table of a
    corpus, in md5's lowercase-hex form — what Bloom sketches hash
    and batches probe with. A growing store PERSISTS its ``unhex``
    (16-byte binary, the fps tree's one stored type) alongside its
    documents so every later ``incremental_exact_dedup`` cycle is a
    narrow column scan instead of a corpus-text rescan."""
    return df.select(
        F.md5(F.encode(normalize_text(text_col), "UTF-8")).alias("__fp")
    )


# Collected-maybe-set cap for the pruned fps scan (round 15): at or
# below it the batch's maybe-present fingerprints are collected and
# pushed INTO the fps parquet scan as an In predicate, so row-group
# stats skip everything but the handful of groups that can contain a
# match; above it (a saturated sketch — fpr → 1 makes the maybe set
# batch-sized) the broadcast semi-join fallback keeps the shuffle-free
# round-14 plan. The bytes collected are the same bytes the broadcast
# was already shipping. Bounded WELL below the parquet OR-expansion
# stack cliff: the pushed In becomes a LEFT-DEEP Or tree evaluated
# recursively per row group, and the evaluation StackOverflows at
# ~1.5k terms (measured round 15: 1024 values OK, 1536 crashes the
# scan task) — 512 leaves 3× headroom for deeper surrounding plans.
FPS_PRUNE_ISIN_MAX = 512
# Spark expands an In predicate to OR-of-Eq for the parquet pushdown
# only below spark.sql.parquet.pushdown.inFilterThreshold (default
# 10); at/above it the pushed filter degrades to a min/max RANGE,
# which prunes nothing on uniformly distributed fingerprints
# (measured: 20 random values → 89% of a sorted tree still read; the
# same values OR-expanded → only the containing row groups). Raised
# past FPS_PRUNE_ISIN_MAX wherever the pruned path plans — but NOT
# further: the OR expansion is a recursive left-deep tree and
# StackOverflows the scan task at ~1.5k terms (see
# FPS_PRUNE_ISIN_MAX), so the threshold must stay under ~1k.
_FPS_IN_FILTER_THRESHOLD = 1000


def _fp_hex(col) -> F.Column:
    """Binary fingerprint → the lowercase hex string ``F.md5``
    produces (the probe/bloom representation)."""
    return F.lower(F.hex(col))


def ensure_in_filter_pushdown(spark) -> None:
    """Idempotently raise the session's
    ``spark.sql.parquet.pushdown.inFilterThreshold`` to
    ``_FPS_IN_FILTER_THRESHOLD`` (1000) so a collected maybe-set of up
    to ``FPS_PRUNE_ISIN_MAX`` keys OR-expands at parquet pushdown
    instead of degrading to a useless min/max range. Never LOWERS a
    higher session value. Planning-time, session-global, and it
    OUTLIVES the caller — every pruned-scan site (exact-dedup fps,
    compact_corpus band keys / candidate ids) must call this rather
    than assume the session was built by ``session.get_spark``."""
    conf = spark.conf
    try:
        cur = int(conf.get("spark.sql.parquet.pushdown.inFilterThreshold"))
    except Exception:
        cur = 0
    if cur < _FPS_IN_FILTER_THRESHOLD:
        conf.set(
            "spark.sql.parquet.pushdown.inFilterThreshold",
            str(_FPS_IN_FILTER_THRESHOLD),
        )


def prune_to_keys(tree: DataFrame, col: str, keys: DataFrame) -> DataFrame:
    """``tree`` rows whose ``col`` is among ``keys`` (a one-column
    frame in the tree's stored type) — the pruned read every Bloom
    gate ends in. Up to ``FPS_PRUNE_ISIN_MAX`` keys are collected and
    pushed into the tree's scan as an In predicate (``lit(False)``
    when there are none), so parquet row-group stats skip every group
    of a ``col``-sorted tree that cannot match; past the cap (a
    saturated sketch) a broadcast semi-join keeps the plan
    shuffle-free, scan unpruned. One bounded collect."""
    rows = keys.limit(FPS_PRUNE_ISIN_MAX + 1).collect()
    if len(rows) > FPS_PRUNE_ISIN_MAX:
        return tree.join(F.broadcast(keys), col, "left_semi")
    # OR-of-Eq expansion at pushdown needs the threshold above the
    # list size — without it the In degrades to a min/max range,
    # which prunes nothing on hashed keys
    ensure_in_filter_pushdown(tree.sparkSession)
    vals = [r[0] for r in rows]
    return tree.filter(F.col(col).isin(vals) if vals else F.lit(False))


def incremental_exact_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_fps: DataFrame | None = None,
    corpus_bloom: DataFrame | None = None,
    bloom_m: int = 1 << 20,
    bloom_k: int = 5,
    owned_rdds: list | None = None,
) -> DataFrame:
    """Incremental ingest dedup: rows of ``new_batch`` whose
    normalized-text fingerprint appears nowhere in the existing
    ``corpus`` AND is unique within the batch (smallest id wins) —
    the every-ingest-cycle operation of a growing training corpus,
    asymmetric so the historical corpus is never self-paired again.

    Plan: the corpus side reduces to DISTINCT fingerprints before the
    anti-join (one agg + one join, both on the md5 key — uniform by
    construction). Pass ``corpus_fps`` (a persisted fps tree: one
    ``__fp`` column holding the 16-byte BINARY md5, i.e.
    ``unhex`` of ``corpus_fingerprints`` — what ``run_ingest_cycle``
    writes) to make the corpus side that narrow column scan for real
    — ``corpus`` text is then never touched. A hex-string ``__fp``
    (a pre-binary store) raises ``ValueError``: rebuild the tree.

    ``corpus_bloom`` (round 13) adds the Bloom pre-gate for the
    100 TB steady state: without it EVERY cycle shuffles O(corpus)
    fingerprints (fps is the big side of the anti-join). With a
    ``sketches.bloom_build`` sketch of the corpus fps (same
    ``bloom_m``/``bloom_k``, probed by ``bloom_probe``), batch rows
    whose probe is negative are DEFINITELY new (Bloom has no false
    negatives) and bypass the join; the maybe-present subset — true
    dups plus the sketch's false-positive rate of the batch — prunes
    the fps scan (``prune_to_keys``: an In predicate on the stored
    binary ``__fp``, so on a ``__fp``-sorted tree parquet row-group
    stats skip all but ~|maybe| groups; a broadcast semi-join past
    ``FPS_PRUNE_ISIN_MAX``) and the gated batch resolves against that
    batch-bounded present set with one broadcast join. The gated
    cycle therefore never shuffles the fingerprint tree (the plan
    pytest pins no Exchange above the fps scan), and its fps IO is
    O(batch), not O(corpus). Comparisons happen in md5's hex-string
    form (what the sketch hashes) after the scan filter. Results are
    bit-identical to the gate-less path (pytest-pinned); the sketch
    is exact-mergeable across cycles (``bloom_merge``).

    ``owned_rdds`` (round-14 review): the gated plan references the
    probe result twice, and Spark does not reuse the exchange (the
    maybe_present filters push down differently per branch — measured
    ReusedExchange=0) — pass a list to localCheckpoint the
    batch-bounded probe ONCE, tracked for per-owner cleanup
    (``unpersist_owned``) after the result has been fully consumed.
    Without it the probe subplan (batch md5 fan-out + two small
    shuffles) evaluates per reference — correct, just duplicated
    map-side work.

    A mismatched or mixed-geometry ``corpus_bloom`` raises from the
    gate's first action (``bloom_probe``'s per-row sentinel assert).

    Session side effect (caveat): when the pruned-scan path plans,
    ``ensure_in_filter_pushdown`` raises the CALLER's session
    ``spark.sql.parquet.pushdown.inFilterThreshold`` to 1000, and the
    raise outlives the call — keep user isin lists below ~1k literals
    on parquet columns (see ``FPS_PRUNE_ISIN_MAX``)."""
    fp = F.md5(F.encode(normalize_text(text_col), "UTF-8"))
    batch_fp = new_batch.withColumn("__fp", fp)
    # the corpus side is 16-byte BINARY fingerprints (the fps tree's
    # one stored type); everything downstream compares in the
    # hex-string representation the probe/bloom side uses, so the
    # tree is converted AFTER its scan filter — the pruning predicate
    # must hit the stored column to reach parquet
    if corpus_fps is not None:
        corpus_fp_raw = corpus_fps.select("__fp")
        fp_type = dict(corpus_fp_raw.dtypes)["__fp"]
        if fp_type != "binary":
            raise ValueError(
                f"incremental_exact_dedup: corpus_fps stores __fp as "
                f"{fp_type}, but fps trees hold the 16-byte binary md5 "
                f"— a hex-string tree predates the binary layout; "
                f"rebuild the store (unhex the fingerprints) before "
                f"ingesting against it"
            )
    else:
        corpus_fp_raw = corpus.select(F.unhex(fp).alias("__fp"))
    if corpus_bloom is not None:
        from timebox_spark.operators.sketches import bloom_probe

        # probe DISTINCT fingerprints (not ids): smaller probe side,
        # and NULL-fp rows (NULL text) or NULL ids never ride through
        # an id join — they fall out of the probe, left-join back to a
        # NULL flag, and coalesce(False) classifies them definitely
        # new, exactly matching the gate-less anti-join where NULL
        # never matches (review round 13: the id-keyed gate silently
        # DROPPED such rows)
        fps_only = (
            batch_fp.select("__fp").filter(F.col("__fp").isNotNull())
            .distinct()
        )
        probe = bloom_probe(
            fps_only, "__fp", "__fp", corpus_bloom, bloom_m, bloom_k
        )
        if owned_rdds is not None:
            # the probe result is referenced by two plan branches and
            # the exchanges are NOT reused (filters differentiate the
            # subtrees) — materialize the batch-bounded probe once
            probe = _tracked_local_checkpoint(probe, owned_rdds)
        # shuffle-FREE corpus side (round 14): the maybe set is small
        # by construction (true dups + sketch fpr of the batch), so
        # the fps tree is only ever the STREAMED side — pruned to the
        # maybe set by prune_to_keys (pushed In, or a broadcast
        # semi-join past the cap) — and the gated batch resolves
        # against that batch-bounded present set with one broadcast
        # left join plus a keep-filter. Keys go in the tree's stored
        # 16-byte type so the predicate reaches parquet; only the
        # survivors are hexed. NO distinct on the present set: it
        # would put an Exchange between the fps scan and its join
        # (the plan pytest pins that segment exchange-free). A tree
        # with duplicate rows per fingerprint (caller-supplied;
        # run_ingest_cycle's trees are unique by construction) fans
        # the left join out per duplicate, and the keep-one window
        # below collapses the identical copies.
        maybe_fps = probe.filter(F.col("maybe_present")).select(
            F.unhex("__fp").alias("__fp")
        )
        present = prune_to_keys(corpus_fp_raw, "__fp", maybe_fps).select(
            _fp_hex("__fp").alias("__fp")
        )
        gated = batch_fp.join(probe, "__fp", "left")
        mp = F.coalesce(F.col("maybe_present"), F.lit(False))
        fresh = (
            gated.join(
                F.broadcast(present.withColumn("__in_corpus", F.lit(True))),
                "__fp",
                "left",
            )
            .filter(~mp | F.col("__in_corpus").isNull())
            .drop("maybe_present", "__in_corpus")
        )
    else:
        # distinct in the stored 16-byte type (narrower shuffle), hex
        # the survivors for the anti-join key
        corpus_keys = corpus_fp_raw.distinct().select(
            _fp_hex("__fp").alias("__fp")
        )
        fresh = batch_fp.join(corpus_keys, "__fp", "left_anti")
    # NULL-text semantics (round-15, pinned): every NULL-text (or
    # NULL after normalization? no — md5 of the empty string is a
    # value; only a NULL text column) row has __fp NULL, which (a)
    # never matches the corpus — NULL equals nothing in the anti-join,
    # and the gated path's probe drops NULLs then classifies them
    # definitely-new — and (b) shares ONE window partition below, so
    # exactly one NULL-text row per batch survives (smallest id).
    # This matches a batch groupBy on the fingerprint, which also makes
    # all NULL fingerprints one group. Pinned by a pytest asserting gated
    # and gate-less paths identical on NULL-text fixtures.
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def lsh_tuning(
    threshold: float, num_hashes: int = 32, bias: str = "closest"
) -> tuple[int, int]:
    """Choose the (bands, rows_per_band) factorization of
    ``num_hashes`` by its LSH S-curve threshold (1/b)^(1/r) — the
    Jaccard similarity at which a pair's candidate probability
    1 − (1 − s^r)^b crosses ~0.5 (Mining of Massive Datasets §3.4.3).
    Pure driver-side arithmetic over the O(d(num_hashes)) divisor
    set. ``bias`` picks which side of the caller's ``threshold`` to
    favor when no factorization lands on it exactly:

    - ``'closest'``: minimum |s* − threshold| (the MMDS default).
    - ``'precision'``: the closest s* AT OR ABOVE threshold (falls
      back to closest when every s* is below) — fewest false
      candidates. This is ``minhash_dedup``'s default derivation:
      its exact-Jaccard verify restores precision anyway, so extra
      candidates are pure verify-stage cost, and the cost is not
      hypothetical — at sf0.1 / threshold 0.35, 'closest' picks
      (16, 2) and candidates explode 17k → 2.48M (145×) vs the
      (8, 4) the precision bias picks.
    - ``'recall'``: the closest s* AT OR BELOW threshold (falls back
      to closest) — catches borderline-similarity pairs at the price
      of a hotter verify stage; pass it when a missed near-dup costs
      more than compute."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if bias not in ("closest", "precision", "recall"):
        raise ValueError(f"bias must be closest|precision|recall, got {bias!r}")
    cands: list[tuple[float, int, int]] = []
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        s_star = (1.0 / bands) ** (1.0 / rows)
        cands.append((s_star, bands, rows))
    if bias == "precision":
        side = [c for c in cands if c[0] >= threshold]
    elif bias == "recall":
        side = [c for c in cands if c[0] <= threshold]
    else:
        side = cands
    pool = side or cands
    best = min(pool, key=lambda c: (abs(c[0] - threshold), c[1], c[2]))
    return best[1], best[2]


# ------------------------------------------- exact substring spans

SPAN_K = 50  # Lee et al. 2022 §4.1 minimum duplicate-span length
_SPAN_P1 = 2147483647  # 2^31 - 1 (Mersenne prime)
_SPAN_P2 = 2147483629  # largest prime below 2^31 - 1
_SPAN_B1 = 1000003
_SPAN_B2 = 999983
_SPAN_POS_BITS = 20  # (doc_id, pos) packed as doc_id * 2^20 + pos


def span_window_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_K,
) -> DataFrame:
    """Every k-token window of every document as (id, pos, h): a
    distributed Rabin-Karp pass, the suffix-array replacement in the
    ExactSubstr dedup of Lee et al. 2022 (arXiv:2107.06499) — suffix
    arrays need global sorted adjacency, rolling hashes need only a
    hash groupBy, which is the operation a cluster does best.

    Token hashing (md5 → 32-bit, engine-portable) runs JVM-side in
    whole-stage codegen; the O(n·k)→O(n·k/word) arithmetic — Horner
    folds of the token-hash array under two 31-bit prime moduli,
    packed to one 62-bit key — runs in an Arrow-batched numpy kernel
    as k vectorized passes over the window-start array (products stay
    < 2^62, so int64 never overflows). Map-only: one row per window,
    no shuffle, no per-row Python.
    """
    import numpy as np
    import pandas as pd

    from timebox_spark.session import ship_package

    ship_package(df.sparkSession)
    toks = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
    base = ensure_parallelism(
        df.select(
            F.col(id_col), F.transform(toks, lambda t: _md5_u32(t)).alias("__th")
        )
    )
    p1, p2, b1, b2 = _SPAN_P1, _SPAN_P2, _SPAN_B1, _SPAN_B2

    def compute(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = [np.asarray(a, dtype=np.int64) for a in pdf["__th"]]
            lens = np.array([len(a) for a in arrs], dtype=np.int64)
            nw = np.maximum(lens - k + 1, 0)
            total = int(nw.sum())
            if total == 0:
                continue
            vals = np.concatenate(arrs)
            offs = np.concatenate(([0], np.cumsum(lens)))[:-1]
            doc_idx = np.repeat(np.arange(len(arrs)), nw)
            local_pos = np.arange(total) - np.repeat(
                np.concatenate(([0], np.cumsum(nw)))[:-1], nw
            )
            ws = offs[doc_idx] + local_pos
            a1 = np.zeros(total, dtype=np.int64)
            a2 = np.zeros(total, dtype=np.int64)
            for j in range(k):
                v = vals[ws + j]
                a1 = (a1 * b1 + v) % p1
                a2 = (a2 * b2 + v) % p2
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[doc_idx],
                    "pos": local_pos.astype(np.int32),
                    "h": a1 * 2147483648 + a2,
                }
            )

    return base.mapInPandas(compute, schema=f"{id_col} long, pos int, h long")


def exact_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_K,
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022, arXiv:2107.06499 §3.2):
    any k-token window whose hash occurs more than once in the corpus
    is a duplicate span; the globally-first occurrence — minimum
    (id, pos) — keeps its window, every other occurrence is removed.
    Removal is token-wise: a token goes iff it is covered by ANY
    removed window, so overlapping duplicate windows dissolve into
    merged spans and a verbatim-duplicated document keeps only its
    keeper copy's text. Unlike whole-doc or line dedup this catches
    duplicated passages EMBEDDED in otherwise-unique documents — the
    boilerplate/quotation case that dominates web corpora.

    Plan: TWO Rabin-Karp passes (map-only kernel, see
    ``span_window_hashes``) — the line_dedup shape: the global
    dup-window table must exist before any occurrence can be judged,
    so pass 1 aggregates window hashes to (count, min packed
    (id,pos)) and pass 2 re-derives the windows and equi-joins that
    table to mark losers (re-deriving beats caching a token-count-
    sized window table at corpus scale, and the join — not a
    collect_list of occurrences — keeps a million-fold-repeated
    boilerplate span from landing on one reducer) →
    keyed gaps-and-islands window (partitioned BY DOCUMENT — never a
    single-task global window) merges marked starts into spans with
    no O(m²) HOF → doc-level left join + one JVM lambda filter
    rebuilds the kept text. Token-level rows exist only in the
    window table; every later stage is doc- or span-sized. The
    (id, pos) pack needs pos < 2^20 and |id| < 2^42. Beyond 2^42 on
    the id, ANSI long-overflow throws on its own; a doc with >= 2^20
    token windows would instead ALIAS silently into the next id's
    key space, so the pack expression raise_errors on it explicitly
    (the CLAUDE.md "reject, don't silently miss" rule — mirroring
    ``_pigeonhole_pairs``'s max_hamming rejection).

    Returns (id, n_tokens, n_kept, n_spans, kept_fp) for every input
    document; kept_fp = md5 of the space-rejoined kept tokens
    (md5('') when everything was removed — identical on DuckDB).
    """
    wins = span_window_hashes(df, id_col, text_col, k)
    pack = F.when(
        F.col("pos") < F.lit(1 << _SPAN_POS_BITS),
        F.col(id_col) * F.lit(1 << _SPAN_POS_BITS) + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "exact_span_dedup: document "
                ),
                F.col(id_col).cast("string"),
                F.lit(
                    f" has >= 2^{_SPAN_POS_BITS} token windows; the"
                    " (id, pos) pack would alias into the next id's"
                    " key space"
                ),
            )
        )
    )
    dup = (
        wins.groupBy("h")
        .agg(F.min(pack).alias("__keep"), F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select("h", "__keep")
    )
    marked = (
        wins.join(dup, "h")
        .filter(pack != F.col("__keep"))
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = marked.withColumn(
        "__brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "__isl",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    span_tab = (
        isl.groupBy(id_col, "__isl")
        .agg(F.min("pos").alias("lo"), (F.max("pos") + k).alias("hi"))
        .groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("lo", "hi"))).alias("__spans"),
            F.count(F.lit(1)).alias("__n_spans"),
        )
    )
    toks = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
    d = df.select(F.col(id_col), toks.alias("__t")).join(
        span_tab, id_col, "left"
    )
    sp = F.coalesce(
        F.col("__spans"), F.array().cast("array<struct<lo:int,hi:int>>")
    )
    kept = F.filter(
        F.col("__t"),
        lambda x, i: ~F.exists(sp, lambda s: (i >= s["lo"]) & (i < s["hi"])),
    )
    return d.select(
        F.col(id_col),
        F.size("__t").cast("long").alias("n_tokens"),
        F.coalesce(F.col("__n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        kept.alias("__kept"),
    ).select(
        id_col,
        "n_tokens",
        F.size("__kept").cast("long").alias("n_kept"),
        "n_spans",
        F.md5(F.encode(F.array_join("__kept", " "), "UTF-8")).alias("kept_fp"),
    )
