"""End-to-end training-data curation pipeline.

Composes the text / dedup / sampling operators into the standard
curate flow for LLM corpus preparation:

    annotate (lang-id, quality, tokens, fingerprint)   map-side
    → filter (language + quality + length gates)        map-side
    → exact dedup (keep smallest id per fingerprint)    1 shuffle
    → deterministic split (train/val/test)              map-side

One scan, one shuffle. Every stage is a column expression or a
fingerprint-partitioned window — no Python in the path, so the same
plan runs unchanged over a 100 TB corpus (the dedup shuffle
partitions by md5 fingerprint, which is uniform by construction).

The reference has no analog (it stores numeric time series only);
this implements the BASELINE.json north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timebox_spark.operators import dedup, text
from timebox_spark.operators.sampling import deterministic_split
from timebox_spark.session import ensure_parallelism


# shared gate default: curate() filters on it and data_card() reports
# the pass rate against it — one constant so the datasheet can't
# silently drift from the pipeline's actual threshold
DEFAULT_MIN_QUALITY_Q = 500_000


def _registrable_domain_of(url_col: str):
    """Heuristic registrable domain of a URL column — the rank-gate
    key (heuristic, not PSL, so the q54 oracle constants match;
    callers grouping ccTLD sites correctly can pre-compute a domain
    column with urls.registrable_domain_psl and rank/gate on that)."""
    from timebox_spark.operators import urls

    return urls.registrable_domain(urls.url_host(url_col))


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple[str, ...] = ("en",),
    min_quality_q: int = DEFAULT_MIN_QUALITY_Q,
    min_tokens: int = 10,
    split_weights: dict[str, int] | None = None,
    gopher_gates: bool = False,
    classifier_min_score: int | None = None,
    mixture_balance: bool = False,
    url_col: str | None = None,
    rank_gate: tuple | None = None,
    near_dup_threshold: float | None = None,
    near_dup_kwargs: dict | None = None,
    soft_dedup: bool = False,
) -> DataFrame:
    """Return the curated corpus: one row per kept document with
    ``(id, lang_pred, quality_q, n_tokens, split)``. Duplicate texts
    (after whitespace/case normalization) keep the smallest id.
    ``gopher_gates`` additionally requires ``text.gopher_pass`` (word
    count, mean word length, stopword presence, 2-gram repetition) —
    still map-side column expressions, no extra scan or shuffle.
    ``classifier_min_score`` adds the fastText-shaped hashed-linear
    quality gate (``text.hashed_linear_score_from`` over the already
    tokenized array — no second regex pass, still map-side).
    ``mixture_balance`` temperature-rebalances the deduped corpus
    across predicted languages (``sampling.mixture_sample`` on
    ``lang_pred``) before splitting — an O(langs) broadcast rate
    table plus a map-only filter.

    ``rank_gate=(ranks, min_rank)`` (round-15 verdict task 2 — the
    graph tier of the crawl pipeline, CCNet/RefinedWeb-style domain
    ranking) keeps only documents whose REGISTRABLE DOMAIN (from
    ``url_col``, required) clears a rank bar: ``ranks`` is a
    two-column (node, rank) frame — typically
    ``graphs.pagerank`` over the domain link graph, O(domains) rows —
    broadcast-left-joined on ``urls.registrable_domain(urls.url_host(
    url_col))``; a document whose domain is absent (or whose URL has
    no extractable domain) ranks 0, so a positive ``min_rank`` drops
    it. The gate runs WITH the other filters, BEFORE dedup (a kept
    representative should itself clear every gate) — one extra
    broadcast join, still a single corpus scan, no new shuffle.

    ``near_dup_threshold`` (round 15 — completes the one-call batch
    pipeline; C4/RefinedWeb both near-dedup after the exact pass)
    additionally drops NEAR-duplicates among the exact survivors:
    banded MinHash-LSH candidates verified at exact shingle Jaccard ≥
    threshold (``dedup.portable_minhash_pairs`` — the md5 hash family
    every SQL engine can recompute, so the q54 'near' driver member's
    whole composition is oracle-hashed bit-for-bit), clusters resolved
    by connected components (``dedup.dedup_clusters``, which escalates
    to star contraction past the round cap), each cluster keeping its
    smallest id. Near-dup needs shingles, so this is the one stage
    that re-reads text — deliberately AFTER every gate and the exact
    dedup, so the second pass shingles only the surviving docs.
    ``near_dup_kwargs`` forwards tuning (num_perm, bands, shingle_n).

    ``soft_dedup=True`` (round 16) REWEIGHTS exact duplicates instead
    of dropping them: every gated doc is kept and gains a ``weight_q``
    column — ``dedup.DUP_WEIGHT_QUANT div group_size`` exact integer
    ticks per normalized-text fingerprint group (the
    :func:`dedup.duplicate_weights` semantics applied in-pipeline), so
    a duplicate group contributes one doc's worth of expected training
    mass. Same single window over ``__fp`` the keep-one path runs —
    no extra scan or shuffle. Mutually exclusive with
    ``near_dup_threshold`` (near-dup weights don't compose through
    the exact stage's group sizes — run
    ``dedup.duplicate_weights`` over ``dedup_clusters`` output to
    weight near-dup clusters explicitly)."""
    sel = [id_col, text_col] + ([url_col] if url_col is not None else [])
    if rank_gate is not None and url_col is None:
        raise ValueError(
            "curate: rank_gate requires url_col — the gate keys on "
            "the document's registrable domain"
        )
    if soft_dedup and near_dup_threshold is not None:
        raise ValueError(
            "curate: soft_dedup and near_dup_threshold are mutually "
            "exclusive — weight near-dup clusters explicitly via "
            "dedup.duplicate_weights over dedup_clusters output"
        )
    feats = text.token_features(
        ensure_parallelism(docs).select(*sel), text_col
    )
    # __bar (monotonically_increasing_id) makes the projection
    # non-deterministic so Catalyst cannot push the gate predicates
    # through it — pushdown would inline the full regex trees into the
    # filter AND leave copies in the projection, tokenizing every doc
    # twice (the round-2 q54 regression). The annotate stage then runs
    # each regex exactly once per doc; the marker costs one long
    # counter and is dropped after the filter.
    annotated = feats.select(
        F.col(id_col),
        text.lang_id(text_col).alias("lang_pred"),
        text.quality_score_q_from(
            F.col("__nt"), F.col("__nsw"), F.col("__npunct")
        ).alias("quality_q"),
        F.col("__nt").alias("n_tokens"),
        F.md5(F.encode(dedup.normalize_text(text_col), "UTF-8")).alias("__fp"),
        *(
            [
                text.gopher_pass_from(
                    F.col("__toks"), F.col("__nt"), F.col("__nsw")
                ).alias("__gopher")
            ]
            if gopher_gates
            else []
        ),
        *(
            [
                text.hashed_linear_score_from(F.col("__toks")).alias(
                    "__clf"
                )
            ]
            if classifier_min_score is not None
            else []
        ),
        *(
            [
                _registrable_domain_of(url_col).alias("__dom")
            ]
            if rank_gate is not None
            else []
        ),
        F.monotonically_increasing_id().alias("__bar"),
    )
    # the (__bar >= 0) conjunct is always true; it exists to REFERENCE
    # the nondeterministic marker so ColumnPruning keeps it in the
    # projection, which in turn stops PushPredicateThroughNonJoin
    # (requires an all-deterministic project list) from inlining the
    # expensive aliases into a pre-projection filter
    kept = annotated.filter(
        F.col("lang_pred").isin(list(langs))
        & (F.col("quality_q") >= min_quality_q)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("__bar") >= 0)
        & (F.col("__gopher") == 1 if gopher_gates else F.lit(True))
        & (
            F.col("__clf") >= classifier_min_score
            if classifier_min_score is not None
            else F.lit(True)
        )
    ).drop(
        "__bar",
        *(["__gopher"] if gopher_gates else []),
        *(["__clf"] if classifier_min_score is not None else []),
    )
    if rank_gate is not None:
        ranks, min_rank = rank_gate
        rk = ranks.select(
            F.col(ranks.columns[0]).cast("string").alias("__dom"),
            F.col(ranks.columns[1]).cast("long").alias("__rank"),
        )
        kept = (
            kept.join(F.broadcast(rk), "__dom", "left")
            .filter(
                F.coalesce(F.col("__rank"), F.lit(0).cast("long"))
                >= int(min_rank)
            )
            .drop("__rank", "__dom")
        )
    if soft_dedup:
        deduped = (
            kept.withColumn(
                "__sz",
                F.count(F.lit(1))
                .over(Window.partitionBy("__fp"))
                .cast("long"),
            )
            .withColumn(
                "weight_q",
                F.expr(f"{int(dedup.DUP_WEIGHT_QUANT)}L div __sz"),
            )
            .drop("__sz", "__fp")
        )
    else:
        w = Window.partitionBy("__fp").orderBy(id_col)
        deduped = (
            kept.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__fp")
        )
    if near_dup_threshold is not None:
        survivors = docs.select(id_col, text_col).join(
            deduped.select(id_col), id_col, "left_semi"
        )
        pairs = dedup.portable_minhash_pairs(
            survivors,
            id_col=id_col,
            text_col=text_col,
            threshold=near_dup_threshold,
            **(near_dup_kwargs or {}),
        )
        canon = dedup.dedup_clusters(survivors, pairs, id_col=id_col)
        keep_ids = canon.filter(
            F.col("canonical_id") == F.col(id_col)
        ).select(id_col)
        deduped = deduped.join(keep_ids, id_col, "left_semi")
    if mixture_balance:
        from timebox_spark.operators.sampling import mixture_sample

        deduped = mixture_sample(deduped, group_col="lang_pred", key=id_col)
    return deterministic_split(deduped, key=id_col, weights=split_weights)


def curate_to_shards(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    redact: bool = True,
    **curate_kwargs,
) -> DataFrame:
    """One-call corpus → training shards: ``curate`` (annotate → gate
    → dedup → split), keep the train split, and materialize it with
    ``sampling.write_training_shards`` — the LLM-pipeline analog of
    the reference's one-call ``save`` (S10,
    /root/reference/timebox/timebox.py:123). Returns the written-file
    manifest (per shard: rows + order digest). The kept id set is a
    pure function of the data, so a re-run over the same corpus
    writes byte-identical shards.

    ``redact=True`` (default) scrubs PII from the kept text before
    the shard write, matching the streaming ingest's posture
    (``streaming.ingest.curate_stream``); pass ``redact=False`` to
    export raw text."""
    from timebox_spark.operators.sampling import write_training_shards

    curated = curate(
        docs, id_col=id_col, text_col=text_col, **curate_kwargs
    )
    train = curated.filter(F.col("split") == "train").select(id_col)
    kept = docs.join(train, id_col, "left_semi")
    if redact:
        kept = kept.withColumn(text_col, text.redact(text_col))
    return write_training_shards(kept, path, key=id_col, n_shards=n_shards)


def data_card(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality_q: int = DEFAULT_MIN_QUALITY_Q,
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """Dataset datasheet (Gebru et al., "Datasheets for Datasets"):
    one labelled-metric table summarizing a corpus — sizes, token
    totals, language mix, per-source counts, exact-duplication rate,
    and quality-gate pass rate. The artifact a curation run publishes
    next to its shards. Pure composition of the gated operators: two
    corpus scans (one annotate pass + one fingerprint pass), both
    map-side combining aggregations.

    Returns rows (section, key, value): all values exact integers.
    ``min_quality_q`` / ``lang_col`` / ``source_col`` default to the
    ``curate`` defaults — pass the same values a non-default curate
    run used so the reported pass rate reflects the actual gate.
    """
    feats = text.token_features(
        ensure_parallelism(docs).select(
            id_col, text_col, lang_col, source_col
        ),
        text_col,
    )
    annotated = feats.select(
        id_col,
        F.col(lang_col).alias("lang"),
        F.col(source_col).alias("source"),
        F.col("__nt").alias("nt"),
        F.length(text_col).alias("nc"),
        text.quality_score_q_from(
            F.col("__nt"), F.col("__nsw"), F.col("__npunct")
        ).alias("q"),
        text.gopher_pass_from(
            F.col("__toks"), F.col("__nt"), F.col("__nsw")
        ).alias("gopher"),
    )

    def rows(section: str, key_col, value_col, src) -> DataFrame:
        return src.select(
            F.lit(section).alias("section"),
            key_col.cast("string").alias("key"),
            value_col.cast("long").alias("value"),
        )

    totals = annotated.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("nt").alias("tokens"),
        F.sum("nc").alias("chars"),
        F.sum("gopher").alias("gopher_pass"),
        F.sum((F.col("q") >= min_quality_q).cast("long")).alias(
            "quality_pass"
        ),
    )
    size = totals.selectExpr(
        "stack(5, 'docs', docs, 'tokens', tokens, 'chars', chars, "
        "'gopher_pass', gopher_pass, 'quality_pass', quality_pass) "
        "AS (key, value)"
    ).select(F.lit("size").alias("section"), "key", F.col("value").cast("long"))
    langs = rows(
        "lang", F.col("lang"), F.col("n"),
        annotated.groupBy("lang").agg(F.count(F.lit(1)).alias("n")),
    )
    sources = rows(
        "source", F.col("source"), F.col("n"),
        annotated.groupBy("source").agg(F.count(F.lit(1)).alias("n")),
    )
    dup = rows(
        "dedup", F.lit("exact_dup_rows"), F.col("n_dup_rows"),
        dedup.exact_dedup_stats(docs, text_col),
    )
    return size.unionByName(langs).unionByName(sources).unionByName(dup)
