"""LLM-pipeline queries (dedup / similarity / text / multimodal) with
DuckDB oracles over the ``documents`` and ``embeddings`` tables.

Oracle SQL is generated from the same constant lists (stopwords,
language markers, regexes) the Spark operators use, so the two sides
cannot drift. Scores and similarities are quantized to integers
before hashing; every blocking choice (lang, length bucket, label) is
mirrored exactly in the SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timebox_spark.operators import dedup, multimodal, similarity, text
from timebox_spark.plans.tables import load

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _hits_sql(words: list[str]) -> str:
    return f"length(regexp_extract_all(text, '{text.word_alternation_re(words)}'))"


def _stopword_sql() -> str:
    return _hits_sql(text.STOPWORDS)


def _quality_sql() -> str:
    """The exact quality_score_q expression (see text.quality_score_q)
    as DuckDB SQL over a ``text`` column."""
    return f"""CAST(round((
           0.4 * least(CAST(length(regexp_extract_all(text, '{text.TOKEN_RE}')) AS DOUBLE) / 100.0, 1.0)
         + 0.3 * least(CAST({_stopword_sql()} AS DOUBLE) * 5.0
                       / greatest(CAST(length(regexp_extract_all(text, '{text.TOKEN_RE}')) AS DOUBLE), 1.0), 1.0)
         + 0.3 * (1.0 - least(CAST(length(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) * 10.0
                       / greatest(CAST(length(regexp_extract_all(text, '{text.TOKEN_RE}')) AS DOUBLE), 1.0), 1.0))
       ) * 1000000) AS BIGINT)"""


def _lang_pred_sql(extra_cols: str = "", src: str = "documents") -> str:
    """Per-document language prediction (see text.lang_id) as a
    DuckDB subquery yielding (doc_id, lang_pred[, extra_cols]).
    ``src`` swaps the source relation (the q54 'near' member anneals
    planted near-copies onto documents via a CTE)."""
    langs = sorted(text.LANG_MARKERS)
    counts = {lg: _hits_sql(ws) for lg, ws in text.LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN c_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    inner = ", ".join(f"{counts[lg]} AS c_{lg}" for lg in langs)
    extra = f", {extra_cols}" if extra_cols else ""
    return f"""SELECT doc_id, {case} AS lang_pred{extra}
      FROM (SELECT doc_id, text, {inner} FROM {src})"""


# ------------------------------------------------------------------ q20

def _q20_column_families() -> dict[str, list]:
    """q20's projection, split into the column families it gained
    over the rounds (round-11 verdict task 6: q20's cost is column
    count, not plan shape — the per-family split lets bench attribute
    growth to the family that caused it). Order of dict insertion =
    column order of the composed query."""
    toks, nt = F.col("__toks"), F.col("__nt")
    return {
        # the original r04 surface: token/punct/stopword counts,
        # quality score, fingerprint, word-length + repetition stats
        "base": [
            nt.alias("n_tokens"),
            text.bpe_ish_token_count().alias("n_bpe_tokens"),
            F.col("__npunct").alias("n_punct"),
            F.col("__nsw").alias("n_stopwords"),
            text.quality_score_q_from(nt, F.col("__nsw"), F.col("__npunct")).alias(
                "quality_q"
            ),
            text.fingerprint().alias("fp"),
            F.round(text.mean_word_length_from(toks) * 1e6)
            .cast("long")
            .alias("mean_wl_q"),
            F.round(text.dup_2gram_fraction_from(toks) * 1e6)
            .cast("long")
            .alias("dup2_q"),
        ],
        "gopher": [
            text.gopher_pass_from(toks, nt, F.col("__nsw")).alias("gopher_pass")
        ],
        "redact": [F.md5(text.redact()).alias("redacted_fp")],
        "langid": [text.lang_id_ngram().alias("lang3")],
        # HTML front-end: wrap the doc in a deterministic page with
        # planted script/style/comment/entity constructs, extract it
        # back, and pin the md5 — any drift in the extraction chain
        # (rule order, entity decode, squeeze) breaks this hash
        "html": [
            F.md5(
                F.encode(text.html_to_text(text.synth_html()), "UTF-8")
            ).alias("html_fp")
        ],
        # PII hardening: plant a Luhn-valid card (even ids) or an
        # off-by-one invalid one (odd ids) plus an IPv4, all derived
        # from doc_id in-engine, then redact — the md5 breaks if the
        # checksum, candidate regex, or replace order drifts
        "pii": [
            F.md5(
                F.encode(text.redact_pii_extended(text.synth_pii()), "UTF-8")
            ).alias("pii_fp")
        ],
        # C4 cleaning (Raffel et al. 2020 §2.2): wrap the doc in a
        # multi-line page with planted rule triggers, line-filter +
        # page-gate it — the md5 breaks if any line rule drifts, the
        # gate if any page rule does
        "c4": [
            F.md5(F.encode(text.c4_clean(text.synth_page()), "UTF-8")).alias(
                "c4_fp"
            ),
            text.c4_doc_pass(
                text.synth_page(), text.c4_clean(text.synth_page())
            ).alias("c4_pass"),
        ],
    }


def q20_stage_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """One DataFrame per q20 column family (shared token_features
    input) — bench times each to attribute q20's cost per family; the
    'base' frame carries the shared tokenization cost."""
    from timebox_spark.session import ensure_parallelism

    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    feats = text.token_features(docs)
    return {
        fam: feats.select("doc_id", *cols)
        for fam, cols in _q20_column_families().items()
    }


def q20_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.session import ensure_parallelism

    # the regex projections per row are the cost here, not the scan —
    # fan the small-file scan out so codegen runs on every core, and
    # tokenize once (token_features) instead of per-signal
    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    feats = text.token_features(docs)
    fams = _q20_column_families()
    return feats.select(
        "doc_id", *[c for cols in fams.values() for c in cols]
    )


def _lang3_sql() -> str:
    """DuckDB mirror of text.lang_id_ngram — same trigram constants,
    same length-difference counting, same tie-break ladder."""

    def count(pats: list[str]) -> str:
        terms = [
            f"(length(lower(text)) - length(replace(lower(text), '{p}', '')))"
            f" / {len(p)}.0"
            for p in pats
        ]
        return "(" + " + ".join(terms) + ")"

    langs = sorted(text.LANG_TRIGRAMS)
    counts = {lg: count(text.LANG_TRIGRAMS[lg]) for lg in langs}
    best = "greatest(" + ", ".join(counts[lg] for lg in langs) + ")"
    whens = " ".join(
        f"WHEN {counts[lg]} = {best} THEN '{lg}'" for lg in langs
    )
    return f"CASE WHEN {best} = 0 THEN 'und' {whens} ELSE 'und' END"


_GOPHER_SQL = f"""CASE WHEN n_tokens >= {text.GOPHER_MIN_TOKENS}
         AND n_tokens <= {text.GOPHER_MAX_TOKENS}
         AND mean_wl >= {text.GOPHER_MIN_MEAN_WL}
         AND mean_wl <= {text.GOPHER_MAX_MEAN_WL}
         AND n_stopwords >= {text.GOPHER_MIN_STOPWORDS}
         AND dup2 <= {text.GOPHER_MAX_DUP_2GRAM} THEN 1 ELSE 0 END"""

_Q20_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '{text.TOKEN_RE}') AS toks,
         length(regexp_extract_all(text, '{text.TOKEN_RE}')) AS n_tokens,
         {_stopword_sql()} AS n_stopwords
  FROM documents
), feat AS (
  SELECT *,
         CASE WHEN n_tokens = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                   / CAST(n_tokens AS DOUBLE) END AS mean_wl,
         CASE WHEN n_tokens < 2 THEN 0.0
              ELSE CAST(n_tokens - 1
                        - length(list_distinct(list_transform(range(1, n_tokens),
                              i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE)
                   / CAST(n_tokens - 1 AS DOUBLE) END AS dup2
  FROM base
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
       length(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
       CAST(n_stopwords AS BIGINT) AS n_stopwords,
       CAST(round((
           0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         + 0.3 * least(CAST(n_stopwords AS DOUBLE) * 5.0
                       / greatest(CAST(n_tokens AS DOUBLE), 1.0), 1.0)
         + 0.3 * (1.0 - least(CAST(length(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) * 10.0
                       / greatest(CAST(n_tokens AS DOUBLE), 1.0), 1.0))
       ) * 1000000) AS BIGINT) AS quality_q,
       md5({_NORM}) AS fp,
       CAST(round(mean_wl * 1000000) AS BIGINT) AS mean_wl_q,
       CAST(round(dup2 * 1000000) AS BIGINT) AS dup2_q,
       CAST({_GOPHER_SQL} AS BIGINT) AS gopher_pass,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{text.URL_RE}', '<URL>', 'g'),
             '{text.EMAIL_RE}', '<EMAIL>', 'g'),
             '{text.PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp,
       {_lang3_sql()} AS lang3,
       md5({text.html_to_text_sql(text.synth_html_sql())}) AS html_fp,
       md5({text.redact_pii_extended_sql(text.synth_pii_sql())}) AS pii_fp,
       md5({text.c4_clean_sql(text.synth_page_sql())}) AS c4_fp,
       {text.c4_doc_pass_sql(text.synth_page_sql(), text.c4_clean_sql(text.synth_page_sql()))} AS c4_pass
FROM feat
"""


# ------------------------------------------------------------------ q21

def q21_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(text.lang_id().alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lang_sql() -> str:
    return f"""
    SELECT lang_pred, CAST(count(*) AS BIGINT) AS n FROM (
      {_lang_pred_sql()}
    ) GROUP BY lang_pred
    """


# ------------------------------------------------------------------ q22

def q22_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.top_words(docs, k=20)


_Q22_SQL = f"""
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(regexp_extract_all(text, '{text.TOKEN_RE}')) AS word FROM documents)
GROUP BY word ORDER BY n DESC, word LIMIT 20
"""


# ---------------------------------------------------- winnowing (in q24)
# Winnowing fingerprints (MOSS): partial-overlap pairs via rolling
# k-gram hashes + window minima — guaranteed detection of any shared
# substring of length >= k + window - 1, as a fingerprint equi-join.
# Driver-gated as the negative-valued rows of q24 (50-key cap).

def _winnow_sql() -> str:
    k, w = dedup.WINNOW_K, dedup.WINNOW_WINDOW
    max_df, min_shared = dedup.WINNOW_MAX_DF, dedup.WINNOW_MIN_SHARED
    return f"""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), h AS (
  SELECT doc_id,
         CASE WHEN length(norm) - {k - 1} >= 1 THEN
           list_transform(range(1, length(norm) - {k - 1} + 1),
             i -> ('0x' || substr(md5(substr(norm, i, {k})), 1, 8))::BIGINT)
         ELSE [] END AS hashes
  FROM n
), fp AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest(list_distinct(
             CASE WHEN length(hashes) - {w - 1} >= 1 THEN
               list_transform(range(1, length(hashes) - {w - 1} + 1),
                 j -> list_aggregate(list_slice(hashes, j, j + {w - 1}), 'min'))
             ELSE [] END)) AS fp
    FROM h
  )
), rare AS (
  SELECT doc_id, fp FROM fp
  WHERE fp IN (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {max_df})
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
"""


_WINNOW_SQL = _winnow_sql()


# ------------------------------------------------------------------ q24
# n-gram Jaccard within (lang, length-bucket) blocks; both sides use
# char 5-gram shingles of normalized text and quantized scores.

_J_SHINGLE_N = 5
_J_BUCKET = 64
_J_THRESHOLD = 0.35


# decontamination member constants (shared with the SQL below)
_DECON_N = 12  # character n-gram length for eval-overlap detection
_DECON_PROBE_MAX = 5  # probe "benchmark" = documents with doc_id < 5
_DECON_MIN_OVERLAP = 1


def q24_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram Jaccard pairs + benchmark decontamination rows
    (id_b = -1, jaccard_q = distinct-shingle overlap count): docs
    sharing a 12-gram with the probe set (doc_id < 5 stands in for an
    eval benchmark) are exactly the rows the oracle recomputes.
    Winnowing overlap pairs (dedup.winnow_overlap_pairs — MOSS window
    minima over rolling k-gram hashes) ride in the same key as rows
    with jaccard_q = −n_shared (negative marks the row class; real
    jaccard/decon values are always positive)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.floor(F.length("text") / _J_BUCKET).cast("long")
    )
    pairs = dedup.ngram_jaccard_pairs(
        docs,
        block_cols=["lang", "len_bucket"],
        shingle_n=_J_SHINGLE_N,
        threshold=_J_THRESHOLD,
    ).select(
        "id_a", "id_b", F.round(F.col("jaccard") * 1e6).cast("long").alias("jaccard_q")
    )
    base = load(spark, sf_dir, "documents")
    contam = dedup.ngram_contamination(
        base.filter(F.col("doc_id") >= _DECON_PROBE_MAX),
        base.filter(F.col("doc_id") < _DECON_PROBE_MAX),
        shingle_n=_DECON_N,
        min_overlap=_DECON_MIN_OVERLAP,
    ).select(
        F.col("doc_id").alias("id_a"),
        F.lit(-1).cast("long").alias("id_b"),
        F.col("n_overlap").cast("long").alias("jaccard_q"),
    )
    winnow = dedup.winnow_overlap_pairs(base).select(
        "id_a",
        "id_b",
        (-F.col("n_shared")).cast("long").alias("jaccard_q"),
    )
    return pairs.unionByName(contam).unionByName(winnow)


def _decon_shingles(where: str) -> str:
    return f"""
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN length({_NORM}) < {_DECON_N} THEN [{_NORM}]
           ELSE list_transform(range(1, length({_NORM}) - {_DECON_N - 2}),
                               i -> substr({_NORM}, i, {_DECON_N})) END
         )) AS sh
  FROM documents WHERE {where}"""


_S_CTE = f"""s AS (
  SELECT doc_id, lang, CAST(floor(length(text) / {_J_BUCKET}) AS BIGINT) AS len_bucket,
         list_distinct(
           CASE WHEN length({_NORM}) < {_J_SHINGLE_N} THEN [{_NORM}]
           ELSE list_transform(range(1, length({_NORM}) - {_J_SHINGLE_N - 2}),
                               i -> substr({_NORM}, i, {_J_SHINGLE_N})) END
         ) AS sh
  FROM documents
)"""

_PAIRS_BODY = f"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(round(CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh)))
            * 1000000) AS BIGINT) AS jaccard_q
FROM s a JOIN s b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= {_J_THRESHOLD}"""

# self-contained Jaccard-pairs SQL: embedded by the q31 connected-
# components oracle (pairs ONLY — contamination flag rows are not
# near-dup edges and must not merge clusters)
Q24_PAIRS_SQL = f"WITH {_S_CTE}\n{_PAIRS_BODY}"

_Q24_SQL = f"""
WITH {_S_CTE},
dsh AS ({_decon_shingles(f"doc_id >= {_DECON_PROBE_MAX}")}),
psh AS (SELECT DISTINCT sh FROM ({_decon_shingles(f"doc_id < {_DECON_PROBE_MAX}")}))
{_PAIRS_BODY}
UNION ALL
SELECT d.doc_id, CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT)
FROM dsh d JOIN psh p ON d.sh = p.sh
GROUP BY 1 HAVING count(*) >= {_DECON_MIN_OVERLAP}
UNION ALL
SELECT id_a, id_b, CAST(-n_shared AS BIGINT) AS jaccard_q
FROM ({_WINNOW_SQL})
"""


# ------------------------------------------------------------------ q25 / q26 (rows-only: minhash/simhash not SQL-expressible)

def q25_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup(docs, threshold=0.35)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard") * 1e6).cast("long").alias("jaccard_q")
    )


# ------------------------------------------------------------------ q27

_COS_THRESHOLD = 0.9
# Top-N closest pairs per label are reported even below threshold: the
# synthetic embeddings have no true near-dups (max within-label cosine
# ~0.47 at sf0.01), so a pure threshold filter is vacuously empty —
# the top-N report keeps the oracle comparison non-trivial while the
# threshold semantics stay intact (see dedup.embedding_near_dups).
_COS_TOP_N = 5


def q27_embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dups(
        emb, threshold=_COS_THRESHOLD, keep_top_n=_COS_TOP_N
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_q")
    )


_Q27_SQL = f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (
  SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.e, b.e)
           / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY cosine DESC, id_a, id_b) AS rk
  FROM p
)
SELECT id_a, id_b, CAST(round(cosine * 1000000) AS BIGINT) AS cosine_q
FROM r WHERE cosine >= {_COS_THRESHOLD} OR rk <= {_COS_TOP_N}
"""


# ------------------------------------------------------------------ q28

def q28_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5)


_Q28_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
s AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         CAST(round(list_dot_product(v.e, q.qe)
              / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe)))
              * 1000000000) AS BIGINT) AS cosine_q
  FROM v, q WHERE v.vec_id <> q.query_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_q DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= 5
"""


# ------------------------------------------------------------------ q47 (rows-only: IVF k-means index not SQL-expressible)

def q47_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, k=5, nlist=16, nprobe=6)


# ------------------------------------------------------------------ q30

def q30_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = multimodal.to_media_table(docs)
    return multimodal.fake_decode_features(media)


_Q30_SQL = """
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
       lower(hex(encode(substr(text, 1, 8)))) AS head_hex,
       CAST(list_sum(list_transform(range(1, strlen(text) + 1),
                     i -> ord(substr(text, i, 1)))) % 2147483647 AS BIGINT) AS byte_sum_mod
FROM documents
"""


# ------------------------------------------------------------------ q51
# Frame sampling over the multimodal layout: payload chunked into
# 64-byte frames, every 4th emitted with per-frame features.

_FRAME_BYTES = 64
_FRAME_EVERY = 4


def q51_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = multimodal.to_media_table(docs)
    return multimodal.sample_frames(
        media, frame_bytes=_FRAME_BYTES, every_n=_FRAME_EVERY
    )


_Q51_SQL = f"""
WITH f AS (
  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
         substr(text, CAST(i * {_FRAME_BYTES} + 1 AS BIGINT), {_FRAME_BYTES}) AS chunk
  FROM documents,
       LATERAL (SELECT unnest(range(0, CAST(ceil(strlen(text) / {_FRAME_BYTES}.0) AS BIGINT), {_FRAME_EVERY})) AS i)
)
SELECT doc_id, frame_idx, CAST(strlen(chunk) AS BIGINT) AS n_bytes,
       CAST(list_sum(list_transform(range(1, strlen(chunk) + 1),
                     j -> ord(substr(chunk, j, 1)))) % 2147483647 AS BIGINT) AS byte_sum_mod
FROM f
"""


# ------------------------------------------------------------------ q54
# End-to-end curation pipeline: annotate → gate → dedup → split.

_CURATE_MIN_Q = 500_000
_CURATE_MIN_TOKENS = 10


def q54_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from timebox_spark.operators import pipeline

    docs = load(spark, sf_dir, "documents")
    return pipeline.curate(
        docs,
        langs=("en",),
        min_quality_q=_CURATE_MIN_Q,
        min_tokens=_CURATE_MIN_TOKENS,
        gopher_gates=True,
    )


_TOKS_SQL = f"regexp_extract_all(text, '{text.TOKEN_RE}')"
_NTOK_SQL = f"length({_TOKS_SQL})"
_MWL_SQL = f"""CASE WHEN {_NTOK_SQL} = 0 THEN 0.0
    ELSE CAST(list_sum(list_transform({_TOKS_SQL}, t -> length(t))) AS DOUBLE)
         / CAST({_NTOK_SQL} AS DOUBLE) END"""
_DUP2_SQL = f"""CASE WHEN {_NTOK_SQL} < 2 THEN 0.0
    ELSE CAST({_NTOK_SQL} - 1
              - length(list_distinct(list_transform(range(1, {_NTOK_SQL}),
                    i -> {_TOKS_SQL}[i] || ' ' || {_TOKS_SQL}[i + 1]))) AS DOUBLE)
         / CAST({_NTOK_SQL} - 1 AS DOUBLE) END"""


def _gopher_inline_sql() -> str:
    return f"""CASE WHEN {_NTOK_SQL} >= {text.GOPHER_MIN_TOKENS}
        AND {_NTOK_SQL} <= {text.GOPHER_MAX_TOKENS}
        AND {_MWL_SQL} >= {text.GOPHER_MIN_MEAN_WL}
        AND {_MWL_SQL} <= {text.GOPHER_MAX_MEAN_WL}
        AND {_stopword_sql()} >= {text.GOPHER_MIN_STOPWORDS}
        AND {_DUP2_SQL} <= {text.GOPHER_MAX_DUP_2GRAM} THEN 1 ELSE 0 END"""


def _q54_sql(extra_kept_pred: str = "") -> str:
    """The q54 curate oracle. ``extra_kept_pred`` (round 15) injects
    an additional gate into the `kept` stage — the same place
    `pipeline.curate` applies its optional gates (before dedup, so a
    kept representative itself clears every gate); the q54 suite's
    'rank_gate' member renders the domain-rank predicate here."""
    ann = _lang_pred_sql(
        extra_cols=(
            f"{_quality_sql()} AS quality_q, "
            f"length(regexp_extract_all(text, '{text.TOKEN_RE}')) AS n_tokens, "
            f"md5({_NORM}) AS fp, "
            f"{_gopher_inline_sql()} AS gopher"
        )
    )
    return f"""
    WITH ann AS ({ann}),
    kept AS (
      SELECT * FROM ann
      WHERE lang_pred IN ('en') AND quality_q >= {_CURATE_MIN_Q}
        AND n_tokens >= {_CURATE_MIN_TOKENS} AND gopher = 1{extra_kept_pred}
    ),
    ded AS (
      SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM kept
    )
    SELECT doc_id, lang_pred, quality_q, n_tokens,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
    FROM (
      SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
      FROM ded WHERE rn = 1
    )
    """


# ------------------------------------------------------------------ q44
# Deterministic hash-split: engine-portable train/val/test assignment.

# permutation-digest moduli: terms < Q so a per-shard sum of even 1e10
# rows stays far below BIGINT max; identical literals in the DuckDB SQL
_DIGEST_P = 1_000_003
_DIGEST_Q = 1_000_000_007
_CAP_K = 10  # per-source frequency cap for the q44 'cap' member
# per-source TOKEN budget for the q44 'tokbudget' member: below every
# source's total (~1.1-1.5k at sf0.001/0.01) so the prefix truncates
# at every SF, while the smallest docs (~10 tokens) keep ~10+ rows
_TOKB_BUDGET = 700

def q44_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split stats + shuffled-shard export digests
    + concat-and-chunk sequence-packing digests.

    The shard rows pin the ENTIRE within-shard permutation, not just
    membership: pos = rank in (shuffle_h, doc_id) order within the
    shard, and id_sum = Σ ((doc_id%P)·(pos%P) mod Q) changes if ANY
    two rows swap places — so the oracle hash verifies the exact
    training-data order a trainer would consume. The digest is
    quantized PER TERM (P=1000003, Q=1000000007) so the sum stays in
    BIGINT under ANSI mode at any corpus size (an unreduced
    Σ doc_id·pos grows ~N³/shards² and overflows around 1e9 docs).
    The per-shard window partitions by shard (the export unit), never
    a global sort.

    The pack rows gate `sampling.pack_sequences` (concat-and-chunk
    context windows): per shard, n = number of ``PACK_BUDGET``-token
    windows, min_id = total token-stream length, and id_sum =
    Σ ((doc_id%P)·((pack+1)%P) mod Q) pins EVERY document's window
    assignment — move any document's first token across a window
    boundary and the digest changes. Shard pos and pack both come
    from the SAME keyed window pass, so the packing gate adds no
    exchange to the plan (one scan, one shuffle on shard).

    The mix rows gate ``sampling.mixture_sample`` (temperature
    language rebalancing, rate_g ∝ sqrt(n_min/n_g)): per language,
    n = docs kept, min_id = smallest kept doc_id, and id_sum pins the
    exact kept-set membership — a drifted rate table or hash
    threshold on either engine breaks the digest. ``lang`` is the
    skewed group (en ≈ 3× the tail), so every non-min language
    samples at a non-trivial rate in (0, 1).

    Round 16: 'tokbudget_<source>' rows gate
    ``sampling.token_budget_per_group`` (token-denominated frequency
    capping — the maximal doc_id-ordered prefix within a
    ``_TOKB_BUDGET``-token budget per source): n = kept docs,
    min_id = kept token total, id_sum = membership digest. The budget
    is below every source's total at every SF, so the prefix always
    truncates."""
    from pyspark.sql import Window

    from timebox_spark.operators.sampling import (
        PACK_BUDGET,
        SHUFFLE_SHARDS,
        deterministic_split,
        mixture_sample,
        shuffle_shards,
    )

    docs = load(spark, sf_dir, "documents")
    split = deterministic_split(docs, key="doc_id")
    splits = split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.sum(F.col("doc_id") % _DIGEST_Q).alias("id_sum"),
    )
    sharded = shuffle_shards(
        docs.withColumn("__nt", text.token_count()), key="doc_id",
        n_shards=SHUFFLE_SHARDS,
    )
    w = Window.partitionBy("shard").orderBy("shuffle_h", "doc_id")
    staged = (
        sharded.withColumn("pos", F.row_number().over(w))
        .withColumn(
            "pack",
            F.floor(
                (F.sum("__nt").over(w) - F.col("__nt")) / F.lit(PACK_BUDGET)
            ).cast("long"),
        )
    )
    shards = (
        staged.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.when(F.col("pos") == 1, F.col("doc_id"))).alias("min_id"),
            F.sum(
                (F.col("doc_id") % _DIGEST_P) * (F.col("pos") % _DIGEST_P)
                % _DIGEST_Q
            ).alias("id_sum"),
        )
        .select(
            F.concat(F.lit("shard"), F.col("shard").cast("string")).alias(
                "split"
            ),
            "n",
            "min_id",
            "id_sum",
        )
    )
    packs = (
        staged.groupBy("shard")
        .agg(
            (F.max("pack") + 1).alias("n"),
            F.sum("__nt").alias("min_id"),
            F.sum(
                (F.col("doc_id") % _DIGEST_P)
                * ((F.col("pack") + 1) % _DIGEST_P)
                % _DIGEST_Q
            ).alias("id_sum"),
        )
        .select(
            F.concat(F.lit("pack"), F.col("shard").cast("string")).alias(
                "split"
            ),
            "n",
            "min_id",
            "id_sum",
        )
    )
    mixes = (
        mixture_sample(docs, group_col="lang", key="doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.sum(F.col("doc_id") % _DIGEST_Q).alias("id_sum"),
        )
        .select(
            F.concat(F.lit("mix_"), F.col("lang")).alias("split"),
            "n",
            "min_id",
            "id_sum",
        )
    )
    # DSIR importance resampling (text.dsir_topk): select the raw
    # docs that look most like the 'en' target slice; rows pin every
    # selected id and its exact quantized importance score
    dsir = text.dsir_topk(docs, docs.filter(F.col("lang") == "en")).select(
        F.lit("dsir").alias("split"),
        F.col("dsir_q").alias("n"),
        F.col("doc_id").alias("min_id"),
        (
            (F.col("doc_id") % _DIGEST_P)
            * (F.pmod(F.col("dsir_q"), _DIGEST_P))
            % _DIGEST_Q
        ).alias("id_sum"),
    )
    # per-source frequency capping (sampling.cap_per_group): keep the
    # _CAP_K longest docs per source — membership digest per source
    from timebox_spark.operators.sampling import cap_per_group

    caps = (
        cap_per_group(
            docs,
            group_col="source",
            key="doc_id",
            max_per_group=_CAP_K,
            order_by=[F.length("text").desc(), "doc_id"],
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.sum(F.col("doc_id") % _DIGEST_Q).alias("id_sum"),
        )
        .select(
            F.concat(F.lit("cap_"), F.col("source")).alias("split"),
            "n",
            "min_id",
            "id_sum",
        )
    )
    # per-source TOKEN budget (sampling.token_budget_per_group): keep
    # the maximal doc_id-ordered prefix whose token total stays within
    # _TOKB_BUDGET — n = kept docs, min_id = kept token total, id_sum
    # pins the exact kept-set membership (prefix + membership fully
    # determine the selection under the deterministic order)
    from timebox_spark.operators.sampling import token_budget_per_group

    tokbudget = (
        token_budget_per_group(
            docs.withColumn("__nt", text.token_count()),
            group_col="source",
            token_col="__nt",
            budget=_TOKB_BUDGET,
            key="doc_id",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__nt").alias("min_id"),
            F.sum(F.col("doc_id") % _DIGEST_Q).alias("id_sum"),
        )
        .select(
            F.concat(F.lit("tokbudget_"), F.col("source")).alias("split"),
            "n",
            "min_id",
            "id_sum",
        )
    )
    # materialized packed training rows (sampling.pack_token_rows over
    # tokens_to_ids output): one row per (shard, pack) pinning the
    # pack's EXACT id content — n = token count, min_id = pack id,
    # id_sum = the positional token-id digest (Σ ((id+1)%P)·(pos%P)
    # mod Q over 1-based within-pack positions). Move any token across
    # a window boundary, remap any id, or reorder any document and
    # the digest breaks.
    from timebox_spark.operators.sampling import pack_token_rows

    vocab = text.build_vocab(docs)
    seqs = text.tokens_to_ids(docs, vocab)
    packed = pack_token_rows(seqs)
    packrows = text.token_id_digest(
        packed, id_col="shard", keep=("pack", "n_tokens")
    ).select(
        F.concat(
            F.lit("packrow"),
            F.col("shard").cast("string"),
            F.lit(":"),
            F.col("pack").cast("string"),
        ).alias("split"),
        F.col("n_tokens").alias("n"),
        F.col("pack").cast("long").alias("min_id"),
        F.col("dg").alias("id_sum"),
    )
    return (
        splits.unionByName(shards)
        .unionByName(packs)
        .unionByName(mixes)
        .unionByName(dsir)
        .unionByName(caps)
        .unionByName(tokbudget)
        .unionByName(packrows)
    )


def _q44_sql() -> str:
    from timebox_spark.operators.sampling import (
        MIX_SCALE,
        MIX_SEED,
        PACK_BUDGET,
        SHUFFLE_SEED,
        SHUFFLE_SHARDS,
    )

    return f"""
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
  FROM documents
), s AS (
  SELECT doc_id,
         length(regexp_extract_all(text, '{text.TOKEN_RE}')) AS nt,
         ('0x' || substr(md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM documents
), r0 AS (
  SELECT doc_id, h, nt, h % {SHUFFLE_SHARDS} AS shard,
         row_number() OVER w AS pos,
         COALESCE(SUM(nt) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS before
  FROM s
  WINDOW w AS (PARTITION BY h % {SHUFFLE_SHARDS} ORDER BY h, doc_id)
), r AS (
  SELECT *, before // {PACK_BUDGET} AS pack FROM r0
), ptc AS (
  SELECT t, count(*) AS n FROM (
    SELECT unnest(regexp_extract_all(text, '{text.TOKEN_RE}')) AS t
    FROM documents
  ) GROUP BY t
), pvc AS (
  SELECT t, id FROM (
    SELECT t, n, row_number() OVER (ORDER BY n DESC, t) AS id FROM ptc
  ) WHERE id <= {text.VOCAB_EXPORT_MAX}
), ptk AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '{text.TOKEN_RE}')) AS t,
         generate_subscripts(regexp_extract_all(text, '{text.TOKEN_RE}'), 1)
           AS tpos
  FROM documents
), pti AS (
  SELECT k.doc_id, k.tpos, coalesce(v.id, 0) AS tid
  FROM ptk k LEFT JOIN pvc v ON v.t = k.t
), pstream AS (
  SELECT r.shard, r.before + d.tpos - 1 AS gpos, d.tid
  FROM r JOIN pti d ON d.doc_id = r.doc_id
), prow AS (
  SELECT shard, gpos // {PACK_BUDGET} AS pack,
         gpos % {PACK_BUDGET} AS poff, tid
  FROM pstream
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(sum(doc_id % {_DIGEST_Q}) AS BIGINT) AS id_sum
FROM b GROUP BY 1
UNION ALL
SELECT 'shard' || CAST(shard AS VARCHAR),
       CAST(count(*) AS BIGINT),
       CAST(min(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT),
       CAST(sum((doc_id % {_DIGEST_P}) * (pos % {_DIGEST_P}) % {_DIGEST_Q}) AS BIGINT)
FROM r GROUP BY 1
UNION ALL
SELECT 'pack' || CAST(shard AS VARCHAR),
       CAST(max(pack) + 1 AS BIGINT),
       CAST(sum(nt) AS BIGINT),
       CAST(sum((doc_id % {_DIGEST_P}) * ((pack + 1) % {_DIGEST_P}) % {_DIGEST_Q}) AS BIGINT)
FROM r GROUP BY 1
UNION ALL
SELECT 'mix_' || lang,
       CAST(count(*) AS BIGINT),
       CAST(min(doc_id) AS BIGINT),
       CAST(sum(doc_id % {_DIGEST_Q}) AS BIGINT)
FROM (
  SELECT d.doc_id, d.lang
  FROM documents d
  JOIN (
    SELECT lang,
           CAST(floor(sqrt((SELECT CAST(min(n_total) AS DOUBLE)
                            FROM (SELECT count(*) AS n_total
                                  FROM documents GROUP BY lang)))
                      / sqrt(CAST(n_total AS DOUBLE)) * {MIX_SCALE}) AS BIGINT)
             AS rate_ppm
    FROM (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang)
  ) r USING (lang)
  WHERE ('0x' || substr(md5('{MIX_SEED}:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        % {MIX_SCALE} < r.rate_ppm
) GROUP BY 1
UNION ALL
SELECT 'dsir', score, doc_id,
       (doc_id % {_DIGEST_P}) * (((score % {_DIGEST_P}) + {_DIGEST_P}) % {_DIGEST_P})
         % {_DIGEST_Q}
FROM (
  WITH bkD AS (
    SELECT doc_id,
           ('0x' || substr(md5('{text.DSIR_SALT}:' || t), 1, 8))::BIGINT
             % {text.DSIR_BUCKETS} AS bb
    FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{text.TOKEN_RE}')) AS t
          FROM documents)
  ),
  tH AS (SELECT bb, count(*) AS nt FROM bkD
         JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY bb),
  sH AS (SELECT bb, count(*) AS ns FROM bkD GROUP BY bb),
  gr AS (
    SELECT rr.range AS bb, coalesce(tH.nt, 0) AS nt, coalesce(sH.ns, 0) AS ns
    FROM range(0, {text.DSIR_BUCKETS}) rr
    LEFT JOIN tH ON tH.bb = rr.range
    LEFT JOIN sH ON sH.bb = rr.range
  ),
  tt AS (SELECT CAST(sum(nt) AS BIGINT) AS t_tot,
                CAST(sum(ns) AS BIGINT) AS s_tot FROM gr),
  lrt AS (
    SELECT bb,
           CAST(floor((ln(CAST(nt + 1 AS DOUBLE)
                          / CAST(t_tot + {text.DSIR_BUCKETS} AS DOUBLE))
                     - ln(CAST(ns + 1 AS DOUBLE)
                          / CAST(s_tot + {text.DSIR_BUCKETS} AS DOUBLE)))
                     * {float(text.DSIR_SCALE)} + 0.5) AS BIGINT) AS lr_q
    FROM gr CROSS JOIN tt
  ),
  scd AS (
    SELECT d.doc_id, CAST(coalesce(x.s, 0) AS BIGINT) AS score
    FROM documents d LEFT JOIN (
      SELECT doc_id, sum(lr_q) AS s FROM bkD JOIN lrt USING (bb) GROUP BY doc_id
    ) x ON x.doc_id = d.doc_id
  )
  SELECT doc_id, score FROM (
    SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM scd
  ) WHERE rn <= {text.DSIR_TOP_K}
)
UNION ALL
SELECT 'cap_' || source,
       CAST(count(*) AS BIGINT),
       CAST(min(doc_id) AS BIGINT),
       CAST(sum(doc_id % {_DIGEST_Q}) AS BIGINT)
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY length(text) DESC, doc_id) AS rn
  FROM documents
) WHERE rn <= {_CAP_K} GROUP BY 1
UNION ALL
SELECT 'tokbudget_' || source,
       CAST(count(*) AS BIGINT),
       CAST(sum(nt) AS BIGINT),
       CAST(sum(doc_id % {_DIGEST_Q}) AS BIGINT)
FROM (
  SELECT doc_id, source, nt,
         SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT doc_id, source,
               length(regexp_extract_all(text, '{text.TOKEN_RE}')) AS nt
        FROM documents)
) WHERE cum <= {_TOKB_BUDGET} GROUP BY 1
UNION ALL
SELECT 'packrow' || CAST(shard AS VARCHAR) || ':' || CAST(pack AS VARCHAR),
       CAST(count(*) AS BIGINT),
       CAST(pack AS BIGINT),
       CAST(sum(((tid + 1) % {text._TOKID_P}) * ((poff + 1) % {text._TOKID_P})
                % {text._TOKID_Q}) AS BIGINT)
FROM prow GROUP BY shard, pack
"""


_Q44_SQL = _q44_sql()


ORACLE_SQL = {
    "q20_text_stats": _Q20_SQL,
    "q21_lang_id": _lang_sql(),
    "q22_top_words": _Q22_SQL,
    "q24_ngram_jaccard": _Q24_SQL,
    "q27_embedding_neardups": _Q27_SQL,
    "q28_knn_bruteforce": _Q28_SQL,
    "q30_multimodal_features": _Q30_SQL,
    "q44_train_split": _Q44_SQL,
    "q51_frame_sample": _Q51_SQL,
    "q54_curation_pipeline": _q54_sql(),
    # q25_minhash_dedup (numpy MinHash) and q47_ivf_ann (float IVF) have
    # no SQL twin: they run in the headline benchmark, and
    # tests/test_clustering.py and tests/test_similarity_ops.py pin their
    # semantics against engine-internal references. Their oracle-checked
    # counterparts are the portable members of the q25 and q29 suites.
}
