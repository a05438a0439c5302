"""Driver-facing query surface: ≤50 keys, every one oracle-checked.

Round 1 exposed 65 keys and the driver checked exactly the first 50 in
dict order — the LLM-pipeline suite (positions 51-65) never reached
CORRECTNESS_r01.json. This module composes the same underlying
operators into suite wrappers (union / cross-join of reshaped digests,
oracle SQL composed from the per-query SQL) so the whole surface fits
in the driver's window, ordered LLM-suite first.

Every wrapper reuses the exact per-operator plan from
``plans.queries`` / ``plans.llm_queries`` — nothing is re-implemented
here, so the repo's fine-grained pytest suite and this driver surface
exercise identical code paths.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timebox_spark.operators import dedup
from timebox_spark.plans import ann_oracle
from timebox_spark.plans import llm_queries as LQ
from timebox_spark.plans import queries as Q
from timebox_spark.plans.tables import load


def _lit0():
    return F.lit(0).cast("long")


# ------------------------------------------------------------------
# LLM pipeline suites
# ------------------------------------------------------------------

def q21_text_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID distribution + top-20 words + BM25 retrieval top-k
    (text.bm25_topk — the 'bm25' rows pin each retrieved doc's exact
    quantized score and the ranking boundary) + hashed-linear
    classifier top-k (text.classifier_topk — the 'clf' rows pin each
    selected doc's exact integer score) + trained-in-engine NB source
    classification ('nb' rows) + context-window chunking ('chunk'
    rows) in one uniform shape."""
    from timebox_spark.operators import text as T

    lang = LQ.q21_lang_id(spark, sf_dir).select(
        F.lit("lang").alias("chk"), F.col("lang_pred").alias("k"), "n"
    )
    words = LQ.q22_top_words(spark, sf_dir).select(
        F.lit("word").alias("chk"), F.col("word").alias("k"), "n"
    )
    docs = load(spark, sf_dir, "documents")
    bm25 = T.bm25_topk(docs).select(
        F.lit("bm25").alias("chk"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("score_q").alias("n"),
    )
    clf = T.classifier_topk(docs).select(
        F.lit("clf").alias("chk"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("clf_score").alias("n"),
    )
    ppl = T.perplexity_topk(docs).select(
        F.lit("ppl").alias("chk"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("avg_lp_q").alias("n"),
    )
    bpe = T.bpe_pair_counts(docs).select(
        F.lit("bpe").alias("chk"), F.col("pair").alias("k"), "n"
    )
    # full trainer: the N learned merges in order + post-merge corpus
    # token total (text.bpe_train / bpe_train_summary). Trained ONCE
    # here and shared with the BPE token-id export below.
    trained = T.bpe_train(docs)
    bpem = T.bpe_train_summary(docs, trained=trained).select(
        F.lit("bpe_merges").alias("chk"),
        F.concat_ws(
            ":", F.col("round").cast("string"), F.col("a"), F.col("b")
        ).alias("k"),
        F.col("n"),
    )
    rep = T.repetition_topk(docs).select(
        F.lit("rep").alias("chk"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("rep_frac_q").alias("n"),
    )
    kl = T.source_kl_divergence(docs).select(
        F.lit("kl").alias("chk"),
        F.col("source").alias("k"),
        F.col("kl_q").alias("n"),
    )
    # 'fert' rows (round 16): tokenizer-fit diagnostics
    # (text.tokenizer_fertility, with_vocab=True) — per language one
    # row per metric (docs/words/subtok/chars/vocab totals + the
    # exact ppm fertility and chars-per-sub-token ratios), so a
    # drifted tokenizer regex, a lost doc, or one ppm of ratio drift
    # breaks the driver hash
    fert = (
        T.tokenizer_fertility(docs, with_vocab=True)
        .selectExpr(
            "lang",
            "stack(7, 'docs', n_docs, 'words', n_words, "
            "'subtok', n_sub_tokens, 'chars', n_chars, "
            "'vocab', n_distinct_words, 'fert_ppm', fertility_ppm, "
            "'cpt_ppm', chars_per_sub_token_ppm) AS (m, v)",
        )
        .select(
            F.lit("fert").alias("chk"),
            F.concat_ws(":", "lang", "m").alias("k"),
            F.col("v").alias("n"),
        )
    )
    # 'chunk' rows: text.chunk_documents context windows — n packs an
    # md5-based digest of the exact chunk text with its token count
    # (digest·128 + n_tokens), so a drifted window boundary, stride,
    # or join separator breaks the driver hash for that chunk
    chunks = T.chunk_documents(docs).select(
        F.lit("chunk").alias("chk"),
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("chunk_idx").cast("string"),
        ).alias("k"),
        (
            F.conv(
                F.substring(
                    F.md5(F.encode(F.col("chunk_text"), "UTF-8")), 1, 8
                ),
                16,
                10,
            ).cast("long")
            * 128
            + F.col("n_tokens")
        ).alias("n"),
    )
    # 'nb' rows: trained-in-engine multinomial NB source classifier —
    # k = doc_id:argmax-label, n = the exact integer score, so a
    # drifted count, smoothing term, quantized ln, or tie-break
    # breaks the driver hash per doc
    nb_w, nb_c = T.nb_train(docs)
    nb = T.nb_classify(docs, nb_w, nb_c).select(
        F.lit("nb").alias("chk"),
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("pred_label")
        ).alias("k"),
        F.col("score_q").alias("n"),
    )
    # token-id export (round-8 verdict task 9): 'vocab' rows pin the
    # exact manifest (token → contiguous id AND its count, packed
    # id·P + n mod P), 'tokid' rows pin every document's exact id
    # SEQUENCE (position-weighted digest; k carries n_tokens:n_oov so
    # OOV accounting is hash-gated too)
    vocab_df = T.build_vocab(docs)
    vocab_rows = vocab_df.select(
        F.lit("vocab").alias("chk"),
        F.col("t").alias("k"),
        (
            F.col("id") * F.lit(T._TOKID_P) + F.col("n") % F.lit(T._TOKID_P)
        ).alias("n"),
    )
    seqs = T.tokens_to_ids(docs, vocab_df)
    tokid = T.token_id_digest(seqs, keep=("n_tokens", "n_oov")).select(
        F.lit("tokid").alias("chk"),
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("n_tokens").cast("string"),
            F.col("n_oov").cast("string"),
        ).alias("k"),
        F.col("dg").alias("n"),
    )
    # BPE token-id export (round-9 verdict task 1b): the two halves of
    # the pipeline compose — apply_bpe's sub-word tokens flow through
    # the SAME build_vocab/tokens_to_ids path as whitespace tokens.
    # 'vocab_bpe' pins the BPE manifest, 'tokid_bpe' every document's
    # exact BPE-id sequence (position-weighted digest + OOV counts).
    btoks = T.apply_bpe("text", trained[0])
    bvocab = T.build_vocab(docs, tokens=btoks)
    bvocab_rows = bvocab.select(
        F.lit("vocab_bpe").alias("chk"),
        F.col("t").alias("k"),
        (
            F.col("id") * F.lit(T._TOKID_P) + F.col("n") % F.lit(T._TOKID_P)
        ).alias("n"),
    )
    bseqs = T.tokens_to_ids(docs, bvocab, tokens=btoks)
    btokid = T.token_id_digest(bseqs, keep=("n_tokens", "n_oov")).select(
        F.lit("tokid_bpe").alias("chk"),
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("n_tokens").cast("string"),
            F.col("n_oov").cast("string"),
        ).alias("k"),
        F.col("dg").alias("n"),
    )
    return (
        lang.unionByName(words)
        .unionByName(bm25)
        .unionByName(nb)
        .unionByName(clf)
        .unionByName(ppl)
        .unionByName(bpe)
        .unionByName(bpem)
        .unionByName(rep)
        .unionByName(kl)
        .unionByName(fert)
        .unionByName(chunks)
        .unionByName(vocab_rows)
        .unionByName(tokid)
        .unionByName(bvocab_rows)
        .unionByName(btokid)
    )


def _bm25_sql() -> str:
    """DuckDB mirror of text.bm25_topk: same term constants, same
    fixed-order float summation over integer counts, same (score,
    doc_id) ranking."""
    from timebox_spark.operators import text as T

    terms = T.BM25_QUERY_TERMS
    tf_cols = ", ".join(
        f"length(regexp_extract_all(text, '\\b{t}\\b')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(sum((tf{i} > 0)::INT) AS DOUBLE) AS df{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * CAST(tf{i} AS DOUBLE)"
        f" * {T.BM25_K1 + 1.0} / (CAST(tf{i} AS DOUBLE)"
        f" + {T.BM25_K1} * ({1.0 - T.BM25_B}"
        f" + {T.BM25_B} * CAST(nt AS DOUBLE) / avgdl))"
        for i in range(len(terms))
    )
    return f"""
WITH tf AS (
  SELECT doc_id,
         length(regexp_extract_all(text, '{T.TOKEN_RE}')) AS nt,
         {tf_cols}
  FROM documents
), st AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(nt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
         {df_cols}
  FROM tf
), sc AS (
  SELECT doc_id,
         CAST(floor(((0.0 + {score})) * {T.BM25_SCALE} + 0.5) AS BIGINT) AS score_q
  FROM tf CROSS JOIN st
)
SELECT doc_id, score_q FROM (
  SELECT *, row_number() OVER (ORDER BY score_q DESC, doc_id) AS rn FROM sc
) WHERE rn <= {T.BM25_TOP_K}
"""


def _clf_sql() -> str:
    """DuckDB mirror of text.classifier_topk: same md5 feature hash,
    same md5-derived bucket weights, same (score, doc_id) ranking."""
    from timebox_spark.operators import text as T

    half = (T.CLF_WRANGE - 1) // 2
    w = (
        f"('0x' || substr(md5('w:' || CAST(('0x' || substr(md5('{T.CLF_SALT}:' || t), 1, 8))::BIGINT"
        f" % {T.CLF_BUCKETS} AS VARCHAR)), 1, 8))::BIGINT % {T.CLF_WRANGE} - {half}"
    )
    return f"""
SELECT doc_id, clf_score FROM (
  SELECT doc_id, clf_score,
         row_number() OVER (ORDER BY clf_score DESC, doc_id) AS rn
  FROM (
    SELECT doc_id,
           CAST(COALESCE(list_sum(list_transform(
             regexp_extract_all(text, '{T.TOKEN_RE}'), t -> {w})), 0) AS BIGINT)
             AS clf_score
    FROM documents)
) WHERE rn <= {T.CLF_TOP_K}
"""


def _ppl_sql() -> str:
    """DuckDB mirror of text.perplexity_topk: same bigram construction
    (1-based list HOFs), same add-one-smoothed probabilities, same
    per-distinct-bigram ln quantization, same ranking."""
    from timebox_spark.operators import text as T

    return f"""
WITH tk AS (
  SELECT doc_id, regexp_extract_all(text, '{T.TOKEN_RE}') AS l FROM documents
),
pr AS (
  SELECT doc_id,
         unnest(list_transform(range(2, length(l) + 1),
                               i -> l[i - 1] || ' ' || l[i])) AS bg
  FROM tk
),
cb AS (SELECT bg, count(*) AS c12 FROM pr GROUP BY 1),
hd AS (SELECT bg, c12, split_part(bg, ' ', 1) AS w1 FROM cb),
ch AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM hd GROUP BY 1),
vo AS (SELECT count(DISTINCT t) AS v
       FROM (SELECT unnest(l) AS t FROM tk)),
lp AS (
  SELECT bg, CAST(floor(ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))
                        * {T.PPL_SCALE} + 0.5) AS BIGINT) AS lp_q
  FROM hd JOIN ch USING (w1) CROSS JOIN vo
),
sc AS (
  SELECT doc_id, count(*) AS nb, CAST(sum(lp_q) AS BIGINT) AS s
  FROM pr JOIN lp USING (bg) GROUP BY 1
),
rk AS (
  SELECT doc_id,
         CAST(floor(CAST(s AS DOUBLE) / CAST(nb AS DOUBLE) + 0.5) AS BIGINT)
           AS avg_lp_q
  FROM sc
)
SELECT doc_id, avg_lp_q FROM (
  SELECT *, row_number() OVER (ORDER BY avg_lp_q DESC, doc_id) AS rn FROM rk
) WHERE rn <= {T.PPL_TOP_K}
"""


def _bpe_sql() -> str:
    """DuckDB mirror of text.bpe_pair_counts: same vocab reduction,
    same 1-based substr pair extraction, same (n desc, pair) rank."""
    from timebox_spark.operators import text as T

    return f"""
WITH vw AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest(regexp_extract_all(text, '{T.TOKEN_RE}')) AS w
        FROM documents)
  GROUP BY 1
),
pp AS (
  SELECT freq,
         unnest(list_transform(range(2, length(w) + 1),
                               i -> substr(w, i - 1, 2))) AS pair
  FROM vw
),
bc AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pp GROUP BY 1)
SELECT pair, n FROM (
  SELECT *, row_number() OVER (ORDER BY n DESC, pair) AS rn FROM bc
) WHERE rn <= {T.BPE_TOP_PAIRS}
"""


def _bpe_merges_sql() -> str:
    """DuckDB mirror of text.bpe_train: the N merge rounds unrolled
    as CTE layers — same delimited-symbol representation, same
    (count desc, a, b) best-pair rule, same leftmost-non-overlapping
    replace() as the greedy merge application — plus the final-vocab
    token total. An engine-side drift in ANY round shifts every later
    round and breaks the hash."""
    from timebox_spark.operators import text as T

    sep = "chr(31)"
    sep2 = f"({sep} || {sep})"
    parts = [
        f"""v0 AS (
  SELECT regexp_replace(w, '(.)', {sep} || '\\1' || {sep}, 'g') AS seq,
         CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(text, '{T.TOKEN_RE}')) AS w
        FROM documents)
  GROUP BY 1
)"""
    ]
    for r in range(T.BPE_MERGES):
        parts.append(
            f"""p{r + 1} AS (
  SELECT s.a AS a, s.b AS b, CAST(sum(freq) AS BIGINT) AS n FROM (
    SELECT freq,
           unnest(list_transform(range(2, len(syms) + 1),
                  i -> {{'a': syms[i - 1], 'b': syms[i]}})) AS s
    FROM (SELECT freq, string_split(trim(seq, chr(31)), {sep2}) AS syms
          FROM v{r})
  ) GROUP BY 1, 2
),
b{r + 1} AS (SELECT a, b, n FROM p{r + 1} ORDER BY n DESC, a, b LIMIT 1),
v{r + 1} AS (
  -- LEFT JOIN (not CROSS): an exhausted pair table (no merge this
  -- round) must leave the vocab INTACT, mirroring the Spark
  -- trainer's loop break — a cross join would empty it
  SELECT CASE WHEN b{r + 1}.a IS NULL THEN seq
              ELSE replace(seq, {sep} || a || {sep} || {sep} || b || {sep},
                           {sep} || a || b || {sep}) END AS seq, freq
  FROM v{r} LEFT JOIN b{r + 1} ON TRUE
)"""
        )
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT {r + 1} AS round, a, b, n FROM b{r + 1}"
        for r in range(T.BPE_MERGES)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
{merge_rows}
UNION ALL
SELECT 0, '<tokens>', '',
       CAST(sum(freq * ((length(seq)
             - length(replace(seq, {sep2}, ''))) // 2 + 1)) AS BIGINT)
FROM v{T.BPE_MERGES}
"""
    )


def _rep_sql() -> str:
    """DuckDB mirror of text.repetition_topk: same bigram strings,
    same max(count·len) char-mass, same half-up 1e6 quantization."""
    from timebox_spark.operators import text as T

    return f"""
WITH tkr AS (
  SELECT doc_id, length(text) AS nc,
         regexp_extract_all(text, '{T.TOKEN_RE}') AS l
  FROM documents
),
gr AS (
  SELECT doc_id, nc,
         unnest(list_transform(range(2, length(l) + 1),
                               i -> l[i - 1] || ' ' || l[i])) AS g
  FROM tkr
),
ms AS (
  SELECT doc_id, nc, CAST(max(c * length(g)) AS BIGINT) AS mass
  FROM (SELECT doc_id, nc, g, count(*) AS c FROM gr GROUP BY 1, 2, 3)
  GROUP BY 1, 2
),
fr AS (
  SELECT t.doc_id,
         CAST(COALESCE(floor(CAST(ms.mass AS DOUBLE) * 1000000.0
                             / CAST(ms.nc AS DOUBLE) + 0.5), 0) AS BIGINT)
           AS rep_frac_q
  FROM tkr t LEFT JOIN ms ON ms.doc_id = t.doc_id
)
SELECT doc_id, rep_frac_q FROM (
  SELECT *, row_number() OVER (ORDER BY rep_frac_q DESC, doc_id) AS rn FROM fr
) WHERE rn <= {T.REP_TOP_K}
"""


def _kl_sql() -> str:
    """DuckDB mirror of text.source_kl_divergence: same top-K vocab
    (count desc, word tiebreak), same add-one smoothing, same
    left-associative double expression, per-term 1e9 quantization
    before an exact integer sum."""
    from timebox_spark.operators import text as T

    k = T.KL_VOCAB_K
    pg = f"(CAST(c + 1 AS DOUBLE) / (CAST(gt AS DOUBLE) + {float(k)}))"
    pc = f"(CAST(cc + 1 AS DOUBLE) / (CAST(ct AS DOUBLE) + {float(k)}))"
    return f"""
WITH wd AS (
  SELECT source AS g, unnest(regexp_extract_all(text, '{T.TOKEN_RE}')) AS w
  FROM documents
),
gw AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c FROM wd GROUP BY 1, 2),
cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cc FROM gw GROUP BY 1),
vb AS (SELECT w, cc FROM (
        SELECT *, row_number() OVER (ORDER BY cc DESC, w) AS rn FROM cw
       ) WHERE rn <= {k}),
gt AS (SELECT g, CAST(sum(c) AS BIGINT) AS gt FROM gw GROUP BY 1),
ct AS (SELECT CAST(sum(cc) AS BIGINT) AS ct FROM cw),
grid AS (
  SELECT gt.g, vb.w, vb.cc, gt.gt, ct.ct, COALESCE(gw.c, 0) AS c
  FROM gt CROSS JOIN vb
  LEFT JOIN gw ON gw.g = gt.g AND gw.w = vb.w
  CROSS JOIN ct
)
SELECT g AS source,
       CAST(sum(CAST(floor({pg} * ln({pg} / {pc})
                 * {float(T.KL_TERM_SCALE)} + 0.5) AS BIGINT)) AS BIGINT)
         AS kl_q
FROM grid GROUP BY 1
"""


def _nb_sql() -> str:
    """DuckDB mirror of text.nb_train + nb_classify on the documents
    table: same add-one smoothing rationals, same floor(ln·S + 0.5)
    per-distinct quantization, same integer scoring and
    (score DESC, label ASC) argmax."""
    from timebox_spark.operators import text as T

    S = T.NB_SCALE
    return f"""
WITH words AS (SELECT source AS label,
        unnest(regexp_extract_all(text, '{T.TOKEN_RE}')) AS t FROM documents),
cnt AS (SELECT label, t, count(*) c FROM words GROUP BY 1, 2),
tot AS (SELECT label, CAST(sum(c) AS BIGINT) n_l FROM cnt GROUP BY 1),
voc AS (SELECT count(DISTINCT t) v FROM words),
nd AS (SELECT source AS label, count(*) d_l FROM documents GROUP BY 1),
nn AS (SELECT count(*) n FROM documents),
wts AS (SELECT label, t,
          CAST(floor(ln((c + 1)::DOUBLE / (n_l + v)::DOUBLE) * {S} + 0.5)
               AS BIGINT) w_q
        FROM cnt JOIN tot USING (label) CROSS JOIN voc),
cls AS (SELECT nd.label,
          CAST(floor(ln(d_l::DOUBLE / n::DOUBLE) * {S} + 0.5)
               AS BIGINT) prior_q,
          CAST(floor(ln(1.0 / (n_l + v)::DOUBLE) * {S} + 0.5)
               AS BIGINT) oov_q
        FROM nd JOIN tot ON nd.label = tot.label
        CROSS JOIN voc CROSS JOIN nn),
nbase AS (SELECT doc_id,
        CAST(len(regexp_extract_all(text, '{T.TOKEN_RE}')) AS BIGINT)
          AS n_tokens FROM documents),
dw AS (SELECT doc_id,
        unnest(regexp_extract_all(text, '{T.TOKEN_RE}')) t FROM documents),
mt AS (SELECT doc_id, label, count(*) m, CAST(sum(w_q) AS BIGINT) sw
       FROM dw JOIN wts USING (t) GROUP BY 1, 2),
sc AS (SELECT b.doc_id, c.label, b.n_tokens,
         c.prior_q + coalesce(mt.sw, 0)
           + (b.n_tokens - coalesce(mt.m, 0)) * c.oov_q AS score_q
       FROM nbase b CROSS JOIN cls c
       LEFT JOIN mt ON mt.doc_id = b.doc_id AND mt.label = c.label),
pr AS (SELECT doc_id, label, score_q,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_q DESC, label ASC) rn FROM sc)
SELECT CAST(doc_id AS VARCHAR) || ':' || label AS k,
       CAST(score_q AS BIGINT) AS n
FROM pr WHERE rn = 1
"""


def _chunk_sql() -> str:
    """DuckDB mirror of text.chunk_documents (default window/stride):
    same minimal-cover chunk count, same token slices, same single-
    space re-join — the digest packs md5(chunk_text)·128 + n_tokens."""
    from timebox_spark.operators import text as T

    import inspect

    sig = inspect.signature(T.chunk_documents)
    m = sig.parameters["max_tokens"].default
    s = m - sig.parameters["overlap"].default
    return f"""
SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR) AS k,
       CAST((('0x' || substr(md5(ct), 1, 8))::BIGINT) * 128 + ntc AS BIGINT) AS n
FROM (
  SELECT doc_id, k,
         array_to_string(list_slice(toks, k * {s} + 1, k * {s} + {m}), ' ') AS ct,
         least({m}, nt - k * {s}) AS ntc
  FROM (
    SELECT doc_id, toks, nt,
           unnest(range(0, CASE WHEN nt <= 0 THEN 0
                ELSE 1 + CAST(ceil(greatest(nt - {m}, 0) / {s}.0) AS BIGINT)
                END)) AS k
    FROM (SELECT doc_id, regexp_extract_all(text, '{T.TOKEN_RE}') AS toks,
                 length(regexp_extract_all(text, '{T.TOKEN_RE}')) AS nt
          FROM documents)
  )
)
"""


def _tokid_sql() -> tuple[str, str]:
    """DuckDB mirror of text.build_vocab + tokens_to_ids +
    token_id_digest: same frequency ranking (count desc, token asc,
    top VOCAB_EXPORT_MAX, ids 1..V, OOV=0), same position-weighted
    per-term-modulus digest over 1-based positions. Returns the
    (vocab, tokid) member SQLs."""
    from timebox_spark.operators import text as T

    p, q = T._TOKID_P, T._TOKID_Q
    base = f"""
WITH tc AS (
  SELECT t, count(*) AS n FROM (
    SELECT unnest(regexp_extract_all(text, '{T.TOKEN_RE}')) AS t FROM documents
  ) GROUP BY t
),
vc AS (
  SELECT t, n, id FROM (
    SELECT t, n, row_number() OVER (ORDER BY n DESC, t) AS id FROM tc
  ) WHERE id <= {T.VOCAB_EXPORT_MAX}
)"""
    vocab = f"""{base}
SELECT t AS k, CAST(id * {p} + n % {p} AS BIGINT) AS n FROM vc"""
    tokid = f"""{base},
tk AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '{T.TOKEN_RE}')) AS t,
         generate_subscripts(regexp_extract_all(text, '{T.TOKEN_RE}'), 1) AS pos
  FROM documents
),
ti AS (
  SELECT k.doc_id, k.pos, coalesce(v.id, 0) AS tid
  FROM tk k LEFT JOIN vc v ON v.t = k.t
),
sq AS (
  SELECT doc_id,
         CAST(sum(((tid + 1) % {p}) * (pos % {p}) % {q}) AS BIGINT) AS dg,
         CAST(count(*) AS BIGINT) AS nt,
         CAST(sum((tid = 0)::INT) AS BIGINT) AS noov
  FROM ti GROUP BY doc_id
)
SELECT CAST(d.doc_id AS VARCHAR) || ':' || CAST(coalesce(sq.nt, 0) AS VARCHAR)
         || ':' || CAST(coalesce(sq.noov, 0) AS VARCHAR) AS k,
       coalesce(sq.dg, 0) AS n
FROM documents d LEFT JOIN sq ON sq.doc_id = d.doc_id"""
    return vocab, tokid


def _tokid_bpe_sql() -> tuple[str, str]:
    """DuckDB mirror of apply_bpe → build_vocab → tokens_to_ids →
    token_id_digest: re-trains the BPE merges with the same unrolled
    CTE rounds as ``_bpe_merges_sql`` but KEEPS the word column, so
    each document word joins to its final merged symbol sequence —
    exactly what ``apply_bpe`` computes per occurrence (every corpus
    word is in the training vocab, so the join is total). Global
    token positions come from a per-doc running sum of per-word
    symbol counts. Returns the (vocab_bpe, tokid_bpe) member SQLs."""
    from timebox_spark.operators import text as T

    p, q = T._TOKID_P, T._TOKID_Q
    sep = "chr(31)"
    sep2 = f"({sep} || {sep})"
    parts = [
        f"""w0 AS (
  SELECT w, regexp_replace(w, '(.)', {sep} || '\\1' || {sep}, 'g') AS seq,
         CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(text, '{T.TOKEN_RE}')) AS w
        FROM documents)
  GROUP BY 1, 2
)"""
    ]
    for r in range(T.BPE_MERGES):
        parts.append(
            f"""q{r + 1} AS (
  SELECT s.a AS a, s.b AS b, CAST(sum(freq) AS BIGINT) AS n FROM (
    SELECT freq,
           unnest(list_transform(range(2, len(syms) + 1),
                  i -> {{'a': syms[i - 1], 'b': syms[i]}})) AS s
    FROM (SELECT freq, string_split(trim(seq, chr(31)), {sep2}) AS syms
          FROM w{r})
  ) GROUP BY 1, 2
),
c{r + 1} AS (SELECT a, b FROM q{r + 1} ORDER BY n DESC, a, b LIMIT 1),
w{r + 1} AS (
  SELECT w, CASE WHEN c{r + 1}.a IS NULL THEN seq
              ELSE replace(seq, {sep} || a || {sep} || {sep} || b || {sep},
                           {sep} || a || b || {sep}) END AS seq, freq
  FROM w{r} LEFT JOIN c{r + 1} ON TRUE
)"""
        )
    base = (
        "WITH "
        + ",\n".join(parts)
        + f""",
wf AS (SELECT w, string_split(trim(seq, chr(31)), {sep2}) AS syms
       FROM w{T.BPE_MERGES}),
dw AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '{T.TOKEN_RE}')) AS w,
         generate_subscripts(regexp_extract_all(text, '{T.TOKEN_RE}'), 1)
           AS wpos
  FROM documents
),
dx AS (SELECT dw.doc_id, dw.wpos, wf.syms, len(wf.syms) AS ns
       FROM dw JOIN wf ON wf.w = dw.w),
do_ AS (
  SELECT doc_id, wpos, syms,
         sum(ns) OVER (PARTITION BY doc_id ORDER BY wpos
                       ROWS UNBOUNDED PRECEDING) - ns AS off
  FROM dx
),
dt AS (SELECT doc_id, off + generate_subscripts(syms, 1) AS pos,
              unnest(syms) AS t
       FROM do_),
btc AS (SELECT t, count(*) AS n FROM dt GROUP BY 1),
bvc AS (
  SELECT t, n, id FROM (
    SELECT t, n, row_number() OVER (ORDER BY n DESC, t) AS id FROM btc
  ) WHERE id <= {T.VOCAB_EXPORT_MAX}
)"""
    )
    vocab = f"""{base}
SELECT t AS k, CAST(id * {p} + n % {p} AS BIGINT) AS n FROM bvc"""
    tokid = f"""{base},
ti AS (
  SELECT dt.doc_id, dt.pos, coalesce(v.id, 0) AS tid
  FROM dt LEFT JOIN bvc v ON v.t = dt.t
),
sq AS (
  SELECT doc_id,
         CAST(sum(((tid + 1) % {p}) * (pos % {p}) % {q}) AS BIGINT) AS dg,
         CAST(count(*) AS BIGINT) AS nt,
         CAST(sum((tid = 0)::INT) AS BIGINT) AS noov
  FROM ti GROUP BY doc_id
)
SELECT CAST(d.doc_id AS VARCHAR) || ':' || CAST(coalesce(sq.nt, 0) AS VARCHAR)
         || ':' || CAST(coalesce(sq.noov, 0) AS VARCHAR) AS k,
       coalesce(sq.dg, 0) AS n
FROM documents d LEFT JOIN sq ON sq.doc_id = d.doc_id"""
    return vocab, tokid


_TOKID_VOCAB_SQL, _TOKID_SEQ_SQL = _tokid_sql()
_TOKID_BPE_VOCAB_SQL, _TOKID_BPE_SEQ_SQL = _tokid_bpe_sql()

def _fert_sql() -> str:
    """DuckDB mirror of text.tokenizer_fertility(with_vocab=True):
    same token regexes, same integer ppm arithmetic, melted to one
    (lang:metric, value) row per metric."""
    from timebox_spark.operators import text as T

    tok = f"length(regexp_extract_all(text, '{T.TOKEN_RE}'))"
    sub = f"length(regexp_extract_all(text, '{T.BPE_ISH_RE}'))"
    return f"""
WITH fagg AS (
  SELECT a.lang, a.docs, a.words, a.subtok, a.chars,
         COALESCE(v.vocab, 0) AS vocab,
         CASE WHEN a.words > 0
              THEN ({T.FERT_PPM} * a.subtok) // a.words ELSE 0 END AS fert_ppm,
         CASE WHEN a.subtok > 0
              THEN ({T.FERT_PPM} * a.chars) // a.subtok ELSE 0 END AS cpt_ppm
  FROM (
    SELECT lang, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum({tok}) AS BIGINT) AS words,
           CAST(sum({sub}) AS BIGINT) AS subtok,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM documents GROUP BY lang
  ) a LEFT JOIN (
    SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS vocab
    FROM (SELECT lang, unnest(regexp_extract_all(text, '{T.TOKEN_RE}')) AS w
          FROM documents)
    GROUP BY lang
  ) v USING (lang)
)
SELECT lang || ':docs' AS k, docs AS n FROM fagg
UNION ALL SELECT lang || ':words', words FROM fagg
UNION ALL SELECT lang || ':subtok', subtok FROM fagg
UNION ALL SELECT lang || ':chars', chars FROM fagg
UNION ALL SELECT lang || ':vocab', vocab FROM fagg
UNION ALL SELECT lang || ':fert_ppm', CAST(fert_ppm AS BIGINT) FROM fagg
UNION ALL SELECT lang || ':cpt_ppm', CAST(cpt_ppm AS BIGINT) FROM fagg
"""


_Q21_SUITE_SQL = f"""
SELECT 'lang' AS chk, lang_pred AS k, n FROM ({LQ.ORACLE_SQL['q21_lang_id']})
UNION ALL
SELECT 'word' AS chk, word AS k, n FROM ({LQ.ORACLE_SQL['q22_top_words']})
UNION ALL
SELECT 'bm25', CAST(doc_id AS VARCHAR), score_q FROM ({_bm25_sql()})
UNION ALL
SELECT 'clf', CAST(doc_id AS VARCHAR), clf_score FROM ({_clf_sql()})
UNION ALL
SELECT 'ppl', CAST(doc_id AS VARCHAR), avg_lp_q FROM ({_ppl_sql()})
UNION ALL
SELECT 'bpe', pair, n FROM ({_bpe_sql()})
UNION ALL
SELECT 'bpe_merges', CAST(round AS VARCHAR) || ':' || a || ':' || b, n
FROM ({_bpe_merges_sql()})
UNION ALL
SELECT 'rep', CAST(doc_id AS VARCHAR), rep_frac_q FROM ({_rep_sql()})
UNION ALL
SELECT 'kl', source, kl_q FROM ({_kl_sql()})
UNION ALL
SELECT 'fert', k, n FROM ({_fert_sql()})
UNION ALL
SELECT 'chunk', k, n FROM ({_chunk_sql()})
UNION ALL
SELECT 'nb', k, n FROM ({_nb_sql()})
UNION ALL
SELECT 'vocab', k, n FROM ({_TOKID_VOCAB_SQL})
UNION ALL
SELECT 'tokid', k, n FROM ({_TOKID_SEQ_SQL})
UNION ALL
SELECT 'vocab_bpe', k, n FROM ({_TOKID_BPE_VOCAB_SQL})
UNION ALL
SELECT 'tokid_bpe', k, n FROM ({_TOKID_BPE_SEQ_SQL})
"""


# q23: exact-dedup stats + incremental batch-vs-corpus dedup +
# RefinedWeb line-level dedup, one labelled frame
_INCR_MOD = 3  # batch = doc_id % 3 == 0, corpus = the rest
_LINE_TOKENS = 8  # pseudo-line width for the single-line corpus
_SPAN_WK = 8  # ExactSubstr window: 8 tokens fires on this corpus
_BLOOM_M = 1 << 18  # bloom bits for the 'bloom' member (shared w/ SQL)
_BLOOM_K = 5  # bloom hash count


def q23_dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplication stats plus the two corpus-lifecycle dedup
    operators: 'incr' rows gate ``dedup.incremental_exact_dedup``
    (batch = doc_id % {mod} == 0 vs the rest as the standing corpus —
    every kept id pinned), and 'lines' rows gate ``dedup.line_dedup``
    (RefinedWeb-style cross-document line removal over
    {ltok}-token pseudo-lines, per doc: line counts + md5 of the
    reassembled kept text), and 'spans' rows gate
    ``dedup.exact_span_dedup`` (ExactSubstr duplicate-passage removal,
    Lee et al. 2022, over {sk}-token Rabin-Karp windows — kept count,
    span count, and reassembled-text md5 per doc). Columns
    (member, a, b, c, h)."""
    docs = load(spark, sf_dir, "documents")
    stats = dedup.exact_dedup_stats(docs).select(
        F.lit("stats").alias("member"),
        F.col("n_docs").alias("a"),
        F.col("n_unique").alias("b"),
        F.col("n_dup_rows").alias("c"),
        F.lit("").alias("h"),
    )
    corpus = docs.filter(F.col("doc_id") % _INCR_MOD != 0)
    batch = docs.filter(F.col("doc_id") % _INCR_MOD == 0)
    kept = dedup.incremental_exact_dedup(batch, corpus)
    incr = kept.select(
        F.lit("incr").alias("member"),
        F.col("doc_id").alias("a"),
        _lit0().alias("b"),
        _lit0().alias("c"),
        F.lit("").alias("h"),
    )
    counts = (
        batch.agg(F.count(F.lit(1)).alias("nb"))
        .crossJoin(kept.agg(F.count(F.lit(1)).alias("nk")))
        .select(
            F.lit("incr_counts").alias("member"),
            F.col("nb").alias("a"),
            F.col("nk").alias("b"),
            (F.col("nb") - F.col("nk")).alias("c"),
            F.lit("").alias("h"),
        )
    )
    lines = dedup.line_dedup(
        docs, dedup.chunk_lines("text", _LINE_TOKENS)
    ).select(
        F.lit("lines").alias("member"),
        F.col("doc_id").alias("a"),
        F.col("n_lines").alias("b"),
        F.col("n_kept").alias("c"),
        F.col("kept_fp").alias("h"),
    )
    # 'spans' rows: ExactSubstr dedup (Lee et al. 2022) — per doc the
    # kept-token count, n_spans·2^20 + n_tokens packed in c, and the
    # md5 of the reassembled kept text, so a wrong keeper, a missed
    # window-hash collision, or a span-merge off-by-one all break the
    # driver hash for that doc
    spans = dedup.exact_span_dedup(docs, k=_SPAN_WK).select(
        F.lit("spans").alias("member"),
        F.col("doc_id").alias("a"),
        F.col("n_kept").alias("b"),
        (F.col("n_spans") * F.lit(1 << 20) + F.col("n_tokens")).alias("c"),
        F.col("kept_fp").alias("h"),
    )
    # 'bloom' rows (round 13): the mergeable Bloom membership sketch
    # (sketches.bloom_build/bloom_probe) over the SAME corpus/batch
    # split — one row per maybe-present probe (c = 1 iff the doc's fp
    # truly is a corpus member, so the member count AND the exact
    # false-positive set are both driver-hashed), plus a counts row.
    # This is the broadcast pre-gate incremental_exact_dedup /
    # run_ingest_cycle(bloom_m=...) use to skip the O(corpus) fps
    # anti-join for definitely-new docs.
    from timebox_spark.operators import sketches as SK

    cfps = dedup.corpus_fingerprints(corpus)
    bloom_tbl = SK.bloom_build(cfps, "__fp", _BLOOM_M, _BLOOM_K)
    all_fps = docs.select(
        "doc_id",
        F.md5(F.encode(dedup.normalize_text("text"), "UTF-8")).alias("__fp"),
    )
    bprobe = SK.bloom_probe(
        all_fps, "doc_id", "__fp", bloom_tbl, _BLOOM_M, _BLOOM_K
    )
    truth = all_fps.join(
        cfps.distinct().withColumn("__in", F.lit(1)), "__fp", "left"
    ).select("doc_id", F.coalesce("__in", F.lit(0)).alias("__tm"))
    bj = bprobe.join(truth, "doc_id")
    bloom_rows = bj.filter(F.col("maybe_present")).select(
        F.lit("bloom").alias("member"),
        F.col("doc_id").alias("a"),
        F.lit(1).cast("long").alias("b"),
        F.col("__tm").cast("long").alias("c"),
        F.lit("").alias("h"),
    )
    bloom_counts = bj.agg(
        F.count(F.lit(1)).alias("a"),
        F.sum(F.col("maybe_present").cast("long")).alias("b"),
        F.sum(
            (F.col("maybe_present") & (F.col("__tm") == 0)).cast("long")
        ).alias("c"),
    ).select(
        F.lit("bloom_counts").alias("member"), "a", "b", "c",
        F.lit("").alias("h"),
    )
    return (
        stats.unionByName(incr)
        .unionByName(counts)
        .unionByName(lines)
        .unionByName(spans)
        .unionByName(bloom_rows)
        .unionByName(bloom_counts)
    )


if q23_dedup_suite.__doc__:  # None under python -OO
    q23_dedup_suite.__doc__ = q23_dedup_suite.__doc__.format(
        mod=_INCR_MOD, ltok=_LINE_TOKENS, sk=_SPAN_WK
    )


def _q23_spans_sql() -> str:
    """DuckDB mirror of dedup.exact_span_dedup at k=_SPAN_WK: same
    md5→32-bit token hashes, same double-Horner (31-bit prime moduli,
    packed to 62 bits) window keys, same min-(doc,pos) keeper, same
    gaps-and-islands span count, same space-rejoined kept-text md5."""
    from timebox_spark.operators import dedup as D
    from timebox_spark.operators.text import TOKEN_RE

    k, p1, p2, b1, b2 = (
        _SPAN_WK,
        D._SPAN_P1,
        D._SPAN_P2,
        D._SPAN_B1,
        D._SPAN_B2,
    )
    return f"""
WITH th AS (SELECT doc_id,
        list_transform(regexp_extract_all(text, '{TOKEN_RE}'),
                       x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS v,
        regexp_extract_all(text, '{TOKEN_RE}') AS t,
        len(regexp_extract_all(text, '{TOKEN_RE}')) AS nt
      FROM documents),
wins AS (SELECT doc_id, i AS pos,
        list_reduce(list_prepend(0, list_slice(v, i + 1, i + {k})),
                    (a, x) -> (a * {b1} + x) % {p1}) * 2147483648
      + list_reduce(list_prepend(0, list_slice(v, i + 1, i + {k})),
                    (a, x) -> (a * {b2} + x) % {p2}) AS h
      FROM th, unnest(range(0, greatest(nt - {k} + 1, 0))) u(i)),
dup AS (SELECT h, min(doc_id * 1048576 + pos) AS keep FROM wins
        GROUP BY h HAVING count(*) > 1),
marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup d ON w.h = d.h
           WHERE w.doc_id * 1048576 + w.pos <> d.keep),
isl AS (SELECT doc_id, pos,
        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  <= {k} THEN 0 ELSE 1 END AS brk FROM marked),
spn AS (SELECT doc_id, CAST(sum(brk) AS BIGINT) AS n_spans
        FROM isl GROUP BY doc_id),
cov AS (SELECT DISTINCT doc_id, pos + j AS tp
        FROM marked, unnest(range(0, {k})) u(j)),
tok AS (SELECT doc_id, i AS tp, t[i + 1] AS tok
        FROM th, unnest(range(0, nt)) u(i)),
keptt AS (SELECT tok.doc_id, tok.tp, tok.tok
          FROM tok ANTI JOIN cov USING (doc_id, tp)),
re AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
              md5(string_agg(tok, ' ' ORDER BY tp)) AS fp
       FROM keptt GROUP BY doc_id)
SELECT th.doc_id AS a, coalesce(re.n_kept, 0) AS b,
       coalesce(spn.n_spans, 0) * 1048576 + CAST(th.nt AS BIGINT) AS c,
       coalesce(re.fp, md5('')) AS h
FROM th LEFT JOIN re ON re.doc_id = th.doc_id
        LEFT JOIN spn ON spn.doc_id = th.doc_id
"""


def _q23_suite_sql() -> str:
    t = _LINE_TOKENS
    m, k = _BLOOM_M, _BLOOM_K
    return f"""
WITH fpt AS (SELECT doc_id, md5({LQ._NORM}) AS fp FROM documents),
per AS (SELECT fp, count(*) AS n FROM fpt GROUP BY fp),
corpus AS (SELECT DISTINCT fp FROM fpt WHERE doc_id % {_INCR_MOD} <> 0),
batch AS (SELECT doc_id, fp FROM fpt WHERE doc_id % {_INCR_MOD} = 0),
fresh AS (SELECT doc_id, fp FROM batch
          WHERE fp NOT IN (SELECT fp FROM corpus)),
kept AS (SELECT doc_id FROM (
  SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM fresh
) WHERE rn = 1),
lt AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(ceil(len(string_split(text, ' ')) / {t}.0) AS BIGINT)),
           i -> array_to_string(
                  list_slice(string_split(text, ' '),
                             i * {t} + 1, i * {t} + {t}), ' ')) AS lines
  FROM documents
),
lf AS (
  SELECT doc_id, s.pos, s.line, md5(s.line) AS fp FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(lines) + 1),
                  i -> {{'pos': i - 1, 'line': lines[i]}})) AS s
    FROM lt
  )
),
ldf AS (SELECT fp FROM lf GROUP BY fp HAVING count(DISTINCT doc_id) <= 1),
lk AS (SELECT lf.doc_id, lf.pos, lf.line FROM lf JOIN ldf USING (fp)),
lre AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(line, chr(10) ORDER BY pos)) AS kept_fp
  FROM lk GROUP BY doc_id
),
ltot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
         FROM lf GROUP BY doc_id),
ld AS (
  SELECT tt.doc_id, tt.n_lines, coalesce(r.n_kept, 0) AS n_kept,
         coalesce(r.kept_fp, md5('')) AS kept_fp
  FROM ltot tt LEFT JOIN lre r ON r.doc_id = tt.doc_id
),
bl_ks AS (SELECT unnest(range({k})) AS i),
bl_w AS (
  SELECT p // 32 AS word,
         bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
  FROM (
    SELECT ('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || fp), 1, 8))::BIGINT
             % {m} AS p
    FROM corpus, bl_ks
  ) GROUP BY 1
),
bl_pr AS (
  SELECT f.doc_id,
         ('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || f.fp), 1, 8))::BIGINT
           % {m} AS p
  FROM fpt f, bl_ks
),
bl_hit AS (
  SELECT doc_id,
         min(CASE WHEN w.bits IS NOT NULL
                   AND (w.bits & (1::BIGINT << CAST(pr.p % 32 AS INT))) <> 0
             THEN 1 ELSE 0 END) AS maybe
  FROM bl_pr pr LEFT JOIN bl_w w ON pr.p // 32 = w.word
  GROUP BY doc_id
),
bl_tm AS (
  SELECT f.doc_id, CASE WHEN c.fp IS NULL THEN 0 ELSE 1 END AS tm
  FROM fpt f LEFT JOIN corpus c ON f.fp = c.fp
)
SELECT 'stats' AS member, CAST(sum(n) AS BIGINT) AS a,
       CAST(count(*) AS BIGINT) AS b, CAST(sum(n - 1) AS BIGINT) AS c,
       '' AS h
FROM per
UNION ALL
SELECT 'incr', doc_id, 0, 0, '' FROM kept
UNION ALL
SELECT 'incr_counts',
       (SELECT CAST(count(*) AS BIGINT) FROM batch),
       (SELECT CAST(count(*) AS BIGINT) FROM kept),
       (SELECT CAST(count(*) AS BIGINT) FROM batch)
         - (SELECT CAST(count(*) AS BIGINT) FROM kept),
       ''
UNION ALL
SELECT 'lines', doc_id, n_lines, n_kept, kept_fp FROM ld
UNION ALL
SELECT 'spans', a, b, c, h FROM ({_q23_spans_sql()})
UNION ALL
SELECT 'bloom', h.doc_id, CAST(1 AS BIGINT), CAST(t.tm AS BIGINT), ''
FROM bl_hit h JOIN bl_tm t USING (doc_id) WHERE h.maybe = 1
UNION ALL
SELECT 'bloom_counts',
       (SELECT CAST(count(*) AS BIGINT) FROM bl_hit),
       (SELECT CAST(sum(maybe) AS BIGINT) FROM bl_hit),
       (SELECT CAST(count(*) AS BIGINT) FROM bl_hit h
        JOIN bl_tm t USING (doc_id) WHERE h.maybe = 1 AND t.tm = 0),
       ''
"""


def q27_neardup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, exact + scale path: 'exact' rows are
    the label-blocked all-pairs report (LQ.q27_embedding_neardups);
    'lsh' rows gate ``dedup.portable_embedding_near_dups_lsh`` — the
    OR-amplified hyperplane candidate generation whose buckets,
    candidates, and quantized cosines the oracle re-derives
    bit-for-bit (the 100 TB path: bucket equi-join, never
    all-pairs)."""
    exact = LQ.q27_embedding_neardups(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    lsh = dedup.portable_embedding_near_dups_lsh(emb)
    return exact.select(
        F.lit("exact").alias("method"), "id_a", "id_b", "cosine_q"
    ).unionByName(
        lsh.select(F.lit("lsh").alias("method"), "id_a", "id_b", "cosine_q")
    )


def _q27_lsh_sql() -> str:
    """DuckDB mirror of dedup.portable_embedding_near_dups_lsh: same
    literal plane signs, same bucket arithmetic (ann_oracle._bucket),
    same quantized cosine, same threshold-or-top-n report."""
    from timebox_spark.operators.similarity import ANN_QSCALE, lsh_plane_signs
    from timebox_spark.plans.ann_oracle import _bucket, _cos_q

    t_, p_ = dedup.NEARDUP_LSH_TABLES, dedup.NEARDUP_LSH_PLANES
    signs = lsh_plane_signs(t_, p_, 64)
    cb = " UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, {_bucket('v', t, signs, planes=p_)} AS bkt FROM eq"
        for t in range(t_)
    )
    return f"""
WITH eq AS (
  SELECT vec_id,
         list_transform(embedding,
           e -> CAST(floor(CAST(e AS DOUBLE) * {ANN_QSCALE} + 0.5) AS BIGINT)) AS v
  FROM embeddings
),
cb AS ({cb}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cb a JOIN cb b
    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
),
s AS (
  SELECT c.id_a, c.id_b, {_cos_q('av.v', 'bv.v')} AS cosine_q
  FROM cand c JOIN eq av ON av.vec_id = c.id_a
  JOIN eq bv ON bv.vec_id = c.id_b
)
SELECT DISTINCT id_a, id_b, cosine_q FROM (
  SELECT id_a, id_b, cosine_q FROM s
  WHERE cosine_q >= {dedup.NEARDUP_THRESHOLD_Q}
  UNION ALL
  SELECT id_a, id_b, cosine_q FROM (
    SELECT *, row_number() OVER (ORDER BY cosine_q DESC, id_a, id_b) AS rn
    FROM s
  ) WHERE rn <= {dedup.NEARDUP_TOP_N}
)
"""


def _q27_suite_sql() -> str:
    return f"""
SELECT 'exact' AS method, id_a, id_b, cosine_q
FROM ({LQ.ORACLE_SQL['q27_embedding_neardups']})
UNION ALL
SELECT 'lsh', id_a, id_b, cosine_q FROM ({_q27_lsh_sql()})
"""


_MH_THRESHOLD = 0.35
_MH_NUM_PERM = 32
_MH_BANDS = 8
# q25 'cross' member: planted paraphrase-probe suffix/offset/threshold
_CROSS_SUFFIX = " " + " ".join(f"xq{i}" for i in range(12))
_CROSS_OFFSET = 7_000_000
_CROSS_THRESHOLD = 0.5
# q68 'keep1' member: planted-chain suffix + its banding/threshold
_KEEP1_SUFFIX = " " + " ".join(f"kq{i}" for i in range(30))
_KEEP1_THRESHOLD = 0.5
_KEEP1_BANDS = 16
_SH_MAX_HAMMING = 3


def q25_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH + SimHash near-dup pair sets, fully oracle-checked:
    both run the engine-portable md5 hash family (dedup.portable_*),
    so the DuckDB oracle recomputes signatures, banding/blocking,
    candidates, and verification bit-for-bit. The numpy MinHash
    kernel behind the headline ``q25_minhash_dedup`` (same algorithm,
    another hash family) is pinned against exact references in
    tests/test_clustering.

    Round 16: 'cross' rows gate
    ``dedup.cross_minhash_contamination`` (paraphrase-level
    benchmark decontamination — band keys joined ACROSS corpora
    only): probes are planted paraphrase copies (+7M ids, suffix
    appended), so every (source, probe) near-pair's exact quantized
    Jaccard is driver-hashed."""
    docs = load(spark, sf_dir, "documents")
    mh = dedup.portable_minhash_pairs(
        docs,
        threshold=_MH_THRESHOLD,
        num_perm=_MH_NUM_PERM,
        bands=_MH_BANDS,
        shingle_n=LQ._J_SHINGLE_N,
    ).select(
        F.lit("minhash").alias("method"),
        "id_a",
        "id_b",
        F.round(F.col("jaccard") * 1e6).cast("long").alias("score_q"),
    )
    sh = dedup.portable_simhash_pairs(
        docs, max_hamming=_SH_MAX_HAMMING
    ).select(
        F.lit("simhash").alias("method"),
        "id_a",
        "id_b",
        F.col("hamming").cast("long").alias("score_q"),
    )
    probes = docs.select("doc_id", "text").filter(
        F.col("doc_id") % 10 == 6
    ).select(
        (F.col("doc_id") + _CROSS_OFFSET).alias("doc_id"),
        F.concat("text", F.lit(_CROSS_SUFFIX)).alias("text"),
    )
    cross = dedup.cross_minhash_contamination(
        docs.select("doc_id", "text"),
        probes,
        threshold=_CROSS_THRESHOLD,
        num_hashes=_MH_NUM_PERM,
        bands=_MH_BANDS,
        shingle_n=LQ._J_SHINGLE_N,
    ).select(
        F.lit("cross").alias("method"),
        F.col("doc_id").alias("id_a"),
        F.col("probe_id").alias("id_b"),
        F.round(F.col("jaccard") * 1e6).cast("long").alias("score_q"),
    )
    return mh.unionByName(sh).unionByName(cross)


def _mh_ctes(src: str, pfx: str, bands: int = _MH_BANDS) -> str:
    """CTE block re-deriving dedup.portable_minhash_index over the
    (doc_id, text) source ``src``: {pfx}d = shingle sets, {pfx}ex,
    {pfx}sigs, {pfx}banded = (doc_id, band, key), {pfx}hd = hashed
    sets — prefixed so the compactor oracle can instantiate it per
    ingest cycle, ``bands`` matching the Spark call's banding."""
    n = LQ._J_SHINGLE_N
    r = _MH_NUM_PERM // bands
    sig_exprs = ", ".join(
        f"min(('0x' || substr(md5('{i}|' || s), 1, 8))::BIGINT) AS h{i}"
        for i in range(_MH_NUM_PERM)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {j} AS band, md5(concat_ws(',', {cols})) AS key FROM {p}sigs".format(
            j=j,
            p=pfx,
            cols=", ".join(f"CAST(h{j * r + k} AS VARCHAR)" for k in range(r)),
        )
        for j in range(bands)
    )
    shingle = (
        f"CASE WHEN length(norm) < {n} THEN [norm] "
        f"ELSE list_transform(range(1, length(norm) - {n - 2}), i -> substr(norm, i, {n})) END"
    )
    return f"""{pfx}d AS (
  SELECT doc_id, list_distinct({shingle}) AS sh
  FROM (SELECT doc_id, {LQ._NORM} AS norm FROM {src})
), {pfx}ex AS (SELECT doc_id, unnest(sh) AS s FROM {pfx}d),
{pfx}sigs AS (SELECT doc_id, {sig_exprs} FROM {pfx}ex GROUP BY doc_id),
{pfx}banded AS ({band_selects}),
{pfx}hd AS (
  SELECT doc_id,
         list_distinct(list_transform(sh,
           s -> ('0x' || substr(md5('sh|' || s), 1, 8))::BIGINT)) AS sh
  FROM {pfx}d
)"""


_MH_JAC = (
    "CAST(length(list_intersect(da.sh, db.sh)) AS DOUBLE)"
    " / (length(da.sh) + length(db.sh) - length(list_intersect(da.sh, db.sh)))"
)


def _portable_minhash_sql() -> str:
    return f"""
WITH {_mh_ctes('documents', '')},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
j AS (
  SELECT c.id_a, c.id_b,
         CAST(length(list_intersect(da.sh, db.sh)) AS DOUBLE)
         / (length(da.sh) + length(db.sh) - length(list_intersect(da.sh, db.sh))) AS jac
  FROM cand c JOIN d da ON da.doc_id = c.id_a JOIN d db ON db.doc_id = c.id_b
)
SELECT id_a, id_b, CAST(round(jac * 1000000) AS BIGINT) AS score_q
FROM j WHERE jac >= {_MH_THRESHOLD}
"""


def _portable_simhash_sql() -> str:
    def vote(p: int) -> str:
        src = "hlo" if p < 32 else "hhi"
        sh = p if p < 32 else p - 32
        return f"sum(CASE WHEN (({src} >> {sh}) & 1) = 1 THEN 1 ELSE -1 END) AS v{p}"

    votes = ", ".join(vote(p) for p in range(64))
    blocks = ", ".join(
        "("
        + " + ".join(
            f"CASE WHEN v{16 * k + q} > 0 THEN {1 << q} ELSE 0 END" for q in range(16)
        )
        + f") AS b{k}"
        for k in range(4)
    )
    blocked = " UNION ALL ".join(
        f"SELECT doc_id, b0, b1, b2, b3, {k} AS blk, b{k} AS key FROM fps"
        for k in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(ab{k}, bb{k}))" for k in range(4))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(norm, '\\S+')) AS tok
  FROM (SELECT doc_id, {LQ._NORM} AS norm FROM documents)
), h AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hhi,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hlo
  FROM toks
), v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
fps AS (SELECT doc_id, {blocks} FROM v),
blocked AS ({blocked}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.b0 AS ab0, a.b1 AS ab1, a.b2 AS ab2, a.b3 AS ab3,
         b.b0 AS bb0, b.b1 AS bb1, b.b2 AS bb2, b.b3 AS bb3
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST({hamming} AS BIGINT) AS score_q
FROM cand WHERE {hamming} <= {_SH_MAX_HAMMING}
"""


def _cross_contamination_sql() -> str:
    """Oracle for the q25 'cross' member: two `_mh_ctes` instances —
    the corpus and the planted paraphrase probes — banded with the
    same md5 family, candidates joined ACROSS the frames only, exact
    Jaccard verified over the raw shingle sets (the
    portable_minhash_pairs formula)."""
    cpr = (
        f"SELECT doc_id + {_CROSS_OFFSET} AS doc_id, "
        f"text || '{_CROSS_SUFFIX}' AS text "
        "FROM documents WHERE doc_id % 10 = 6"
    )
    return f"""
SELECT id_a, id_b, CAST(round(jac * 1000000) AS BIGINT) AS score_q
FROM (
  WITH cpr AS ({cpr}),
  {_mh_ctes('documents', 'xa')},
  {_mh_ctes('cpr', 'xb')},
  xc AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM xabanded a JOIN xbbanded b
      ON a.band = b.band AND a.key = b.key
  )
  SELECT c.id_a, c.id_b, {_MH_JAC} AS jac
  FROM xc c JOIN xad da ON da.doc_id = c.id_a
            JOIN xbd db ON db.doc_id = c.id_b
) WHERE jac >= {_CROSS_THRESHOLD}
"""


_Q25_SUITE_SQL = f"""
SELECT 'minhash' AS method, id_a, id_b, score_q FROM ({_portable_minhash_sql()})
UNION ALL
SELECT 'simhash' AS method, id_a, id_b, score_q FROM ({_portable_simhash_sql()})
UNION ALL
SELECT 'cross' AS method, id_a, id_b, score_q FROM ({_cross_contamination_sql()})
"""


def q28_knn_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force float knn over the embeddings table ('float' rows)
    + END-TO-END text retrieval ('text' rows): hashed sentence-
    embedding inference (text.hashed_embedding — the text→vector step
    the embeddings table otherwise pre-supposes) followed by
    integer-exact cosine top-k (similarity.text_embedding_topk). The
    oracle re-derives the inferred vectors AND the ranking from the
    raw text."""
    from timebox_spark.operators import similarity as S

    knn = LQ.q28_knn_bruteforce(spark, sf_dir).select(
        F.lit("float").alias("method"),
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "cosine_q",
    )
    tknn = S.text_embedding_topk(load(spark, sf_dir, "documents")).select(
        F.lit("text").alias("method"),
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "cosine_q",
    )
    return knn.unionByName(tknn)


def _text_knn_sql() -> str:
    """DuckDB mirror of text_embedding_topk: same md5 projection
    weights, same integer dot/norm arithmetic, same quantized-cosine
    ranking (the q29 cos_q formula at EMB_DIM)."""
    from timebox_spark.operators import similarity as S
    from timebox_spark.operators import text as T

    half = (T.EMB_WRANGE - 1) // 2
    w = (
        f"('0x' || substr(md5(t || ':' || CAST(d AS VARCHAR)), 1, 8))::BIGINT"
        f" % {T.EMB_WRANGE} - {half}"
    )
    dot = (
        f"list_sum(list_transform(range(1, {T.EMB_DIM} + 1),"
        f" i -> e.v[i] * q.qv[i]))"
    )
    n2v = f"list_sum(list_transform(e.v, x -> x * x))"
    n2q = f"list_sum(list_transform(q.qv, x -> x * x))"
    return f"""
WITH te AS (
  SELECT doc_id,
         list_transform(range(0, {T.EMB_DIM}), d ->
           CAST(COALESCE(list_sum(list_transform(
             regexp_extract_all(text, '{T.TOKEN_RE}'), t -> {w})), 0)
             AS BIGINT)) AS v
  FROM documents
),
tq AS (SELECT doc_id AS query_id, v AS qv FROM te WHERE doc_id < 3),
ts AS (
  SELECT q.query_id, e.doc_id AS neighbor_id,
         CASE WHEN {n2v} = 0 OR {n2q} = 0
              THEN CAST({S.ANN_NULL_SCORE} AS BIGINT)
              ELSE CAST(floor(CAST({dot} AS DOUBLE)
                   / (sqrt(CAST({n2v} AS DOUBLE)) * sqrt(CAST({n2q} AS DOUBLE)))
                   * {S.ANN_COS_SCALE} + 0.5) AS BIGINT) END AS cosine_q
  FROM te e CROSS JOIN tq q WHERE e.doc_id <> q.query_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_q DESC, neighbor_id) AS rank FROM ts
) WHERE rank <= {S.ANN_K}
"""


_Q28_SUITE_SQL = f"""
SELECT 'float' AS method, query_id, rank, neighbor_id, cosine_q
FROM ({LQ.ORACLE_SQL['q28_knn_bruteforce']})
UNION ALL
SELECT 'text', query_id, rank, neighbor_id, cosine_q
FROM ({_text_knn_sql()})
"""


def q29_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH + IVF ANN on the hard oracle signal: the engine-portable
    integer-exact variants (operators.similarity portable_*) whose
    buckets, k-means centroids, candidates, quantized cosines, and
    per-query recall the DuckDB oracle (plans.ann_oracle) re-derives
    independently and bit-for-bit.

    The xxhash/float64 FAST variants (benched as q47) are gated here
    too: two flag rows ('fast_lsh_floor'/'fast_ivf_floor', the q55
    within-bounds pattern) assert in-engine that each fast path's
    overlap with the portable exact top-k stays within
    [ANN_FAST_FLOOR_HITS, k·n_queries] — the oracle emits the same
    row with flag=1, so a silent fast-path recall collapse breaks the
    driver hash, not just a pytest pin.

    The 'semdedup' rows gate ``similarity.semdedup_clusters`` on the
    SAME trained k-means index as the 'ivf' rows (trained once,
    shared): per cluster, member count, pruned count, and a digest
    pinning every doc's (cluster, pruned) assignment.

    The 'int8' rows gate ``similarity.portable_int8_topk`` (symmetric
    int8 compression + exact integer dot-product ranking in the
    compressed domain — the ANN storage/re-rank format); 'int8_recall'
    pins its per-query agreement with the exact top-k. The 'hardneg'
    rows gate ``similarity.portable_hard_negatives`` (closest
    different-label vectors — contrastive-training negative mining).

    The 'pq' rows gate ``similarity.portable_pq_topk`` (product
    quantization, Jégou 2011: md5-seeded per-subspace integer k-means
    codebooks, 4-bit codes, ADC lookup-table scoring); the oracle
    re-derives codebooks, codes, ADC tables, and the ranking
    bit-for-bit (plans.ann_oracle._pq_blocks). 'pq_recall' pins the
    per-query agreement with the exact top-k.

    The 'ivfpq' rows gate ``similarity.ivf_pq_topk`` (IVFADC — the
    composed index: the 'ivf' rows' k-means cells prune, the 'pq'
    rows' codes/ADC score); the oracle joins its existing cell and
    code CTEs, so both stages stay bit-for-bit. 'ivfpq_recall' as
    above. The 'ivfpq_res' rows gate
    ``similarity.ivf_pq_residual_topk`` (residual-encoding IVFADC,
    Jégou §IV complete: codebook trained on r = v − c_cell, score =
    per-cell bias + residual ADC fold); 'ivfpq_res_recall' as
    above."""
    from timebox_spark.operators import similarity as S
    from timebox_spark.plans.ann_oracle import ANN_QUERY_MAX_ID

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_MAX_ID)
    # Each top-k frame is ≤ n_queries·k rows but its plan is a deep
    # HOF/join tree, and the union/recall composition below references
    # `exact` three times — every DataFrame step re-ANALYZES the whole
    # subtree, which (not execution) dominated this suite's wall time.
    # localCheckpoint(eager) truncates the lineage so composition
    # happens over trivial scans. (plain persist() was A/B-tested and
    # does NOT help: it keeps the analyzed plan; checkpointing is the
    # lever. The sign-tensor literal collapse in portable_lsh_topk is
    # the other half of the fix.)
    def _pin(df):
        return df.localCheckpoint(eager=True)

    exact = _pin(S.portable_cosine_topk(emb, queries))
    lsh = _pin(S.portable_lsh_topk(emb, queries))
    int8 = _pin(S.portable_int8_topk(emb, queries))
    hardneg = _pin(S.portable_hard_negatives(emb, queries))
    # train the integer k-means once; IVF top-k and SemDeDup share it
    cq, _ = S._quantize_sides(emb, queries, "vec_id", "embedding", "query_id")
    cmat = S.portable_ivf_train(cq)
    ivf = _pin(S.portable_ivf_topk(emb, queries, cmat=cmat))
    # composed IVF+int8 (IVFx,SQ8-style): same trained index, probe-join
    # candidates scored in the int8 compressed domain
    ivf_int8 = _pin(S.ivf_int8_topk(emb, queries, cmat=cmat))
    sem = _pin(S.semdedup_clusters(cq, cmat))
    # train the PQ codebook once; flat ADC and IVFADC share it
    cb = S.portable_pq_train(cq)
    pq = _pin(S.portable_pq_topk(emb, queries, cb=cb))
    # IVFADC (round-8 verdict task 6): prune by the SAME k-means cells
    # as 'ivf', score by the SAME codes/ADC as 'pq'
    ivfpq = _pin(S.ivf_pq_topk(emb, queries, cmat=cmat, cb=cb))
    # residual IVFADC (round-9 verdict task 3): same cells, codebook
    # re-trained on r = v − c_cell, score = cell bias + residual ADC
    ivfpq_res = _pin(S.ivf_pq_residual_topk(emb, queries, cmat=cmat))
    fast_lsh = _pin(S.lsh_topk(
        emb, queries, k=S.ANN_K, planes=S.ANN_PLANES, dim=S.ANN_DIM,
        tables=S.ANN_TABLES,
    ))
    fast_ivf = _pin(S.ivf_topk(
        emb, queries, k=S.ANN_K, nlist=S.ANN_NLIST, nprobe=S.ANN_NPROBE,
        iters=S.ANN_ITERS,
    ))

    def floor_row(fast, m):
        return (
            S.recall_hits(fast, exact)
            .agg(F.sum("hits").alias("h"), F.count(F.lit(1)).alias("nq"))
            .select(
                F.lit(m).alias("method"),
                F.lit(-1).cast("long").alias("query_id"),
                F.lit(0).cast("int").alias("rank"),
                F.col("nq").cast("long").alias("neighbor_id"),
                (
                    (F.col("h") >= F.lit(S.ANN_FAST_FLOOR_HITS))
                    & (F.col("h") <= F.col("nq") * F.lit(S.ANN_K))
                )
                .cast("long")
                .alias("cosine_q"),
            )
        )

    def tagged(df, m):
        return df.select(
            F.lit(m).alias("method"), "query_id", "rank", "neighbor_id", "cosine_q"
        )

    def rec(df, m):
        return df.select(
            F.lit(m).alias("method"),
            "query_id",
            F.lit(0).cast("int").alias("rank"),
            F.lit(-1).cast("long").alias("neighbor_id"),
            F.col("hits").alias("cosine_q"),
        )

    return (
        tagged(exact, "exact")
        .unionByName(tagged(lsh, "lsh"))
        .unionByName(tagged(ivf, "ivf"))
        .unionByName(tagged(hardneg, "hardneg"))
        .unionByName(tagged(int8, "int8"))
        .unionByName(rec(S.recall_hits(lsh, exact), "lsh_recall"))
        .unionByName(rec(S.recall_hits(ivf, exact), "ivf_recall"))
        .unionByName(rec(S.recall_hits(int8, exact), "int8_recall"))
        .unionByName(tagged(ivf_int8, "ivf_int8"))
        .unionByName(rec(S.recall_hits(ivf_int8, exact), "ivf_int8_recall"))
        .unionByName(tagged(pq, "pq"))
        .unionByName(rec(S.recall_hits(pq, exact), "pq_recall"))
        .unionByName(tagged(ivfpq, "ivfpq"))
        .unionByName(rec(S.recall_hits(ivfpq, exact), "ivfpq_recall"))
        .unionByName(tagged(ivfpq_res, "ivfpq_res"))
        .unionByName(rec(S.recall_hits(ivfpq_res, exact), "ivfpq_res_recall"))
        .unionByName(floor_row(fast_lsh, "fast_lsh_floor"))
        .unionByName(floor_row(fast_ivf, "fast_ivf_floor"))
        .unionByName(
            sem.select(
                F.lit("semdedup").alias("method"),
                F.col("cluster").cast("long").alias("query_id"),
                F.col("n_pruned").cast("int").alias("rank"),
                F.col("n").cast("long").alias("neighbor_id"),
                F.col("digest").cast("long").alias("cosine_q"),
            )
        )
    )


# q30 resample/resize contract constants — oracle SQL generated from
# the same values below
_RSMP_RATE = 16000  # 2× WAV_RATE: real interpolation (odd outputs lerp)
_RSZ_OUT = 8  # thumbnail dims: every synth image downsamples (h,w ≥ 8)


def q30_multimodal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-payload features + sampled per-frame features + REAL
    image decode: synthetic BMP/PPM/PNG payloads (pure functions of
    doc_id) are encoded then decoded by the numpy raster codecs, and
    the digest (dims + exact pixel sum) must equal what the oracle
    derives arithmetically from doc_id alone — any encode/decode
    mis-parse (row padding, BGR order, bottom-up rows, PPM header,
    PNG inflate/unfilter) breaks the hash."""
    from timebox_spark.operators import multimodal

    whole = LQ.q30_multimodal_features(spark, sf_dir).select(
        "doc_id",
        F.lit(-1).cast("int").alias("frame_idx"),
        "n_bytes",
        "head_hex",
        "byte_sum_mod",
    )
    frames = LQ.q51_frame_sample(spark, sf_dir).select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        "n_bytes",
        F.lit("").alias("head_hex"),
        "byte_sum_mod",
    )
    docs = load(spark, sf_dir, "documents")
    decoded = multimodal.decode_features(
        multimodal.synth_media_table(docs)
    ).select(
        "doc_id",
        F.lit(-2).cast("int").alias("frame_idx"),
        (F.col("height") * F.col("width") * 3).cast("long").alias("n_bytes"),
        F.concat_ws(
            ":",
            F.col("fmt"),
            F.concat(F.col("height").cast("string"), F.lit("x"), F.col("width").cast("string")),
        ).alias("head_hex"),
        F.col("pixel_sum").alias("byte_sum_mod"),
    )
    # audio rows (frame_idx -3): real WAV encode→decode round trip,
    # digest re-derived arithmetically by the oracle (operators/audio.py)
    from timebox_spark.operators import audio as AU

    wav = AU.audio_features(AU.synth_audio_table(docs)).select(
        "doc_id",
        F.lit(-3).cast("int").alias("frame_idx"),
        F.col("n_samples").alias("n_bytes"),
        F.concat_ws(
            ":",
            F.lit("wav"),
            F.col("sample_rate").cast("string"),
            F.col("peak").cast("string"),
        ).alias("head_hex"),
        F.col("sample_sum").alias("byte_sum_mod"),
    )
    # video rows (frame_idx -4): real Y4M container parse + every-2nd
    # frame sampling, digest re-derived arithmetically by the oracle
    y4m = AU.video_features(AU.synth_video_table(docs)).select(
        "doc_id",
        F.lit(-4).cast("int").alias("frame_idx"),
        F.col("n_frames").alias("n_bytes"),
        F.concat_ws(":", F.lit("y4m"), F.col("dims")).alias("head_hex"),
        F.col("sampled_sum").alias("byte_sum_mod"),
    )
    # audio-resample rows (frame_idx -5): WAV decode → linear resample
    # to 2× rate → re-encode → decode again; the oracle re-derives the
    # interpolated stream arithmetically (same IEEE-double lerp)
    rsmp = AU.audio_features(
        AU.resample_audio(AU.synth_audio_table(docs), dst_rate=_RSMP_RATE)
    ).select(
        "doc_id",
        F.lit(-5).cast("int").alias("frame_idx"),
        F.col("n_samples").alias("n_bytes"),
        F.concat_ws(
            ":",
            F.lit("rsmp"),
            F.col("sample_rate").cast("string"),
            F.col("peak").cast("string"),
        ).alias("head_hex"),
        F.col("sample_sum").alias("byte_sum_mod"),
    )
    # image-resize rows (frame_idx -6): decode (all four codecs) →
    # bilinear 8×8 → BMP re-encode → decode; the oracle computes the
    # same half-pixel-center bilinear arithmetic from the synthetic
    # closed form, so a resample-kernel drift breaks the hash
    rsz = multimodal.decode_features(
        multimodal.resize_images(
            multimodal.synth_media_table(docs), _RSZ_OUT, _RSZ_OUT
        )
    ).select(
        "doc_id",
        F.lit(-6).cast("int").alias("frame_idx"),
        (F.col("height") * F.col("width") * 3).cast("long").alias("n_bytes"),
        F.concat_ws(
            ":",
            F.lit("rsz"),
            F.col("fmt"),
            F.concat(
                F.col("height").cast("string"),
                F.lit("x"),
                F.col("width").cast("string"),
            ),
        ).alias("head_hex"),
        F.col("pixel_sum").alias("byte_sum_mod"),
    )
    # perceptual dHash rows (frame_idx -7): decode → integer grayscale
    # → bilinear 8×9 → 64 comparison bits as two 32-bit halves
    # (lo in n_bytes, hi in byte_sum_mod); the oracle recomputes the
    # whole chain from the synthetic closed forms
    dh = multimodal.image_dhash(multimodal.synth_media_table(docs)).select(
        "doc_id",
        F.lit(-7).cast("int").alias("frame_idx"),
        F.col("dhash_lo").alias("n_bytes"),
        F.lit("dhash").alias("head_hex"),
        F.col("dhash_hi").alias("byte_sum_mod"),
    )
    # audio envelope-fingerprint rows (frame_idx -8): decode → exact
    # integer frame energies → 16 comparison bits; all-integer, so
    # the oracle recomputes the fingerprint from the closed form
    afp_fps = AU.audio_fingerprint(AU.synth_audio_table(docs))
    afp = afp_fps.select(
        "doc_id",
        F.lit(-8).cast("int").alias("frame_idx"),
        F.col("n_samples").alias("n_bytes"),
        F.lit("afp").alias("head_hex"),
        F.col("afp").alias("byte_sum_mod"),
    )
    # video brightness-envelope rows (frame_idx -9): exact per-frame
    # pixel sums → adjacent-comparison bits, oracle-closed-form
    vfp_fps = AU.video_fingerprint(AU.synth_video_table(docs))
    vfp = vfp_fps.select(
        "doc_id",
        F.lit(-9).cast("int").alias("frame_idx"),
        F.col("n_frames").alias("n_bytes"),
        F.lit("vfp").alias("head_hex"),
        F.col("vfp").alias("byte_sum_mod"),
    )
    # Hamming near-dup rows (frame_idx -10/-11, round-6 verdict task
    # 4): the 4-block pigeonhole joins, checked against brute-force
    # all-pairs oracles — a blocking recall miss drops rows here
    afp_ham = AU.audio_near_dups_hamming(afp_fps).select(
        F.col("id_a").alias("doc_id"),
        F.lit(-10).cast("int").alias("frame_idx"),
        F.col("id_b").cast("long").alias("n_bytes"),
        F.lit("afp_ham").alias("head_hex"),
        F.col("hamming").cast("long").alias("byte_sum_mod"),
    )
    vfp_ham = AU.video_near_dups(
        vfp_fps.filter(F.col("doc_id") % 5 == 4), max_hamming=1
    ).select(
        F.col("id_a").alias("doc_id"),
        F.lit(-11).cast("int").alias("frame_idx"),
        F.col("id_b").cast("long").alias("n_bytes"),
        F.lit("vfp_ham").alias("head_hex"),
        F.col("hamming").cast("long").alias("byte_sum_mod"),
    )
    return (
        whole.unionByName(frames)
        .unionByName(decoded)
        .unionByName(wav)
        .unionByName(y4m)
        .unionByName(rsmp)
        .unionByName(rsz)
        .unionByName(dh)
        .unionByName(afp)
        .unionByName(vfp)
        .unionByName(afp_ham)
        .unionByName(vfp_ham)
    )


_SYNTH_H_SQL = "(8 + doc_id % 9)"
_SYNTH_W_SQL = "(8 + (doc_id * 7) % 9)"
# JPEG synth dims: whole 8x8 blocks, 1..3 per axis (multimodal.synth_jpeg_dims)
_JPEG_BH_SQL = "(1 + doc_id % 3)"
_JPEG_BW_SQL = "(1 + (doc_id // 3) % 3)"

_Q30_DECODE_SQL = f"""
SELECT doc_id, CAST(-2 AS INTEGER) AS frame_idx,
       CAST({_SYNTH_H_SQL} * {_SYNTH_W_SQL} * 3 AS BIGINT) AS n_bytes,
       (CASE WHEN doc_id % 4 = 0 THEN 'bmp'
             WHEN doc_id % 4 = 1 THEN 'ppm' ELSE 'png' END) || ':' ||
         CAST({_SYNTH_H_SQL} AS VARCHAR) || 'x' || CAST({_SYNTH_W_SQL} AS VARCHAR)
         AS head_hex,
       CAST(list_sum(list_transform(range(0, {_SYNTH_H_SQL} * {_SYNTH_W_SQL} * 3),
            i -> (31 * doc_id + 17 * (i // ({_SYNTH_W_SQL} * 3))
                  + 5 * ((i // 3) % {_SYNTH_W_SQL}) + 11 * (i % 3)) % 256))
            AS BIGINT) AS byte_sum_mod
FROM documents WHERE doc_id % 4 <> 3
UNION ALL
-- JPEG rows: block-constant grayscale round-trips BIT-EXACTLY through
-- the flat-quant baseline codec, so the decoded pixel sum is
-- 3 channels * 64 px/block * sum of block values — no decode needed
SELECT doc_id, CAST(-2 AS INTEGER) AS frame_idx,
       CAST({_JPEG_BH_SQL} * {_JPEG_BW_SQL} * 192 AS BIGINT) AS n_bytes,
       'jpeg:' || CAST(8 * {_JPEG_BH_SQL} AS VARCHAR) || 'x'
               || CAST(8 * {_JPEG_BW_SQL} AS VARCHAR) AS head_hex,
       CAST(192 * list_sum(list_transform(range(0, {_JPEG_BH_SQL} * {_JPEG_BW_SQL}),
            i -> (31 * doc_id + 17 * (i // {_JPEG_BW_SQL})
                  + 5 * (i % {_JPEG_BW_SQL})) % 256))
            AS BIGINT) AS byte_sum_mod
FROM documents WHERE doc_id % 4 = 3
"""

def _wav_sql() -> str:
    """DuckDB mirror of the WAV member: the synthetic sample stream
    s[i] = (37·doc_id + 13·i) mod 4096 − 2048 is re-derived
    arithmetically, so the real encode→chunk-walk→decode path on the
    Spark side must reproduce rate, length, peak, and exact sum."""
    from timebox_spark.operators import audio as AU

    n = "(64 + doc_id % 65)"
    s = f"((37 * doc_id + 13 * i) % {AU.SYNTH_SAMPLE_MOD} - {AU.SYNTH_SAMPLE_OFF})"
    return f"""
SELECT doc_id, CAST(-3 AS INTEGER) AS frame_idx,
       CAST({n} AS BIGINT) AS n_bytes,
       'wav:{AU.WAV_RATE}:' ||
         CAST(list_max(list_transform(range(0, {n}), i -> abs({s}))) AS VARCHAR)
         AS head_hex,
       CAST(list_sum(list_transform(range(0, {n}), i -> {s})) AS BIGINT)
         AS byte_sum_mod
FROM documents
"""


def _y4m_sql() -> str:
    """DuckDB mirror of the Y4M member: per-doc frame count and the
    pixel sum over every-2nd-frame sampling, from the closed form
    p(f,y,x) = (23·doc_id + 19·f + 7·y + 3·x) mod 256."""
    from timebox_spark.operators import audio as AU

    n = "(4 + doc_id % 5)"
    w, h = AU.VIDEO_W, AU.VIDEO_H
    frame_sum = (
        f"list_sum(list_transform(range(0, {w * h}),"
        f" i -> (23 * doc_id + 19 * (2 * fi) + 7 * (i // {w})"
        f" + 3 * (i % {w})) % 256))"
    )
    return f"""
SELECT doc_id, CAST(-4 AS INTEGER) AS frame_idx,
       CAST({n} AS BIGINT) AS n_bytes,
       'y4m:{w}x{h}' AS head_hex,
       CAST(list_sum(list_transform(range(0, ({n} + 1) // 2),
            fi -> {frame_sum})) AS BIGINT) AS byte_sum_mod
FROM documents
"""


def _rsmp_sql() -> str:
    """DuckDB mirror of the audio-resample member: re-derives the
    linearly interpolated stream arithmetically — same half-sample-
    center mapping, same IEEE-double lerp, same floor(x+0.5) and
    int16 clip as audio.resample_linear (n_out = 2n exactly at the
    2× rate)."""
    from timebox_spark.operators import audio as AU

    n = "(64 + doc_id % 65)"
    ratio = f"(CAST({n} AS DOUBLE) / (2 * {n}))"
    pos = f"least(greatest((j + 0.5) * {ratio} - 0.5, 0), {n} - 1)"
    i0 = f"CAST(floor({pos}) AS BIGINT)"
    i1 = f"least({i0} + 1, {n} - 1)"
    frac = f"({pos} - floor({pos}))"

    def s(i: str) -> str:
        return (
            f"CAST((37 * doc_id + 13 * ({i})) % {AU.SYNTH_SAMPLE_MOD}"
            f" - {AU.SYNTH_SAMPLE_OFF} AS DOUBLE)"
        )

    out = f"({s(i0)} * (1 - {frac}) + {s(i1)} * {frac})"
    rj = (
        f"least(greatest(CAST(floor({out} + 0.5) AS BIGINT), -32768), 32767)"
    )
    return f"""
SELECT doc_id, CAST(-5 AS INTEGER) AS frame_idx,
       CAST(2 * {n} AS BIGINT) AS n_bytes,
       'rsmp:{_RSMP_RATE}:' ||
         CAST(list_max(list_transform(r, v -> abs(v))) AS VARCHAR)
         AS head_hex,
       CAST(list_sum(r) AS BIGINT) AS byte_sum_mod
FROM (
  SELECT doc_id, list_transform(range(0, 2 * {n}), j -> {rj}) AS r
  FROM documents
)
"""


def _rsz_sql() -> str:
    """DuckDB mirror of the image-resize member: the bilinear
    {o}×{o} thumbnail pixel sum computed from the synthetic closed
    forms — same (k+0.5)·scale−0.5 half-pixel-center mapping, clip,
    4-neighbor gather, lerp order, and floor(x+0.5) as
    multimodal.bilinear_resize. Two branches: raster formats
    (p = (31d+17y+5x+11c) mod 256) and JPEG block-constant grayscale
    (p = (31d+17·(y div 8)+5·(x div 8)) mod 256)."""
    o = _RSZ_OUT

    def branch(where: str, h: str, w: str, p) -> str:
        # k enumerates the o*o*3 output values: oy = k // (o*3),
        # ox = (k % (o*3)) // 3, c = k % 3
        oy, ox, c = f"(k // {o * 3})", f"((k % {o * 3}) // 3)", "(k % 3)"
        ys = (
            f"least(greatest(({oy} + 0.5) * (CAST({h} AS DOUBLE) / {o})"
            f" - 0.5, 0), {h} - 1)"
        )
        xs = (
            f"least(greatest(({ox} + 0.5) * (CAST({w} AS DOUBLE) / {o})"
            f" - 0.5, 0), {w} - 1)"
        )
        y0 = f"CAST(floor({ys}) AS BIGINT)"
        x0 = f"CAST(floor({xs}) AS BIGINT)"
        y1 = f"least({y0} + 1, {h} - 1)"
        x1 = f"least({x0} + 1, {w} - 1)"
        wy = f"({ys} - floor({ys}))"
        wx = f"({xs} - floor({xs}))"
        val = (
            f"((({p(y0, x0, c)} * (1 - {wx}) + {p(y0, x1, c)} * {wx})"
            f" * (1 - {wy}))"
            f" + (({p(y1, x0, c)} * (1 - {wx}) + {p(y1, x1, c)} * {wx})"
            f" * {wy}))"
        )
        rk = (
            f"least(greatest(CAST(floor({val} + 0.5) AS BIGINT), 0), 255)"
        )
        return f"""
SELECT doc_id, CAST(-6 AS INTEGER) AS frame_idx,
       CAST({o * o * 3} AS BIGINT) AS n_bytes,
       'rsz:bmp:{o}x{o}' AS head_hex,
       CAST(list_sum(list_transform(range(0, {o * o * 3}), k -> {rk}))
            AS BIGINT) AS byte_sum_mod
FROM documents WHERE {where}"""

    def p_raster(y: str, x: str, c: str) -> str:
        return (
            f"CAST((31 * doc_id + 17 * ({y}) + 5 * ({x}) + 11 * {c}) % 256"
            f" AS DOUBLE)"
        )

    def p_jpeg(y: str, x: str, c: str) -> str:
        return (
            f"CAST((31 * doc_id + 17 * (({y}) // 8) + 5 * (({x}) // 8)) % 256"
            f" AS DOUBLE)"
        )

    return (
        branch("doc_id % 4 <> 3", _SYNTH_H_SQL, _SYNTH_W_SQL, p_raster)
        + "\nUNION ALL\n"
        + branch(
            "doc_id % 4 = 3",
            f"(8 * {_JPEG_BH_SQL})",
            f"(8 * {_JPEG_BW_SQL})",
            p_jpeg,
        )
    )


if _rsz_sql.__doc__:  # None under python -OO
    _rsz_sql.__doc__ = _rsz_sql.__doc__.format(o=_RSZ_OUT)


def _afp_fp_sql() -> str:
    """Per-doc (doc_id, n, fp) derived table for the audio envelope
    fingerprint: the same integer frame bounds j·n//F, the same exact
    Σ s² energies, the same 16 adjacent comparisons — all-integer,
    bit-for-bit with operators/audio.audio_fingerprint."""
    from timebox_spark.operators import audio as AU

    fr = AU.AFP_FRAMES
    n = "(64 + doc_id % 65)"
    sq = (
        f"((37 * doc_id + 13 * i) % {AU.SYNTH_SAMPLE_MOD}"
        f" - {AU.SYNTH_SAMPLE_OFF})"
    )
    energy = (
        f"list_transform(range(0, {fr}), j -> list_sum(list_transform("
        f"range(j * {n} // {fr}, (j + 1) * {n} // {fr}),"
        f" i -> {sq} * {sq})))"
    )
    return f"""
SELECT doc_id, CAST({n} AS BIGINT) AS n,
       CAST(list_sum(list_transform(range(0, {fr - 1}),
            j -> CASE WHEN e[j + 2] > e[j + 1]
                      THEN 1::BIGINT << j ELSE 0::BIGINT END))
            AS BIGINT) AS fp
FROM (SELECT doc_id, {energy} AS e FROM documents)"""


def _afp_sql() -> str:
    """DuckDB mirror of the audio envelope fingerprint rows."""
    return f"""
SELECT doc_id, CAST(-8 AS INTEGER) AS frame_idx,
       n AS n_bytes, 'afp' AS head_hex, fp AS byte_sum_mod
FROM ({_afp_fp_sql()})
"""


def _afp_ham_sql() -> str:
    """Independent all-pairs oracle for audio_near_dups_hamming: the
    pigeonhole-blocked Spark join must equal a brute-force same-length
    self-join at Hamming <= 3 — recall loss in the 4-block blocking
    would drop rows here and break the driver hash."""
    fp = _afp_fp_sql()
    return f"""
SELECT a.doc_id AS doc_id, CAST(-10 AS INTEGER) AS frame_idx,
       b.doc_id AS n_bytes, 'afp_ham' AS head_hex,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS byte_sum_mod
FROM ({fp}) a JOIN ({fp}) b
  ON a.n = b.n AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""


def _vfp_fp_sql() -> str:
    """Per-doc (doc_id, n, fp) derived table for the video
    brightness-envelope fingerprint: exact per-frame pixel sums from
    the closed form, adjacent comparisons packed low-bit-first —
    bit-for-bit with operators/audio.video_fingerprint."""
    from timebox_spark.operators import audio as AU

    n = "(4 + doc_id % 5)"
    w, h = AU.VIDEO_W, AU.VIDEO_H
    fsum = (
        f"list_sum(list_transform(range(0, {w * h}),"
        f" i -> (23 * doc_id + 19 * f + 7 * (i // {w})"
        f" + 3 * (i % {w})) % 256))"
    )
    sums = f"list_transform(range(0, {n}), f -> {fsum})"
    return f"""
SELECT doc_id, CAST({n} AS BIGINT) AS n,
       CAST(list_sum(list_transform(range(0, {n} - 1),
            f -> CASE WHEN s[f + 2] > s[f + 1]
                      THEN 1::BIGINT << f ELSE 0::BIGINT END))
            AS BIGINT) AS fp
FROM (SELECT doc_id, {sums} AS s FROM documents)"""


def _vfp_sql() -> str:
    """DuckDB mirror of the video brightness-envelope rows."""
    return f"""
SELECT doc_id, CAST(-9 AS INTEGER) AS frame_idx,
       n AS n_bytes, 'vfp' AS head_hex, fp AS byte_sum_mod
FROM ({_vfp_fp_sql()})
"""


def _vfp_ham_sql() -> str:
    """Independent all-pairs oracle for video_near_dups at Hamming
    <= 1, restricted to the 8-frame synth group (doc_id % 5 = 4 — the
    only group whose 7-bit envelope makes Hamming tolerance
    discriminative; shorter clips near-match almost everything)."""
    fp = _vfp_fp_sql()
    return f"""
SELECT a.doc_id AS doc_id, CAST(-11 AS INTEGER) AS frame_idx,
       b.doc_id AS n_bytes, 'vfp_ham' AS head_hex,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS byte_sum_mod
FROM ({fp}) a JOIN ({fp}) b
  ON a.n = b.n AND a.doc_id < b.doc_id
WHERE a.doc_id % 5 = 4 AND b.doc_id % 5 = 4
  AND bit_count(xor(a.fp, b.fp)) <= 1
"""


def _dhash_sql() -> str:
    """DuckDB mirror of the dHash member: integer grayscale (sum of
    the three per-channel closed forms), the same half-pixel-center
    bilinear to 8×9, the same 64 neighbor comparisons packed into two
    32-bit halves — bit-for-bit with multimodal.image_dhash."""
    from timebox_spark.operators import multimodal as MM

    oh, ow = MM.DHASH_H, MM.DHASH_W

    def branch(where: str, h: str, w: str, gray) -> str:
        def g2(y: str, x: str) -> str:
            ys = (
                f"least(greatest(({y} + 0.5) * (CAST({h} AS DOUBLE) / {oh})"
                f" - 0.5, 0), {h} - 1)"
            )
            xs = (
                f"least(greatest(({x} + 0.5) * (CAST({w} AS DOUBLE) / {ow})"
                f" - 0.5, 0), {w} - 1)"
            )
            y0 = f"CAST(floor({ys}) AS BIGINT)"
            x0 = f"CAST(floor({xs}) AS BIGINT)"
            y1 = f"least({y0} + 1, {h} - 1)"
            x1 = f"least({x0} + 1, {w} - 1)"
            wy = f"({ys} - floor({ys}))"
            wx = f"({xs} - floor({xs}))"
            val = (
                f"((({gray(y0, x0)} * (1 - {wx}) + {gray(y0, x1)} * {wx})"
                f" * (1 - {wy}))"
                f" + (({gray(y1, x0)} * (1 - {wx}) + {gray(y1, x1)} * {wx})"
                f" * {wy}))"
            )
            return f"CAST(floor({val} + 0.5) AS BIGINT)"

        y, xa, xb = "(k // 8)", "(k % 8)", "(k % 8 + 1)"
        bit = (
            f"CASE WHEN {g2(y, xb)} > {g2(y, xa)}"
            f" THEN 1::BIGINT ELSE 0::BIGINT END"
        )
        lo = f"list_sum(list_transform(range(0, 32), k -> ({bit}) << k))"
        hi = (
            f"list_sum(list_transform(range(32, 64), k -> ({bit}) << (k - 32)))"
        )
        return f"""
SELECT doc_id, CAST(-7 AS INTEGER) AS frame_idx,
       CAST({lo} AS BIGINT) AS n_bytes,
       'dhash' AS head_hex,
       CAST({hi} AS BIGINT) AS byte_sum_mod
FROM documents WHERE {where}"""

    def gray_raster(y: str, x: str) -> str:
        base = f"31 * doc_id + 17 * ({y}) + 5 * ({x})"
        return (
            f"CAST((({base}) % 256) + (({base} + 11) % 256)"
            f" + (({base} + 22) % 256) AS DOUBLE)"
        )

    def gray_jpeg(y: str, x: str) -> str:
        return (
            f"CAST(3 * ((31 * doc_id + 17 * (({y}) // 8)"
            f" + 5 * (({x}) // 8)) % 256) AS DOUBLE)"
        )

    return (
        branch("doc_id % 4 <> 3", _SYNTH_H_SQL, _SYNTH_W_SQL, gray_raster)
        + "\nUNION ALL\n"
        + branch(
            "doc_id % 4 = 3",
            f"(8 * {_JPEG_BH_SQL})",
            f"(8 * {_JPEG_BW_SQL})",
            gray_jpeg,
        )
    )


_Q30_SUITE_SQL = f"""
SELECT doc_id, CAST(-1 AS INTEGER) AS frame_idx, n_bytes, head_hex, byte_sum_mod
FROM ({LQ.ORACLE_SQL['q30_multimodal_features']})
UNION ALL
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, n_bytes, '' AS head_hex, byte_sum_mod
FROM ({LQ.ORACLE_SQL['q51_frame_sample']})
UNION ALL
SELECT doc_id, frame_idx, n_bytes, head_hex, byte_sum_mod FROM ({_Q30_DECODE_SQL})
UNION ALL
SELECT doc_id, frame_idx, n_bytes, head_hex, byte_sum_mod FROM ({_wav_sql()})
UNION ALL
SELECT doc_id, frame_idx, n_bytes, head_hex, byte_sum_mod FROM ({_y4m_sql()})
UNION ALL
SELECT doc_id, frame_idx, n_bytes, head_hex, byte_sum_mod FROM ({_rsmp_sql()})
UNION ALL
SELECT doc_id, frame_idx, n_bytes, head_hex, byte_sum_mod FROM ({_rsz_sql()})
UNION ALL
SELECT doc_id, frame_idx, n_bytes, head_hex, byte_sum_mod FROM ({_dhash_sql()})
UNION ALL
SELECT doc_id, frame_idx, n_bytes, head_hex, byte_sum_mod FROM ({_afp_sql()})
UNION ALL
SELECT doc_id, frame_idx, n_bytes, head_hex, byte_sum_mod FROM ({_vfp_sql()})
UNION ALL
SELECT doc_id, frame_idx, n_bytes, head_hex, byte_sum_mod FROM ({_afp_ham_sql()})
UNION ALL
SELECT doc_id, frame_idx, n_bytes, head_hex, byte_sum_mod FROM ({_vfp_ham_sql()})
"""


# Deterministic synthetic link graph for the q31 'pagerank' member
# (documents carry no hrefs, the _SYNTH_URL_SQL convention): nodes are
# small residues so the graph has hubs, cycles, self-loops AND
# dangling nodes (dst-mod 97 > src-mod 89 ⇒ residues 89..96 never emit
# an edge). One SQL fragment valid in BOTH engines.
_PR_SRC_MOD = 89
_PR_DST_MOD = 97
_PR_MULT = 31
_PR_FANOUT = 3
_PR_ITER = 6
_PR_EDGES_SQL = " UNION ".join(
    f"SELECT DISTINCT doc_id % {_PR_SRC_MOD} AS src, "
    f"(doc_id * {_PR_MULT} + {j}) % {_PR_DST_MOD} AS dst FROM documents"
    for j in range(1, _PR_FANOUT + 1)
)
# weighted/seeded variants (round 14): same edge set with a derived
# integer weight, and a fixed literal seed set; fewer iterations —
# the variants pin the teleport/weight arithmetic, not convergence
_PR_W_SQL = f"SELECT src, dst, 1 + (src + dst) % 5 AS w FROM ({_PR_EDGES_SQL})"
_PR_ITER_VAR = 4
_PR_SEEDS = tuple(range(0, _PR_DST_MOD, 10))
_PR_SEEDS_SQL = " UNION ALL ".join(f"SELECT {s} AS node" for s in _PR_SEEDS)


def _pr_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The link graph, DataFrame-side — same constants as
    ``_PR_EDGES_SQL`` (repo oracle convention)."""
    return (
        load(spark, sf_dir, "documents")
        .select(
            (F.col("doc_id") % _PR_SRC_MOD).alias("src"),
            F.explode(
                F.array(
                    *[
                        (F.col("doc_id") * _PR_MULT + F.lit(j))
                        % _PR_DST_MOD
                        for j in range(1, _PR_FANOUT + 1)
                    ]
                )
            ).alias("dst"),
        )
        .distinct()
    )


def q31_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution with a full oracle: blocked n-gram
    Jaccard pairs (the q24 pair set — SQL-expressible) fed through
    distributed min-label propagation; DuckDB recomputes the same
    connected components with a recursive CTE. The minhash-pair
    variant of clustering is pinned separately in tests/test_clustering.

    Round 12: a flag row (canonical_id = -1) additionally gates the
    large-star/small-star contraction path
    (``dedup.connected_components_star`` — the O(log² n)-round scale
    escalation): cluster_size = 1 only if the star labels equal the
    label-propagation labels EXACTLY over every node, rep_score = the
    labeled node count (re-derived by the oracle from the recursive
    CTE). A single disagreeing node flips the flag to 0 and the
    driver hash mismatches.

    Round 14: 'pagerank' rows (canonical_id = −1000 − node) gate the
    fixed-point integer PageRank (operators/graphs.py) over a
    deterministic link graph derived from doc_id (src/dst moduli and
    fanout in the _PR_* constants below; src-mod < dst-mod guarantees
    DANGLING nodes, exercising the redistribution term):
    cluster_size = the exact BIGINT rank after _PR_ITER iterations,
    rep_score = the node's out-degree. The oracle re-runs the SAME
    integer power iteration as unrolled MATERIALIZED CTEs
    (graphs.duckdb_pagerank_sql, same constants), so a single tick of
    rank drift anywhere hash-mismatches.

    Round 16: 'softw' rows (canonical_id = −7000 − doc_id, plus one
    −7 aggregate row) gate ``dedup.duplicate_weights`` — soft dedup
    that REWEIGHTS duplicates 1/cluster_size instead of dropping
    them: per clustered doc the exact integer weight ticks, and the
    corpus-total Σ weight_q ("effective corpus size") over every doc
    including weight-1e9 singletons."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.floor(F.length("text") / LQ._J_BUCKET).cast("long")
    )
    pairs = dedup.ngram_jaccard_pairs(
        docs,
        block_cols=["lang", "len_bucket"],
        shingle_n=LQ._J_SHINGLE_N,
        threshold=LQ._J_THRESHOLD,
    )
    # run BOTH component algorithms eagerly, then rebuild their label
    # tables as local DataFrames and unpersist every per-round
    # localCheckpoint RDD the loops created — the gating harness must
    # not accumulate block-manager state across repeated suite runs
    # (the production operator path, dedup_clusters, stays fully
    # distributed; this collect is bounded by the near-dup candidate
    # node count, tiny relative to the corpus at driver scales).
    # PER-OWNER tracking (round-12 verdict task 5): the loops record
    # exactly the checkpoint RDDs they created, so a concurrent
    # compactor in the same session is never swept by this harness.
    owned: list = []
    try:
        lp_rows = [
            (r["node"], r["component"])
            for r in dedup.connected_components(
                pairs, owned_rdds=owned
            ).collect()
        ]
        star_rows = [
            (r["node"], r["component"])
            for r in dedup.connected_components_star(
                pairs, owned_rdds=owned
            ).collect()
        ]
    finally:
        dedup.unpersist_owned(owned)
    comp_lp = spark.createDataFrame(lp_rows, "node long, component long")
    comp_star = spark.createDataFrame(star_rows, "node long, component long")
    clusters = (
        docs.select("doc_id")
        .join(comp_lp, docs["doc_id"] == comp_lp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "canonical_id"
            ),
        )
    )
    sized = (
        clusters.groupBy("canonical_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") > 1)
    )
    # quality-aware keep-one: pin each cluster's best member (longest
    # text, id tiebreak) — dedup.cluster_representatives
    reps = dedup.cluster_representatives(docs, clusters, score_col="n_chars")
    main = sized.join(reps, "canonical_id").select(
        "canonical_id", "cluster_size", "rep_id", "rep_score"
    )
    agree = (
        comp_lp.join(
            comp_star.withColumnRenamed("component", "component_s"),
            "node",
            "full",
        )
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        F.col("component") == F.col("component_s"), 1
                    ).otherwise(0)
                ),
                F.lit(1),
            ).alias("agree"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
        .select(
            F.lit(-1).cast("long").alias("canonical_id"),
            F.col("agree").cast("long").alias("cluster_size"),
            F.lit(-1).cast("long").alias("rep_id"),
            F.col("n_nodes").cast("long").alias("rep_score"),
        )
    )
    # round-14 'pagerank' member: exact integer ranks over the synthetic
    # link graph. The rank/degree tables are O(_PR_DST_MOD) rows — the
    # collect is bounded by the node-residue space, not the corpus —
    # and rebuilt as local frames so the suite's repeated runs never
    # accumulate the loop's localCheckpoint blocks (the q31 lp/star
    # harness pattern above).
    from timebox_spark.operators import graphs as G

    edges = _pr_edges(spark, sf_dir)
    wedges = edges.withColumn(
        "w", (1 + (F.col("src") + F.col("dst")) % 5).cast("int")
    )
    seeds = spark.createDataFrame([(int(s),) for s in _PR_SEEDS], "node long")
    owned_pr: list = []
    try:
        pr_rows = [
            (r["node"], r["rank"])
            for r in G.pagerank(
                edges, iterations=_PR_ITER, owned_rdds=owned_pr
            ).collect()
        ]
        # weighted variant (round 14): out-flow split by 1+(src+dst)%5
        prw_rows = [
            (r["node"], r["rank"])
            for r in G.pagerank(
                wedges, iterations=_PR_ITER_VAR, weight="w",
                owned_rdds=owned_pr,
            ).collect()
        ]
        # personalized variant: teleport/pot to the fixed seed set
        prp_rows = [
            (r["node"], r["rank"])
            for r in G.pagerank(
                edges, iterations=_PR_ITER_VAR, seeds=seeds,
                owned_rdds=owned_pr,
            ).collect()
        ]
    finally:
        dedup.unpersist_owned(owned_pr)
    deg_rows = {
        r["src"]: r["deg"] for r in G.out_degrees(edges).collect()
    }
    wsum_rows = {
        r["src"]: r["ws"]
        for r in wedges.groupBy("src")
        .agg(F.sum("w").alias("ws"))
        .collect()
    }
    seed_set = set(_PR_SEEDS)
    pr_member = spark.createDataFrame(
        [
            (-1000 - int(n), int(rank), -2, int(deg_rows.get(n, 0)))
            for n, rank in pr_rows
        ]
        + [
            (-3000 - int(n), int(rank), -3, int(wsum_rows.get(n, 0)))
            for n, rank in prw_rows
        ]
        + [
            (-5000 - int(n), int(rank), -5, int(int(n) in seed_set))
            for n, rank in prp_rows
        ],
        "canonical_id long, cluster_size long, rep_id long, rep_score long",
    )
    # round-16 'softw' member: soft-dedup sampling weights
    # (dedup.duplicate_weights — reweight duplicates 1/cluster_size
    # instead of dropping them). Per clustered doc a row
    # (−7000 − doc_id, weight_q, −7, cluster_size) pins the exact
    # integer weight, and one aggregate row (−7, Σ weight_q over ALL
    # docs, −7, n_docs) pins the corpus "effective size" including
    # every weight-1e9 singleton without emitting a row per doc.
    weights = dedup.duplicate_weights(clusters)
    dw_rows = weights.filter(F.col("cluster_size") > 1).select(
        (F.lit(-7000).cast("long") - F.col("doc_id")).alias("canonical_id"),
        F.col("weight_q").cast("long").alias("cluster_size"),
        F.lit(-7).cast("long").alias("rep_id"),
        F.col("cluster_size").cast("long").alias("rep_score"),
    )
    dw_total = weights.agg(
        F.sum("weight_q").alias("tw"), F.count(F.lit(1)).alias("nd")
    ).select(
        F.lit(-7).cast("long").alias("canonical_id"),
        F.col("tw").cast("long").alias("cluster_size"),
        F.lit(-7).cast("long").alias("rep_id"),
        F.col("nd").cast("long").alias("rep_score"),
    )
    return (
        main.unionByName(agree)
        .unionByName(pr_member)
        .unionByName(dw_rows)
        .unionByName(dw_total)
    )


def _q31_pagerank_sql() -> str:
    """Oracle for the q31 'pagerank'/'pagerank_w'/'pagerank_p'
    members: the unrolled integer power iteration
    (graphs.duckdb_pagerank_sql) over the same edge SQL — uniform
    (joined to out-degrees), weighted (joined to weight sums), and
    personalized (joined to the seed flag)."""
    from timebox_spark.operators import graphs as G

    pr = G.duckdb_pagerank_sql(_PR_EDGES_SQL, iterations=_PR_ITER)
    prw = G.duckdb_pagerank_sql(
        _PR_W_SQL, iterations=_PR_ITER_VAR, weighted=True
    )
    prp = G.duckdb_pagerank_sql(
        _PR_EDGES_SQL, iterations=_PR_ITER_VAR, seeds_sql=_PR_SEEDS_SQL
    )
    return f"""
SELECT CAST(-1000 - pr.node AS BIGINT) AS canonical_id,
       CAST(pr.rank AS BIGINT) AS cluster_size,
       CAST(-2 AS BIGINT) AS rep_id,
       CAST(COALESCE(dg.deg, 0) AS BIGINT) AS rep_score
FROM ({pr}) pr
LEFT JOIN (
  SELECT src, count(*) AS deg FROM ({_PR_EDGES_SQL}) GROUP BY src
) dg ON pr.node = dg.src
UNION ALL
SELECT CAST(-3000 - pr.node AS BIGINT),
       CAST(pr.rank AS BIGINT),
       CAST(-3 AS BIGINT),
       CAST(COALESCE(ws.ws, 0) AS BIGINT)
FROM ({prw}) pr
LEFT JOIN (
  SELECT src, SUM(w) AS ws FROM ({_PR_W_SQL}) GROUP BY src
) ws ON pr.node = ws.src
UNION ALL
SELECT CAST(-5000 - pr.node AS BIGINT),
       CAST(pr.rank AS BIGINT),
       CAST(-5 AS BIGINT),
       CAST(CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS BIGINT)
FROM ({prp}) pr
LEFT JOIN ({_PR_SEEDS_SQL}) s ON pr.node = s.node
"""


_Q31_SQL = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({LQ.Q24_PAIRS_SQL}),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, src AS lbl FROM edges
  UNION
  SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS MATERIALIZED (SELECT node, min(lbl) AS canonical_id FROM reach GROUP BY node),
sized AS MATERIALIZED (
  SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY canonical_id HAVING count(*) > 1
),
rep AS (
  SELECT canonical_id, doc_id AS rep_id, CAST(n_chars AS BIGINT) AS rep_score
  FROM (
    SELECT c.canonical_id, d.doc_id, d.n_chars,
           row_number() OVER (PARTITION BY c.canonical_id
                              ORDER BY d.n_chars DESC, d.doc_id) AS rn
    FROM comp c JOIN documents d ON d.doc_id = c.node
  ) WHERE rn = 1
)
SELECT s.canonical_id, s.cluster_size, r.rep_id, r.rep_score
FROM sized s JOIN rep r USING (canonical_id)
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(1 AS BIGINT), CAST(-1 AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM comp)
UNION ALL
SELECT canonical_id, cluster_size, rep_id, rep_score
FROM ({_q31_pagerank_sql()})
UNION ALL
SELECT CAST(-7000 - c.node AS BIGINT),
       CAST({dedup.DUP_WEIGHT_QUANT} // s.cluster_size AS BIGINT),
       CAST(-7 AS BIGINT),
       s.cluster_size
FROM comp c JOIN sized s ON c.canonical_id = s.canonical_id
UNION ALL
SELECT CAST(-7 AS BIGINT),
       CAST(((SELECT count(*) FROM documents)
             - (SELECT count(*) FROM comp)) * {dedup.DUP_WEIGHT_QUANT}
            + (SELECT COALESCE(sum({dedup.DUP_WEIGHT_QUANT} // s2.cluster_size), 0)
               FROM comp c2 JOIN sized s2 ON c2.canonical_id = s2.canonical_id)
            AS BIGINT),
       CAST(-7 AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM documents)
"""


# ------------------------------------------------------------------
# Streaming suites (Structured Streaming drained with availableNow)
# ------------------------------------------------------------------

def _stage_stream_input(
    spark: SparkSession, sf_dir: str, n_files: int, sentinel: bool = False
) -> str:
    """Write events as n_files range-partitioned parquet files so the
    file-source stream sees time-ordered micro-batches (FileStreamSource
    orders by modification time; ranges share one write, order among
    them is immaterial).

    With ``sentinel=True``, one extra row 30 days past max(ts) is
    written afterwards as its own (newest) file: with Trigger.AvailableNow
    Spark runs no trailing no-data batch, so without it the final data
    batch's windows would never cross the watermark and append-mode
    aggregations would under-emit. Processing the sentinel as the last
    micro-batch advances the watermark past every real window; the
    sentinel's own window stays in state, unemitted."""
    import glob
    import os
    import time

    src = (
        f"{Q._tmp('stream_src', sf_dir)}_{os.getpid()}"
        + ("_s" if sentinel else "")
    )
    events = load(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id", "event_type", "value"
    )
    (
        events.repartitionByRange(n_files, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(src)
    )
    # FileStreamSource batches files in modification-time order; the
    # parallel write leaves ties, so stamp strictly increasing mtimes
    # in partition (= ts-range) order to make arrival order == event
    # time order (no late-data drops, deterministic batches)
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    base = int(time.time())
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))
    if sentinel:
        (
            events.agg(F.max("ts").alias("mx"))
            .select(
                (F.col("mx") + F.expr("interval 30 days")).alias("ts"),
                F.lit(-1).cast("long").alias("event_id"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("__sentinel__").alias("event_type"),
                F.lit(0.0).alias("value"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        for p in glob.glob(os.path.join(src, "part-*")):
            if p not in parts:
                os.utime(p, (base + n_files + 10, base + n_files + 10))
    return src


def q65_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window rollup over a multi-batch file
    stream, drained with Trigger.AvailableNow into a memory sink.

    Append mode emits exactly the windows whose end <= final watermark.
    The staged sentinel row (30 days past max) advances the watermark
    past every real window on the final micro-batch, so the emitted set
    is ALL real hourly windows — the batch group-by exactly — and only
    the sentinel's own window is retained in state. Exercises: file
    stream source, event-time watermark, windowed agg state,
    exactly-once append emission.
    """
    from timebox_spark.streaming import ingest

    src = _stage_stream_input(spark, sf_dir, n_files=8, sentinel=True)
    ckpt = f"{Q._tmp('stream_hourly_ckpt', sf_dir)}_{os.getpid()}"
    shutil.rmtree(ckpt, ignore_errors=True)  # fresh drain each run
    stream = ingest.read_event_stream(spark, src, max_files_per_trigger=2)
    rolled = ingest.hourly_rollup(stream, watermark="1 hour", window="1 hour")
    name = "q65_stream_hourly_sink"
    ingest.run_to_memory(rolled, name, "append", ckpt)
    return spark.table(name).select("hour_ts", "event_type", "n", "value_q_sum")


_Q65_SQL = """
SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_q_sum
FROM events
GROUP BY 1, 2
"""


def q66_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (clicks x purchases per user within a
    2-hour lookback) drained via availableNow, digested per user.
    Single-batch drain: every match is co-resident in state, so the
    result equals the batch join and the DuckDB oracle is exact.
    Multi-batch state eviction is pinned in tests/test_streaming."""
    from timebox_spark.streaming import ingest

    src = _stage_stream_input(spark, sf_dir, n_files=8)
    ckpt = f"{Q._tmp('stream_join_ckpt', sf_dir)}_{os.getpid()}"
    shutil.rmtree(ckpt, ignore_errors=True)
    clicks = ingest.read_event_stream(spark, src).filter(
        F.col("event_type") == "click"
    )
    purchases = ingest.read_event_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    joined = ingest.stream_stream_join(
        clicks, purchases, on="user_id", watermark="1 hour", max_delay="2 hours"
    )
    name = "q66_stream_join_sink"
    # inner-join matches emit in the batch they pair up — append mode,
    # no watermark wait; the digest is a batch agg over the drained sink
    ingest.run_to_memory(
        joined.select("user_id", "event_id", "r_event_id"), name, "append", ckpt
    )
    return spark.table(name).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("event_id").alias("click_id_sum"),
        F.sum("r_event_id").alias("purchase_id_sum"),
    )


_Q66_SQL = """
WITH c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(c.event_id) AS BIGINT) AS click_id_sum,
       CAST(sum(p.event_id) AS BIGINT) AS purchase_id_sum
FROM c JOIN p ON c.user_id = p.user_id
  AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 2 HOUR
GROUP BY c.user_id
"""


def q67_stream_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator on the driver contract:
    ``zscore_anomalies`` (applyInPandasWithState — running moments per
    event_type, vectorized scoring) drained with Trigger.AvailableNow.

    The drain is a SINGLE micro-batch (no maxFilesPerTrigger), so the
    cumulative moments equal the global moments and the emitted
    anomaly set equals the batch z-score formula — which IS the DuckDB
    oracle. Values are pre-quantized to integer-valued doubles, so
    every reduction (numpy float64 sums / DuckDB BIGINT sums) is exact
    and the z computation is deterministic scalar float math on both
    engines. Multi-batch cumulative semantics and state eviction stay
    pinned in tests/test_streaming."""
    from timebox_spark.streaming import ingest

    src = _stage_stream_input(spark, sf_dir, n_files=8)
    ckpt = f"{Q._tmp('stream_zscore_ckpt', sf_dir)}_{os.getpid()}"
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = ingest.read_event_stream(spark, src).withColumn(
        "value", F.round(F.col("value") * 1000).cast("long").cast("double")
    )
    anomalies = ingest.zscore_anomalies(stream, threshold=3.0)
    name = "q67_stream_zscore_sink"
    ingest.run_to_memory(anomalies, name, "append", ckpt)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_anomalies"),
            F.round(F.max("z") * 1e6).cast("long").alias("z_max_q"),
            F.sum(F.col("value").cast("long")).alias("anom_vq_sum"),
        )
    )


_Q67_SQL = """
WITH e AS (
  SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS vq FROM events
), st AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(vq) AS BIGINT) AS s,
         CAST(sum(vq * vq) AS BIGINT) AS ss
  FROM e GROUP BY 1
), z AS (
  SELECT e.event_type, e.vq,
         abs((CAST(e.vq AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
             / sqrt((CAST(st.ss AS DOUBLE)
                     - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / st.n)
                    / (st.n - 1.0))) AS z
  FROM e JOIN st ON e.event_type = st.event_type
  WHERE st.n >= 2
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_anomalies,
       CAST(round(max(z) * 1000000) AS BIGINT) AS z_max_q,
       CAST(sum(vq) AS BIGINT) AS anom_vq_sum
FROM z WHERE z > 3.0 GROUP BY event_type
"""


def q68_stream_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining streaming operators on the driver contract, one
    labelled digest per member, all with exact batch-SQL oracles:

    - ``sliding``: 1h/15m sliding-window rollup, append mode, sentinel
      advances the watermark past every real window (q65 pattern) —
      each event belongs to exactly 4 windows on the epoch-aligned
      15-minute grid, which is what the oracle enumerates.
    - ``session``: per-user session windows (30 min inactivity gap),
      append mode. Spark merges sessions whose gap equals the
      inactivity bound exactly (windows are CLOSED on the right for
      merging — pinned by tests/test_streaming), so the oracle's
      gaps-and-islands break condition is strictly ``>``.
    - ``dedup``: ``dropDuplicatesWithinWatermark`` over a full replay
      (two file-source instances of the same directory unioned) —
      exactly-once output equals the batch table.
    - ``runmax``: ``applyInPandasWithState`` running max/count per key
      drained in ONE micro-batch, so the cumulative state equals the
      global aggregate.

    State stays bounded in every member: watermarks age out window /
    dedup state, and runmax state is O(keys)."""
    from timebox_spark.streaming import ingest

    src = _stage_stream_input(spark, sf_dir, n_files=8, sentinel=True)

    def pid_tmp(name):
        # per-(sf_dir, pid) scratch path, rmtree'd first: deterministic
        # reruns in one process overwrite, concurrent processes (pytest
        # alongside the driver) never rmtree each other's state
        path = f"{Q._tmp(name, sf_dir)}_{os.getpid()}"
        shutil.rmtree(path, ignore_errors=True)
        return path

    def drain(df, name, mode):
        ckpt = pid_tmp(f"{name}_ckpt")
        ingest.run_to_memory(df, name, mode, ckpt)
        return spark.table(name)

    sl = ingest.sliding_rollup(
        ingest.read_event_stream(spark, src, max_files_per_trigger=2),
        watermark="1 hour",
        window="1 hour",
        slide="15 minutes",
    )
    sliding = (
        drain(sl, "q68_sliding_sink", "append")
        .filter(F.col("event_type") != "__sentinel__")
        .groupBy(F.col("event_type").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n").alias("v1"),
            F.sum(F.unix_timestamp("win_ts")).alias("v2"),
        )
        .select(F.lit("sliding").alias("member"), "k", "n", "v1", "v2")
    )

    se = ingest.session_rollup(
        ingest.read_event_stream(spark, src, max_files_per_trigger=2),
        watermark="1 hour",
        gap="30 minutes",
    )
    # the sentinel session (30 days past real max ts) normally stays in
    # state unemitted; bound on session_start <= real max(ts) so it is
    # excluded even if it ever emitted, WITHOUT assuming real rows have
    # non-negative user_id (the oracle aggregates every real user)
    max_real_ts = (
        load(spark, sf_dir, "events").agg(F.max("ts").alias("mx")).collect()[0]["mx"]
    )
    session = (
        drain(se, "q68_session_sink", "append")
        .filter(F.col("session_start") <= F.lit(max_real_ts))
        .groupBy((F.col("user_id") % 10).cast("string").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_events").alias("v1"),
            F.sum(
                F.unix_timestamp("session_start") + F.unix_timestamp("session_end")
            ).alias("v2"),
        )
        .select(F.lit("session").alias("member"), "k", "n", "v1", "v2")
    )

    doubled = ingest.read_event_stream(spark, src).unionByName(
        ingest.read_event_stream(spark, src)
    )
    dd = ingest.dedup_stream(doubled, watermark="1 hour")
    dedupd = (
        drain(dd, "q68_dedup_sink", "append")
        .filter(F.col("event_type") != "__sentinel__")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("v1"),
            F.sum(F.round(F.col("value") * 1000).cast("long")).alias("v2"),
        )
        .select(
            F.lit("dedup").alias("member"), F.lit("all").alias("k"), "n", "v1", "v2"
        )
    )

    rm = ingest.running_max_per_key(
        ingest.read_event_stream(spark, src), watermark="1 hour"
    )
    runmax = (
        drain(rm, "q68_runmax_sink", "update")
        .filter(F.col("event_type") != "__sentinel__")
        .select(
            F.lit("runmax").alias("member"),
            F.col("event_type").alias("k"),
            F.col("n_total").alias("n"),
            F.round(F.col("running_max") * 1000).cast("long").alias("v1"),
            _lit0().alias("v2"),
        )
    )

    # streaming quantile-sketch build (ingest.hourly_histogram): per
    # hourly window the exact log2-histogram rows stream out as the
    # window closes; the sentinel's own window never emits, and real
    # windows are additionally bounded by max real ts (q68 session
    # pattern)
    hh = ingest.hourly_histogram(
        ingest.read_event_stream(spark, src, max_files_per_trigger=2),
        watermark="1 hour",
    )
    qsketch = (
        drain(hh, "q68_qsketch_sink", "append")
        .filter(F.col("win_ts") <= F.lit(max_real_ts))
        .groupBy(F.col("bucket").cast("string").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n").alias("v1"),
            F.sum(F.unix_timestamp("win_ts")).alias("v2"),
        )
        .select(F.lit("qsketch").alias("member"), "k", "n", "v1", "v2")
    )

    # streaming corpus compactor ('compact' rows, round-6 verdict
    # task 7): two ingest cycles — odd docs arrive first, then evens
    # plus PLANTED duplicates (the raw table has no exact dups at
    # sf0.01): negative-id copies of odd docs (doc_id % 10 == 3) test
    # that ARRIVAL ORDER wins across cycles (the copy's id is smaller
    # than every corpus id, so global smallest-id dedup would keep it
    # — compact must drop it), and negative-id copies of even docs
    # (doc_id % 10 == 4) test within-batch keep-one (the negative
    # copy IS the smaller id, so it displaces its original).
    d2 = load(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = d2.filter(F.col("doc_id") % 2 == 1)
    evens = d2.filter(F.col("doc_id") % 2 == 0)
    cross_dups = b1.filter(F.col("doc_id") % 10 == 3).select(
        (-F.col("doc_id")).alias("doc_id"), "text"
    )
    intra_dups = evens.filter(F.col("doc_id") % 10 == 4).select(
        (-F.col("doc_id")).alias("doc_id"), "text"
    )
    b2 = evens.unionByName(cross_dups).unionByName(intra_dups)

    def ingest_cycles(name, batch2, **knobs):
        # the production disk-state path: cycle 0 ingests b1 and cycle
        # 1 ingests batch2 through run_ingest_cycle on a fresh store,
        # so cycle 1 reads cycle 0's persisted fps and index trees
        # (never corpus text) and the front door's gates and sketches
        # run at their IngestSpec defaults; each cycle's kept rows are
        # its corpus partition
        store = pid_tmp(f"q68_{name}_store")
        for cid, batch in enumerate((b1, batch2)):
            ingest.run_ingest_cycle(batch, store, cid, **knobs)
        return [
            dedup._read_state(spark, f"{store}/corpus/cycle={cid}")
            for cid in (0, 1)
        ]

    def compact_digest(df, k, member):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("v1"),
            F.sum(F.length("text").cast("long")).alias("v2"),
        ).select(
            F.lit(member).alias("member"),
            F.lit(k).alias("k"),
            "n",
            "v1",
            "v2",
        )

    def cycle_digests(member, parts):
        return compact_digest(parts[0], "1", member).unionByName(
            compact_digest(parts[1], "2", member)
        )

    compact = cycle_digests(
        "compact", ingest_cycles("compact", b2, near_dup=False)
    )

    # near-dup-aware compactor ('compact_near' rows, round-8 verdict
    # task 7): plants the exact fingerprint CANNOT catch — cycle-2
    # copies of cycle-1 odd docs (% 10 == 5) with ' qq' appended
    # (near-identical shingle sets; arrival order must drop the copy
    # against the corpus even though its id is smaller than every
    # corpus id), and larger-id copies of cycle-2 even docs
    # (% 10 == 6) with ' zz' appended (within-batch smallest-id
    # near-dedup must drop the copy). Cycle 2 consumes the index
    # cycle 1 persisted in the store's index/banded and index/sets
    # trees — the one persisted form a restarted streaming driver
    # reads: no corpus text rescan, signature-sized verify sets.
    near_cross = b1.filter(F.col("doc_id") % 10 == 5).select(
        (-(F.col("doc_id") + 1000000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq")).alias("text"),
    )
    near_intra = evens.filter(F.col("doc_id") % 10 == 6).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    b2n = evens.unionByName(near_cross).unionByName(near_intra)
    near_parts = ingest_cycles("compact_near", b2n)
    compact_near = cycle_digests("compact_near", near_parts)

    # estimate-verify compactor tier ('compact_est' rows, round-11
    # verdict task 3): same two-cycle construction as 'compact_near'
    # but the store's verify tree holds only the num_perm MinHash
    # longs per doc (index_verify='estimate' — truly signature-sized)
    # and candidates verify at SIGNATURE AGREEMENT >= threshold, the
    # unbiased Jaccard estimator.
    compact_est = cycle_digests(
        "compact_est",
        ingest_cycles("compact_est", b2n, index_verify="estimate"),
    )

    # cluster-keep-one vs chain-drop ('keep1' rows): a planted A~B~C
    # chain per corpus doc with doc_id % 10 == 9 — B = text + suffix
    # (bridges corpus and C), C = second half of text + suffix (close
    # to B, far from A at threshold 0.5). keep='cluster' keeps each
    # surviving C (it matches nothing kept); keep='chain' drops it via
    # the corpus-dropped B. Both semantics digested on the SAME batch,
    # against the corpus 'compact_near' cycle 1 kept.
    keep1_b = b1.filter(F.col("doc_id") % 10 == 9).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        F.concat("text", F.lit(_KEEP1_SUFFIX)).alias("text"),
    )
    keep1_c = b1.filter(F.col("doc_id") % 10 == 9).select(
        (F.col("doc_id") + 8_000_000).alias("doc_id"),
        F.concat(
            F.expr(
                "substring(text, cast(length(text) / 2 as int) + 1,"
                " 100000000)"
            ),
            F.lit(_KEEP1_SUFFIX),
        ).alias("text"),
    )
    bk1 = keep1_b.unionByName(keep1_c)
    keep1_kw = dict(
        corpus=near_parts[0], near_dup=True, threshold=_KEEP1_THRESHOLD,
        num_perm=_MH_NUM_PERM, bands=_KEEP1_BANDS,
    )
    # scratch-backed distributed drop (round-12 verdict task 2): the
    # driver-gated cluster path runs with ZERO id collects — dropped
    # ids go through this parquet scratch, which the returned plan
    # reads lazily, so it is NOT deleted here
    keep1 = compact_digest(
        ingest.compact_corpus(
            bk1,
            keep="cluster",
            scratch_path=pid_tmp("q68_keep1_scratch"),
            **keep1_kw,
        ),
        "cluster",
        "keep1",
    ).unionByName(
        compact_digest(
            ingest.compact_corpus(bk1, keep="chain", **keep1_kw),
            "chain",
            "keep1",
        )
    )

    # in-stream near-dup detection ('near_hits' rows, round-9 verdict
    # task 6): every document plus ' qq' copies of % 10 == 7 docs
    # (ids + 3e6, later event times) flow through
    # ingest.near_dup_hits_stream; arrival order = (ts, id) = id
    # order by construction, so the DuckDB oracle re-derives every
    # (doc, matched, per-band) hit from the same md5 signature family
    # — which bands fired (v1), and the exact signature agreement
    # (v2 = Σ est·28 — est is the round-13 band-excluded agreement
    # over num_perm − r positions, so est·(num_perm − r) recovers the
    # integer agree count exactly). Single availableNow batch: in-batch (ts, id)
    # ordering makes the state semantics equal the global order the
    # SQL mirrors (cross-batch state is pytest-covered).
    nh_orig = d2.select(
        "doc_id",
        "text",
        F.timestamp_millis(
            F.lit(1_700_000_000_000) + F.col("doc_id")
        ).alias("ts"),
    )
    nh_copy = d2.filter(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat("text", F.lit(" qq")).alias("text"),
        F.timestamp_millis(
            F.lit(1_700_000_000_000) + F.col("doc_id") + 3_000_000
        ).alias("ts"),
    )
    nh_dir = pid_tmp("q68_near_src")
    nh_orig.unionByName(nh_copy).write.parquet(nh_dir)
    nh_stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(nh_dir)
    # max_bucket=None: exact all-earlier-arrivals semantics (the SQL
    # oracle re-derives every hit); production default is bounded
    nh_hits = ingest.near_dup_hits_stream(
        nh_stream, min_est=0.5, max_bucket=None
    )
    nh = (
        drain(nh_hits, "q68_near_hits_sink", "append")
        .groupBy("doc_id", "matched_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("band").cast("long").alias("v1"),
            F.sum(
                F.round(F.col("est") * (_MH_NUM_PERM - _MH_NUM_PERM // _MH_BANDS))
                .cast("long")
            ).alias("v2"),
        )
        .select(
            F.lit("near_hits").alias("member"),
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("matched_id").cast("string"),
            ).alias("k"),
            "n",
            "v1",
            "v2",
        )
    )

    # capped-detector member ('near_cap' rows, round-12): the SAME
    # planted-copy stream through max_bucket=1 — the bounded
    # production path (each bucket stores only its first arrival;
    # later arrivals are checked against that prefix). With cap=1 the
    # semantics are SQL-expressible (matched = the bucket's earliest
    # doc), so the default-capped kernel is driver-gated bit-for-bit,
    # not just pytest-covered.
    nhc_hits = ingest.near_dup_hits_stream(
        nh_stream, min_est=0.5, max_bucket=1
    )
    nhc = (
        drain(nhc_hits, "q68_near_cap_sink", "append")
        .groupBy("doc_id", "matched_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("band").cast("long").alias("v1"),
            F.sum(
                F.round(F.col("est") * (_MH_NUM_PERM - _MH_NUM_PERM // _MH_BANDS))
                .cast("long")
            ).alias("v2"),
        )
        .select(
            F.lit("near_cap").alias("member"),
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("matched_id").cast("string"),
            ).alias("k"),
            "n",
            "v1",
            "v2",
        )
    )

    return (
        sliding.unionByName(session)
        .unionByName(dedupd)
        .unionByName(runmax)
        .unionByName(qsketch)
        .unionByName(compact)
        .unionByName(compact_near)
        .unionByName(compact_est)
        .unionByName(keep1)
        .unionByName(nh)
        .unionByName(nhc)
    )


def _q68_compact_sql() -> str:
    """First-batch-wins oracle for the corpus compactor: a fingerprint
    keeps the smallest id WITHIN the earliest batch containing it —
    over the same planted-duplicate batch construction as the Spark
    side (negative-id cross-cycle and intra-batch copies)."""
    return f"""
SELECT 'compact' AS member, CAST(b AS VARCHAR) AS k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS v1,
       CAST(sum(length(text)) AS BIGINT) AS v2
FROM (
  WITH d AS (
    SELECT doc_id, text, md5({LQ._NORM}) AS fp, 1 AS b
    FROM documents WHERE doc_id % 2 = 1
    UNION ALL
    SELECT doc_id, text, md5({LQ._NORM}), 2
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT -doc_id, text, md5({LQ._NORM}), 2
    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 10 = 3
    UNION ALL
    SELECT -doc_id, text, md5({LQ._NORM}), 2
    FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 4
  )
  SELECT d.doc_id, d.b, d.text,
         row_number() OVER (PARTITION BY d.fp ORDER BY d.doc_id) AS rn
  FROM d JOIN (SELECT fp, min(b) AS fb FROM d GROUP BY fp) f
    ON d.fp = f.fp AND d.b = f.fb
) WHERE rn = 1 GROUP BY b
"""


_Q68_SQL = """
WITH sw AS (
  SELECT CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - k.k * 900 AS ws,
         event_type
  FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
), swg AS (
  SELECT ws, event_type, count(*) AS n FROM sw GROUP BY 1, 2
), sliding AS (
  SELECT 'sliding' AS member, event_type AS k,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n) AS BIGINT) AS v1,
         CAST(sum(ws) AS BIGINT) AS v2
  FROM swg GROUP BY 2
), brk AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS b
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sid AS (
  SELECT user_id, ts,
         sum(b) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS s
  FROM brk
), sess AS (
  SELECT user_id, s, min(ts) AS st,
         max(ts) + INTERVAL 30 MINUTE AS en, count(*) AS ne
  FROM sid GROUP BY 1, 2
), sessd AS (
  SELECT 'session' AS member, CAST(user_id % 10 AS VARCHAR) AS k,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ne) AS BIGINT) AS v1,
         CAST(sum(CAST(floor(epoch(st)) AS BIGINT)
                  + CAST(floor(epoch(en)) AS BIGINT)) AS BIGINT) AS v2
  FROM sess GROUP BY 2
), dedupd AS (
  SELECT 'dedup' AS member, 'all' AS k,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(event_id) AS BIGINT) AS v1,
         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS v2
  FROM events
), runmaxd AS (
  SELECT 'runmax' AS member, event_type AS k,
         CAST(count(*) AS BIGINT) AS n,
         CAST(round(max(value) * 1000) AS BIGINT) AS v1,
         CAST(0 AS BIGINT) AS v2
  FROM events GROUP BY 2
)
SELECT * FROM sliding
UNION ALL SELECT * FROM sessd
UNION ALL SELECT * FROM dedupd
UNION ALL SELECT * FROM runmaxd
UNION ALL SELECT * FROM (
  WITH hv AS (
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS ws,
           CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS vi
    FROM events
  ), hg AS (
    SELECT ws,
           CASE WHEN vi <= 0 THEN 0 ELSE length(bin(vi)) END AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM hv GROUP BY 1, 2
  )
  SELECT 'qsketch' AS member, CAST(bucket AS VARCHAR) AS k,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n) AS BIGINT) AS v1,
         CAST(sum(ws) AS BIGINT) AS v2
  FROM hg GROUP BY 2
)
"""

def _q68_compact_near_sql() -> str:
    """Oracle for the NEAR-dup-aware compactor: re-derives both ingest
    cycles end-to-end — exact fingerprint dedup (within-batch smallest
    id; cycle 2 anti-joined against the cycle-1 KEPT set), then the
    portable MinHash-LSH band tables (``_mh_ctes`` per cycle), banded
    candidates (corpus×batch in either id order + smaller-id
    within-batch), exact HASHED-shingle Jaccard verify at the q25
    threshold (the ``{pfx}hd`` CTEs — 32-bit md5 per shingle, same
    salt as ``dedup.hashed_shingle_sets``), and the drop. Mirrors
    the two ``ingest.run_ingest_cycle`` calls, whose second cycle
    reads the first's persisted index trees."""
    t = _MH_THRESHOLD
    fp = f"md5({LQ._NORM})"
    return f"""
SELECT 'compact_near' AS member, CAST(cyc AS VARCHAR) AS k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS v1,
       CAST(sum(length(text)) AS BIGINT) AS v2
FROM (
  WITH e1 AS (
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) AS rn
      FROM documents WHERE doc_id % 2 = 1
    ) WHERE rn = 1
  ),
  {_mh_ctes('e1', 'n1')},
  dr1 AS (
    SELECT DISTINCT c.id_b AS doc_id FROM (
      SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
      FROM n1banded a JOIN n1banded x
        ON a.band = x.band AND a.key = x.key AND a.doc_id < x.doc_id
    ) c
    JOIN n1hd da ON da.doc_id = c.id_a JOIN n1hd db ON db.doc_id = c.id_b
    WHERE {_MH_JAC} >= {t}
  ),
  k1 AS (SELECT * FROM e1 WHERE doc_id NOT IN (SELECT doc_id FROM dr1)),
  b2 AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT -(doc_id + 1000000), text || ' qq'
    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 10 = 5
    UNION ALL
    SELECT doc_id + 2000000, text || ' zz'
    FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 6
  ),
  e2 AS (
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) AS rn
      FROM b2 WHERE {fp} NOT IN (SELECT {fp} FROM k1)
    ) WHERE rn = 1
  ),
  {_mh_ctes('e2', 'n2')},
  dr2 AS (
    SELECT DISTINCT c.id_b AS doc_id FROM (
      SELECT DISTINCT a.id_a, x.doc_id AS id_b FROM (
        SELECT doc_id AS id_a, band, key, TRUE AS corp FROM n1banded
        WHERE doc_id NOT IN (SELECT doc_id FROM dr1)
        UNION ALL
        SELECT doc_id, band, key, FALSE FROM n2banded
      ) a JOIN n2banded x ON a.band = x.band AND a.key = x.key
      WHERE a.corp OR a.id_a < x.doc_id
    ) c
    JOIN (SELECT doc_id, sh FROM n1hd
          WHERE doc_id NOT IN (SELECT doc_id FROM dr1)
          UNION ALL SELECT doc_id, sh FROM n2hd) da ON da.doc_id = c.id_a
    JOIN n2hd db ON db.doc_id = c.id_b
    WHERE {_MH_JAC} >= {t}
  ),
  k2 AS (SELECT * FROM e2 WHERE doc_id NOT IN (SELECT doc_id FROM dr2))
  SELECT doc_id, text, 1 AS cyc FROM k1
  UNION ALL
  SELECT doc_id, text, 2 FROM k2
) GROUP BY cyc
"""


def _mh_agree(num: int = _MH_NUM_PERM, bands: int = _MH_BANDS) -> str:
    """DEBIASED signature-agreement Jaccard estimate between sig rows
    aliased ``da`` and ``db`` — the DuckDB mirror of
    compact_corpus(verify='estimate') (round 13): a banded candidate
    exists BECAUSE one band's r consecutive positions agreed, so raw
    agreement is conditioned upward; when any band fully agrees, that
    band's r positions are excluded and the fraction runs over the
    remaining num-r (an unbiased sample given the pair's true
    Jaccard — measured at sf0.1: false drops 4,933 → 811 of 40,105
    candidates, false keeps 0 either way)."""
    r = num // bands
    terms = " + ".join(
        f"CASE WHEN da.h{i} = db.h{i} THEN 1 ELSE 0 END" for i in range(num)
    )
    band_full = " OR ".join(
        "("
        + " AND ".join(
            f"da.h{j * r + k} = db.h{j * r + k}" for k in range(r)
        )
        + ")"
        for j in range(bands)
    )
    fb = f"CASE WHEN {band_full} THEN 1 ELSE 0 END"
    return (
        f"(CAST(({terms}) - {r} * ({fb}) AS DOUBLE)"
        f" / ({num} - {r} * ({fb})))"
    )


def _q68_compact_est_sql() -> str:
    """Oracle for the ESTIMATE-verify compactor tier: identical
    two-cycle construction to ``_q68_compact_near_sql`` but banded
    candidates verify at MinHash signature agreement (``_mh_agree``
    over the ``{pfx}sigs`` CTEs) >= the threshold, instead of exact
    hashed-shingle Jaccard — mirroring the two
    ``ingest.run_ingest_cycle(index_verify='estimate')`` calls."""
    t = _MH_THRESHOLD
    fp = f"md5({LQ._NORM})"
    agree = _mh_agree()
    hcols = ", ".join(f"h{i}" for i in range(_MH_NUM_PERM))
    return f"""
SELECT 'compact_est' AS member, CAST(cyc AS VARCHAR) AS k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS v1,
       CAST(sum(length(text)) AS BIGINT) AS v2
FROM (
  WITH e1 AS (
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) AS rn
      FROM documents WHERE doc_id % 2 = 1
    ) WHERE rn = 1
  ),
  {_mh_ctes('e1', 'p1')},
  pdr1 AS (
    SELECT DISTINCT c.id_b AS doc_id FROM (
      SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
      FROM p1banded a JOIN p1banded x
        ON a.band = x.band AND a.key = x.key AND a.doc_id < x.doc_id
    ) c
    JOIN p1sigs da ON da.doc_id = c.id_a
    JOIN p1sigs db ON db.doc_id = c.id_b
    WHERE {agree} >= {t}
  ),
  pk1 AS (SELECT * FROM e1 WHERE doc_id NOT IN (SELECT doc_id FROM pdr1)),
  pb2 AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT -(doc_id + 1000000), text || ' qq'
    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 10 = 5
    UNION ALL
    SELECT doc_id + 2000000, text || ' zz'
    FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 6
  ),
  pe2 AS (
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) AS rn
      FROM pb2 WHERE {fp} NOT IN (SELECT {fp} FROM pk1)
    ) WHERE rn = 1
  ),
  {_mh_ctes('pe2', 'p2')},
  pdr2 AS (
    SELECT DISTINCT c.id_b AS doc_id FROM (
      SELECT DISTINCT a.id_a, x.doc_id AS id_b FROM (
        SELECT doc_id AS id_a, band, key, TRUE AS corp FROM p1banded
        WHERE doc_id NOT IN (SELECT doc_id FROM pdr1)
        UNION ALL
        SELECT doc_id, band, key, FALSE FROM p2banded
      ) a JOIN p2banded x ON a.band = x.band AND a.key = x.key
      WHERE a.corp OR a.id_a < x.doc_id
    ) c
    JOIN (SELECT doc_id, {hcols} FROM p1sigs
          WHERE doc_id NOT IN (SELECT doc_id FROM pdr1)
          UNION ALL SELECT doc_id, {hcols} FROM p2sigs) da
      ON da.doc_id = c.id_a
    JOIN p2sigs db ON db.doc_id = c.id_b
    WHERE {agree} >= {t}
  ),
  pk2 AS (SELECT * FROM pe2 WHERE doc_id NOT IN (SELECT doc_id FROM pdr2))
  SELECT doc_id, text, 1 AS cyc FROM pk1
  UNION ALL
  SELECT doc_id, text, 2 FROM pk2
) GROUP BY cyc
"""


def _q68_keep1_sql() -> str:
    """Oracle for compact_corpus's two within-batch semantics on the
    planted A~B~C chain batch: re-derives the cycle-1 corpus (exact +
    near dedup, default banding), the B/C batch construction (same
    literal suffix and half-text substring), exact dedup vs corpus
    fps, corpus-vs-batch verified drops at the keep1 threshold/
    banding, then BOTH endings — chain (drop id_b of any verified
    smaller-id batch pair) and cluster (recursive-CTE connected
    components over verified pairs among corpus-survivors, keep each
    component's min id)."""
    t = _KEEP1_THRESHOLD
    fp = f"md5({LQ._NORM})"
    sfx = _KEEP1_SUFFIX
    return f"""
SELECT 'keep1' AS member, mode AS k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS v1,
       CAST(sum(length(text)) AS BIGINT) AS v2
FROM (
  WITH RECURSIVE e1 AS (
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) AS rn
      FROM documents WHERE doc_id % 2 = 1
    ) WHERE rn = 1
  ),
  {_mh_ctes('e1', 'm1')},
  mdr1 AS (
    SELECT DISTINCT c.id_b AS doc_id FROM (
      SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
      FROM m1banded a JOIN m1banded x
        ON a.band = x.band AND a.key = x.key AND a.doc_id < x.doc_id
    ) c
    JOIN m1hd da ON da.doc_id = c.id_a JOIN m1hd db ON db.doc_id = c.id_b
    WHERE {_MH_JAC} >= {_MH_THRESHOLD}
  ),
  kc AS MATERIALIZED (SELECT * FROM e1 WHERE doc_id NOT IN (SELECT doc_id FROM mdr1)),
  bk AS (
    SELECT doc_id + 7000000 AS doc_id, text || '{sfx}' AS text
    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 10 = 9
    UNION ALL
    SELECT doc_id + 8000000,
           substr(text, (length(text) // 2) + 1) || '{sfx}'
    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 10 = 9
  ),
  ek AS MATERIALIZED (
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) AS rn
      FROM bk WHERE {fp} NOT IN (SELECT {fp} FROM kc)
    ) WHERE rn = 1
  ),
  {_mh_ctes('kc', 'q0', bands=_KEEP1_BANDS)},
  {_mh_ctes('ek', 'q1', bands=_KEEP1_BANDS)},
  kdrc AS MATERIALIZED (
    SELECT DISTINCT c.id_b AS doc_id FROM (
      SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
      FROM q0banded a JOIN q1banded x
        ON a.band = x.band AND a.key = x.key
    ) c
    JOIN q0hd da ON da.doc_id = c.id_a JOIN q1hd db ON db.doc_id = c.id_b
    WHERE {_MH_JAC} >= {t}
  ),
  kbp AS MATERIALIZED (
    SELECT c.id_a, c.id_b FROM (
      SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
      FROM q1banded a JOIN q1banded x
        ON a.band = x.band AND a.key = x.key AND a.doc_id < x.doc_id
    ) c
    JOIN q1hd da ON da.doc_id = c.id_a JOIN q1hd db ON db.doc_id = c.id_b
    WHERE {_MH_JAC} >= {t}
  ),
  chain_kept AS (
    SELECT * FROM ek
    WHERE doc_id NOT IN (SELECT doc_id FROM kdrc)
      AND doc_id NOT IN (SELECT id_b FROM kbp)
  ),
  rem AS MATERIALIZED (SELECT * FROM ek WHERE doc_id NOT IN (SELECT doc_id FROM kdrc)),
  rpairs AS MATERIALIZED (
    SELECT id_a, id_b FROM kbp
    WHERE id_a IN (SELECT doc_id FROM rem)
      AND id_b IN (SELECT doc_id FROM rem)
  ),
  edges AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM rpairs
    UNION ALL
    SELECT id_b, id_a FROM rpairs
  ),
  reach AS (
    SELECT src AS node, src AS lbl FROM edges
    UNION
    SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
  ),
  comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
  cluster_kept AS (
    SELECT * FROM rem
    WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
  )
  SELECT 'chain' AS mode, doc_id, text FROM chain_kept
  UNION ALL
  SELECT 'cluster', doc_id, text FROM cluster_kept
) GROUP BY mode
"""


def _agree_excl_band(band_col: str) -> str:
    """Band-excluded (DEBIASED, round 13) signature-agreement count
    between sig rows aliased ``sa``/``sb``: the positions of the
    colliding band named by ``band_col`` are excluded — they agree by
    construction of the bucket key, so counting them conditions the
    estimate upward (the same correction
    ``near_dup_hits_stream`` applies in-kernel)."""
    r = _MH_NUM_PERM // _MH_BANDS
    cases = []
    for j in range(_MH_BANDS):
        terms = " + ".join(
            f"(sa.h{i} = sb.h{i})::INT"
            for i in range(_MH_NUM_PERM)
            if not (j * r <= i < (j + 1) * r)
        )
        cases.append(f"WHEN {j} THEN ({terms})")
    return f"(CASE {band_col} {' '.join(cases)} END)"


def _q68_near_hits_sql() -> str:
    """Oracle for the in-stream near-dup detector
    (ingest.near_dup_hits_stream): re-derives the portable MinHash
    signatures and band table over the SAME planted-copy construction
    (``_mh_ctes`` — identical md5 family), then for every banded doc
    the best EARLIER-arrival bucket-mate (band-excluded agreement
    desc, id asc — arrival order IS id order by construction) and
    keeps hits whose DEBIASED agreement (the colliding band's
    positions excluded, mirroring the kernel) reaches
    min_est·(num_perm − r). The digest pins which bands fired and the
    exact band-excluded agreement per (doc, matched)."""
    agree = _agree_excl_band("a.band")
    min_agree = 0.5 * (_MH_NUM_PERM - _MH_NUM_PERM // _MH_BANDS)
    return f"""
SELECT 'near_hits' AS member,
       CAST(id_b AS VARCHAR) || ':' || CAST(id_a AS VARCHAR) AS k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(band) AS BIGINT) AS v1,
       CAST(sum(agree) AS BIGINT) AS v2
FROM (
  WITH nh_src AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 3000000, text || ' qq'
    FROM documents WHERE doc_id % 10 = 7
  ),
  {_mh_ctes('nh_src', 'nh')},
  pr AS (
    SELECT b.doc_id AS id_b, a.doc_id AS id_a, a.band,
           ({agree}) AS agree,
           row_number() OVER (PARTITION BY b.doc_id, a.band
                              ORDER BY ({agree}) DESC, a.doc_id) AS rn
    FROM nhbanded a
    JOIN nhbanded b ON a.band = b.band AND a.key = b.key
                   AND a.doc_id < b.doc_id
    JOIN nhsigs sa ON sa.doc_id = a.doc_id
    JOIN nhsigs sb ON sb.doc_id = b.doc_id
  )
  SELECT id_b, id_a, band, agree FROM pr
  WHERE rn = 1 AND agree >= {min_agree}
) GROUP BY id_b, id_a
"""


def _q68_near_cap_sql() -> str:
    """Oracle for the BOUNDED detector path (max_bucket=1, the
    production default's semantics at its tightest): each (band, key)
    bucket stores only its FIRST arrival (min doc_id — arrival order
    is id order by construction), every later bucket-mate is checked
    against exactly that signature, and a hit emits (doc, band,
    first_id, band-excluded agreement — the same round-13 debias as
    'near_hits'). SQL-expressible precisely because the cap removes
    the order-dependent bucket growth."""
    agree = _agree_excl_band("b.band")
    min_agree = 0.5 * (_MH_NUM_PERM - _MH_NUM_PERM // _MH_BANDS)
    return f"""
SELECT 'near_cap' AS member,
       CAST(id_b AS VARCHAR) || ':' || CAST(id_a AS VARCHAR) AS k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(band) AS BIGINT) AS v1,
       CAST(sum(agree) AS BIGINT) AS v2
FROM (
  WITH nc_src AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 3000000, text || ' qq'
    FROM documents WHERE doc_id % 10 = 7
  ),
  {_mh_ctes('nc_src', 'nc')},
  ncfr AS (
    SELECT band, key, min(doc_id) AS first_id
    FROM ncbanded GROUP BY band, key
  )
  SELECT b.doc_id AS id_b, f.first_id AS id_a, b.band,
         ({agree}) AS agree
  FROM ncbanded b
  JOIN ncfr f ON b.band = f.band AND b.key = f.key
             AND b.doc_id > f.first_id
  JOIN ncsigs sa ON sa.doc_id = f.first_id
  JOIN ncsigs sb ON sb.doc_id = b.doc_id
  WHERE ({agree}) >= {min_agree}
) GROUP BY id_b, id_a
"""


_Q68_SQL += f"\nUNION ALL SELECT * FROM ({_q68_compact_sql()})"
_Q68_SQL += f"\nUNION ALL SELECT * FROM ({_q68_compact_near_sql()})"
_Q68_SQL += f"\nUNION ALL SELECT * FROM ({_q68_compact_est_sql()})"
_Q68_SQL += f"\nUNION ALL SELECT * FROM ({_q68_keep1_sql()})"
_Q68_SQL += f"\nUNION ALL SELECT * FROM ({_q68_near_hits_sql()})"
_Q68_SQL += f"\nUNION ALL SELECT * FROM ({_q68_near_cap_sql()})"


# ------------------------------------------------------------------
# Storage / codec suites
# ------------------------------------------------------------------

_BUCKETED_CLEANUP_DONE: set = set()


def _register_bucketed_cleanup(spark, table_names, dirs) -> None:
    """atexit cleanup for _bucketed_member's per-pid state: DROP the
    catalog tables and rm the tagged /tmp dirs when the process exits,
    so abandoned pids don't accumulate /tmp state across driver/bench/
    pytest runs (round-6 ADVICE). Reruns within one process overwrite
    the same tag, so registering once per tag is enough."""
    import atexit
    import shutil

    key = tuple(dirs)
    if key in _BUCKETED_CLEANUP_DONE:
        return
    _BUCKETED_CLEANUP_DONE.add(key)

    def _cleanup():
        for t in table_names:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass  # session may already be stopped at exit
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)

    atexit.register(_cleanup)


def _bucketed_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located storage gate (table.save_bucketed): events
    and its per-user rollup are both written bucketed on user_id, and
    the flag column (s2, q55/q29-floor pattern) is 1 ONLY IF the join
    of the two bucketed tables plans with ZERO hashpartitioning
    exchanges — the co-located-join property that turns recurring
    fact-fact joins into local merges at 100 TB. A bucketing break
    flips the flag and fails the driver hash; the value digests must
    simultaneously equal the raw-events oracle (inner join on the
    complete user set is row-preserving)."""
    import hashlib as _h
    import os as _os

    from timebox_spark.table import save_bucketed

    # per-(sf_dir, process) tag: reruns in one process overwrite
    # (no /tmp accumulation), while concurrent processes (bench +
    # pytest + driver) never race on the same files/table names
    tag = f"{_h.sha1(sf_dir.encode()).hexdigest()[:8]}_{_os.getpid()}"
    ev = load(spark, sf_dir, "events")
    ta = save_bucketed(
        ev, f"tb_bkt_events_{tag}", f"/tmp/timebox_spark_bkt_ev_{tag}",
        "user_id", 8,
    )
    per_user = ta.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    tb = save_bucketed(
        per_user, f"tb_bkt_users_{tag}", f"/tmp/timebox_spark_bkt_us_{tag}",
        "user_id", 8,
    )
    _register_bucketed_cleanup(
        spark,
        [f"tb_bkt_events_{tag}", f"tb_bkt_users_{tag}"],
        [f"/tmp/timebox_spark_bkt_ev_{tag}", f"/tmp/timebox_spark_bkt_us_{tag}"],
    )
    joined = ta.join(tb, "user_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    flag = 0 if "Exchange hashpartitioning" in plan else 1
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.sum(Q._q(F.col("value"), 6)).alias("s1"),
    ).select(
        F.lit("bucketed").alias("chk"),
        "n_rows",
        "ts_min",
        "ts_max",
        "s1",
        F.lit(flag).cast("long").alias("s2"),
        _lit0().alias("s3"),
    )


# Synthetic-but-messy URL per document (round 14 — the documents table
# carries no URL column, so the URL members derive one deterministically
# from doc_id, the q30-multimodal convention): ONE SQL string valid in
# BOTH engines (Spark F.expr and DuckDB inline), exercising every
# canonicalization rule — mixed-case scheme/host, leading WWW., default
# vs explicit ports, trailing slashes, utm_/gclid/ref tracking params
# (varying per doc so RAW urls are distinct while canonical urls
# collide), fragments, and two blocklisted domains.
_SYNTH_URL_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END || '://' || "
    "CASE WHEN doc_id % 10 = 7 THEN 'Tracker.SPAM77.com' "
    "WHEN doc_id % 10 = 8 THEN 'x.ADS3.net' "
    "ELSE CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END || 'news-' || "
    "CAST(doc_id % 4 AS STRING) || '.ExAmple.COM' END || "
    "CASE WHEN doc_id % 5 = 0 THEN "
    "CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END "
    "WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END || "
    "'/Stories/item-' || CAST(doc_id % 30 AS STRING) || "
    "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END || "
    "'?utm_source=feed' || CAST(doc_id % 13 AS STRING) || "
    "CASE WHEN doc_id % 6 = 0 THEN '&gclid=G' || CAST(doc_id AS STRING) "
    "ELSE '' END || "
    "'&page=' || CAST(doc_id % 2 AS STRING) || "
    "CASE WHEN doc_id % 6 = 1 THEN '&ref=tw' ELSE '' END || "
    "CASE WHEN doc_id % 3 = 1 THEN '#sec-' || CAST(doc_id AS STRING) "
    "ELSE '' END"
)
_URL_BLOCKLIST = ("spam77.com", "ads3.net")

# Domain-rank gate member (round-15 verdict task 2): a second, wider
# synthetic URL space — 17 domains, each doc linking out to one of 7
# receiver domains ((doc_id % 29) % 7, skewed toward site0) so
# PageRank separates linked domains (~2e9 ticks) from teleport-only
# ones (1.5e8) and the gate threshold splits them decisively. ONE SQL
# string per URL, valid in both engines (the _SYNTH_URL_SQL rule).
_RANK_URL_SQL = (
    "'http://WWW.Site' || CAST(doc_id % 17 AS STRING) || "
    "'.COM/p/' || CAST(doc_id AS STRING)"
)
_RANK_OUT_SQL = (
    "'https://site' || CAST((doc_id % 29) % 7 AS STRING) || '.com/x'"
)
_RANK_ITERS = 4
_RANK_MIN = 1_000_000_000  # between teleport-only (~1.5e8) and linked (~2e9)


def _rank_gate_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'rank_gate' rows of the q54 suite: `pipeline.curate` with the
    domain-rank gate — the full graph tier (synth URLs → registrable
    domains → multigraph edges → exact integer PageRank → rank gate
    inside the curate filter stage). One row per kept doc (membership
    + quality_q/n_tokens/split all driver-hashed). The rank table is
    O(domains)=17 rows, so it is collected once and the pagerank
    checkpoints unpersisted before the lazy suite plan leaves this
    function (the q31 bounded-collect convention)."""
    from timebox_spark.operators import graphs as G
    from timebox_spark.operators import pipeline
    from timebox_spark.operators import urls as U
    from timebox_spark.operators.dedup import unpersist_owned

    docs = (
        load(spark, sf_dir, "documents")
        .withColumn("url", F.expr(_RANK_URL_SQL))
        .withColumn("out_url", F.expr(_RANK_OUT_SQL))
    )
    edges = docs.select(
        U.registrable_domain(U.url_host("url")).alias("src"),
        U.registrable_domain(U.url_host("out_url")).alias("dst"),
    )
    owned: list = []
    try:
        rank_rows = G.pagerank(
            edges, iterations=_RANK_ITERS, owned_rdds=owned
        ).collect()
    finally:
        unpersist_owned(owned)
    ranks = spark.createDataFrame(rank_rows, "node string, rank long")
    curated = pipeline.curate(
        docs.select("doc_id", "text", "url"),
        url_col="url",
        rank_gate=(ranks, _RANK_MIN),
        langs=("en",),
        min_quality_q=LQ._CURATE_MIN_Q,
        min_tokens=LQ._CURATE_MIN_TOKENS,
        gopher_gates=True,
    )
    return curated.select(
        "doc_id",
        F.lit("rank_gate").alias("lang_pred"),
        "quality_q",
        "n_tokens",
        "split",
    )


# Soft-dedup curate stage (round 16): planted EXACT copies —
# doc_id % 10 == 4 docs re-emitted at +8M ids with identical text, so
# each copy forms a size-2 normalized-fp group with its source and
# both members carry weight_q = QUANT div 2; unique gated docs carry
# full weight. The testdata has no natural exact dups at sf0.01
# (500/500 distinct norms measured), so without planting the member
# would vacuously pin all-1e9 weights.
_SOFT_OFFSET = 8_000_000


def _soft_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'soft' rows of the q54 suite: ``pipeline.curate(
    soft_dedup=True)`` over the planted-copy union — every gated doc
    kept (no keep-one drop), its exact integer duplicate weight
    surfaced in the quality_q slot, split assigned per-doc as usual.
    Gates the in-pipeline reweight-don't-discard exact stage
    (dedup.DUP_WEIGHT_QUANT div fp-group-size) end to end."""
    from timebox_spark.operators import pipeline

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 10 == 4).select(
        (F.col("doc_id") + _SOFT_OFFSET).alias("doc_id"), "text"
    )
    curated = pipeline.curate(
        docs.unionByName(planted),
        langs=("en",),
        min_quality_q=LQ._CURATE_MIN_Q,
        min_tokens=LQ._CURATE_MIN_TOKENS,
        gopher_gates=True,
        soft_dedup=True,
    )
    return curated.select(
        "doc_id",
        F.lit("soft").alias("lang_pred"),
        F.col("weight_q").alias("quality_q"),
        "n_tokens",
        "split",
    )


def _soft_member_sql() -> str:
    """Oracle for the 'soft' member: the q54 annotate/gate SQL over
    the planted-copy union, weight = QUANT // count() over the
    normalized-fp partition among KEPT rows (the same post-gate
    position curate computes it), every kept row emitted."""
    from timebox_spark.operators import dedup as D

    psrc = (
        "SELECT doc_id, text FROM documents UNION ALL "
        f"SELECT doc_id + {_SOFT_OFFSET} AS doc_id, text "
        "FROM documents WHERE doc_id % 10 = 4"
    )
    ann = LQ._lang_pred_sql(
        extra_cols=(
            f"{LQ._quality_sql()} AS quality_q, "
            f"{LQ._NTOK_SQL} AS n_tokens, "
            f"md5({LQ._NORM}) AS fp, "
            f"{LQ._gopher_inline_sql()} AS gopher"
        ),
        src="psrc",
    )
    return f"""
SELECT doc_id, 'soft' AS lang_pred,
       CAST({D.DUP_WEIGHT_QUANT} // cnt AS BIGINT) AS quality_q,
       n_tokens,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
FROM (
  WITH psrc AS ({psrc}),
  ann AS ({ann}),
  kept AS (
    SELECT * FROM ann
    WHERE lang_pred IN ('en') AND quality_q >= {LQ._CURATE_MIN_Q}
      AND n_tokens >= {LQ._CURATE_MIN_TOKENS} AND gopher = 1
  )
  SELECT doc_id, n_tokens,
         count(*) OVER (PARTITION BY fp) AS cnt,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS bucket
  FROM kept
)
"""


def _rank_gate_sql() -> str:
    """Oracle for the 'rank_gate' member: the q54 curate SQL with the
    rank predicate injected into its `kept` stage (the same pre-dedup
    position `pipeline.curate` applies the gate), ranks re-derived by
    `duckdb_pagerank_sql` over edges rendered from the SAME URL/domain
    constants — domain extraction via the shared canonicalization
    renderers, so the node space is pinned bit-for-bit."""
    from timebox_spark.operators import graphs as G
    from timebox_spark.operators import urls as U

    dom_src = U.duckdb_registrable_domain_sql(
        U.duckdb_canonical_host_sql(f"({_RANK_URL_SQL})")
    )
    dom_dst = U.duckdb_registrable_domain_sql(
        U.duckdb_canonical_host_sql(f"({_RANK_OUT_SQL})")
    )
    edges_sql = (
        f"SELECT {dom_src} AS src, {dom_dst} AS dst FROM documents"
    )
    ranks_sql = G.duckdb_pagerank_sql(edges_sql, iterations=_RANK_ITERS)
    pred = (
        f" AND {dom_src} IN (SELECT node FROM ({ranks_sql}) "
        f"WHERE rank >= {_RANK_MIN})"
    )
    inner = LQ._q54_sql(extra_kept_pred=pred)
    return (
        f"SELECT doc_id, 'rank_gate' AS lang_pred, quality_q, "
        f"n_tokens, split FROM ({inner})"
    )


# One-call near-dup curate stage (round-16, verdict task 1): planted
# near-copies — doc_id % 10 == 3 sources re-emitted at +9M ids with a
# short suffix appended, so the copy shares ~all shingles with its
# source (Jaccard ≫ threshold on any non-trivial text) — run through
# `pipeline.curate(near_dup_threshold=...)` end to end. The planted
# copy survives every gate its source survives (the suffix barely
# moves the quality/gopher features) and exact dedup (different
# text), so it reaches the near stage and is dropped there by
# keep-min-id — the member's driver hash pins gate → exact dedup →
# banded LSH → exact-Jaccard verify → connected components →
# keep-one → split as ONE composition.
_NEAR_SUFFIX = " " + " ".join(f"nq{i}" for i in range(12))
_NEAR_THRESHOLD = 0.5
_NEAR_OFFSET = 9_000_000


def _near_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'near' rows of the q54 suite: the one-call curate with the
    near-dup stage on (the md5 hash family, so the oracle recomputes
    signatures/banding/verify bit-for-bit)."""
    from timebox_spark.operators import pipeline

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + _NEAR_OFFSET).alias("doc_id"),
        F.concat("text", F.lit(_NEAR_SUFFIX)).alias("text"),
    )
    curated = pipeline.curate(
        docs.unionByName(planted),
        langs=("en",),
        min_quality_q=LQ._CURATE_MIN_Q,
        min_tokens=LQ._CURATE_MIN_TOKENS,
        gopher_gates=True,
        near_dup_threshold=_NEAR_THRESHOLD,
        near_dup_kwargs=dict(
            num_perm=_MH_NUM_PERM,
            bands=_MH_BANDS,
            shingle_n=LQ._J_SHINGLE_N,
        ),
    )
    return curated.select(
        "doc_id",
        F.lit("near").alias("lang_pred"),
        "quality_q",
        "n_tokens",
        "split",
    )


def _near_member_sql() -> str:
    """Oracle for the 'near' member: the q54 annotate/gate/exact-dedup
    SQL over the planted-copy union, then the q25 portable-minhash
    CTE block (`_mh_ctes`) over the exact survivors, exact-Jaccard
    verify at the member threshold, min-label connected components as
    a RECURSIVE reach CTE (the q31 pattern), and keep-min-id before
    the split. Recursion inputs are AS MATERIALIZED per the CLAUDE.md
    rule (DuckDB would otherwise re-evaluate the whole minhash chain
    per recursion step)."""
    psrc = (
        "SELECT doc_id, text FROM documents UNION ALL "
        f"SELECT doc_id + {_NEAR_OFFSET} AS doc_id, "
        f"text || '{_NEAR_SUFFIX}' AS text "
        "FROM documents WHERE doc_id % 10 = 3"
    )
    ann = LQ._lang_pred_sql(
        extra_cols=(
            f"{LQ._quality_sql()} AS quality_q, "
            f"{LQ._NTOK_SQL} AS n_tokens, "
            f"md5({LQ._NORM}) AS fp, "
            f"{LQ._gopher_inline_sql()} AS gopher"
        ),
        src="psrc",
    )
    return f"""
SELECT doc_id, 'near' AS lang_pred, quality_q, n_tokens,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
FROM (
  WITH RECURSIVE
  psrc AS MATERIALIZED ({psrc}),
  ann AS ({ann}),
  kept AS (
    SELECT * FROM ann
    WHERE lang_pred IN ('en') AND quality_q >= {LQ._CURATE_MIN_Q}
      AND n_tokens >= {LQ._CURATE_MIN_TOKENS} AND gopher = 1
  ),
  ded AS (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM kept
  ),
  surv AS MATERIALIZED (
    SELECT p.doc_id, p.text FROM psrc p
    JOIN (SELECT doc_id FROM ded WHERE rn = 1) s USING (doc_id)
  ),
  {_mh_ctes('surv', 'n')},
  ncand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM nbanded a JOIN nbanded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  ),
  npairs AS MATERIALIZED (
    SELECT c.id_a, c.id_b
    FROM ncand c JOIN nd da ON da.doc_id = c.id_a
                JOIN nd db ON db.doc_id = c.id_b
    WHERE {_MH_JAC} >= {_NEAR_THRESHOLD}
  ),
  nedges AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM npairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM npairs
  ),
  nreach AS (
    SELECT src AS node, src AS lbl FROM nedges
    UNION
    SELECT e.dst AS node, r.lbl FROM nreach r JOIN nedges e ON e.src = r.node
  ),
  ndropped AS (
    SELECT node FROM (
      SELECT node, min(lbl) AS canonical_id FROM nreach GROUP BY node
    ) WHERE canonical_id < node
  )
  SELECT d.*,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
  FROM ded d
  WHERE d.rn = 1
    AND d.doc_id NOT IN (SELECT node FROM ndropped)
)
"""


# PSL eTLD+1 member (round 16): synthetic hosts exercising every rule
# class of the PSL matcher — multi-label exact suffixes, a wildcard
# (*.ck), an exception (!www.ck), a 4-label wildcard
# (*.compute.amazonaws.com, longest-match over the 2-label exact
# amazonaws.com), the default rule (unknown TLD), a private-registry
# suffix, and a host that IS a public suffix. ONE SQL string valid in
# both engines (the _SYNTH_URL_SQL rule).
_PSL_HOST_SQL = (
    "CASE CAST(doc_id % 8 AS INT) "
    "WHEN 0 THEN 'a' || CAST(doc_id AS STRING) || '.example.co.uk' "
    "WHEN 1 THEN 'shop.site' || CAST(doc_id AS STRING) || '.com.au' "
    "WHEN 2 THEN 'x' || CAST(doc_id AS STRING) || '.y.ck' "
    "WHEN 3 THEN 'b' || CAST(doc_id AS STRING) || '.www.ck' "
    "WHEN 4 THEN 'host' || CAST(doc_id AS STRING) || '.unknowntld' "
    "WHEN 5 THEN 'user' || CAST(doc_id AS STRING) || '.github.io' "
    "WHEN 6 THEN 'deep.a.b' || CAST(doc_id AS STRING) "
    "|| '.compute.amazonaws.com' "
    "ELSE 'co.uk' END"
)


def _psl_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'psl' rows of the q54 suite: per doc, the md5-u32 digest +
    length of the PSL eTLD+1 (`urls.registrable_domain_psl`, compact
    rule set) of a synthetic host — the oracle re-derives the domain
    through `urls.duckdb_registrable_domain_psl_sql`, rendered from
    the SAME parsed rule groups, so rule precedence (longest match,
    wildcard one-label, exception-wins) is pinned bit-for-bit."""
    from timebox_spark.operators import urls as U
    from timebox_spark.operators.dedup import _md5_u32

    raw = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("host", F.expr(_PSL_HOST_SQL))
    )
    dom = U.registrable_domain_psl("host")
    return raw.select(
        "doc_id",
        F.lit("psl").alias("lang_pred"),
        _md5_u32(dom).alias("quality_q"),
        F.length(dom).cast("long").alias("n_tokens"),
        F.lit("url").alias("split"),
    )


def _psl_member_sql() -> str:
    from timebox_spark.operators import urls as U

    inner = U.duckdb_registrable_domain_psl_sql(
        f"SELECT doc_id, {_PSL_HOST_SQL} AS host FROM documents",
        "host",
        out_col="dom",
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, 'psl' AS lang_pred,
       ('0x' || substr(md5(dom), 1, 8))::BIGINT AS quality_q,
       CAST(length(dom) AS BIGINT) AS n_tokens, 'url' AS split
FROM ({inner})
"""


def _url_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-curation members of the q54 suite (operators/urls.py):

    - 'url_canon' rows: per doc, the md5-u32 digest + length of the
      CANONICAL url — pins the exact canonical string per doc against
      the oracle's independently-rendered canonicalization;
    - 'url_dedup' rows: one per canonical-url group (kept = smallest
      doc_id, n_tokens = group size) — raw urls are all distinct by
      construction, so any dedup here is canonicalization working;
    - 'url_block:*' rows: per-blocklisted-domain doc counts plus the
      kept count after `domain_blocklist_filter`."""
    from timebox_spark.operators import urls as U
    from timebox_spark.operators.dedup import _md5_u32

    raw = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("url", F.expr(_SYNTH_URL_SQL))
    )
    curl = U.canonicalize_url("url")
    m1 = raw.select(
        F.col("doc_id"),
        F.lit("url_canon").alias("lang_pred"),
        _md5_u32(curl).alias("quality_q"),
        F.length(curl).cast("long").alias("n_tokens"),
        F.lit("url").alias("split"),
    )
    kept = U.url_dedup(raw, "url", "doc_id")
    m2 = kept.select(
        F.col("doc_id"),
        F.lit("url_dedup").alias("lang_pred"),
        _md5_u32(F.col("canonical_url")).alias("quality_q"),
        F.col("n_dups").cast("long").alias("n_tokens"),
        F.lit("url").alias("split"),
    )
    dom = U.registrable_domain(U.url_host("url"))
    m3 = (
        raw.withColumn("__dom", dom)
        .filter(F.col("__dom").isin(list(_URL_BLOCKLIST)))
        .groupBy("__dom")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(-2000).cast("long").alias("doc_id"),
            F.concat(F.lit("url_block:"), F.col("__dom")).alias("lang_pred"),
            F.col("n").cast("long").alias("quality_q"),
            F.lit(0).cast("long").alias("n_tokens"),
            F.lit("url").alias("split"),
        )
    )
    m4 = (
        U.domain_blocklist_filter(raw, "url", _URL_BLOCKLIST)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(-2000).cast("long").alias("doc_id"),
            F.lit("url_block:kept").alias("lang_pred"),
            F.col("n").cast("long").alias("quality_q"),
            F.lit(0).cast("long").alias("n_tokens"),
            F.lit("url").alias("split"),
        )
    )
    return m1.unionByName(m2).unionByName(m3).unionByName(m4)


def _url_members_sql() -> str:
    """DuckDB oracle for the URL members — the canonicalization SQL is
    RENDERED from the same regex constants the Spark operators use
    (urls.duckdb_canonical_sql), so the comparison is bit-for-bit."""
    from timebox_spark.operators import urls as U

    canon = U.duckdb_canonical_sql("url")
    host = U.duckdb_canonical_host_sql("url")
    dom = U.duckdb_registrable_domain_sql("host")
    bl = ", ".join(f"'{b}'" for b in _URL_BLOCKLIST)
    return f"""
SELECT * FROM (
WITH u AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
c AS (SELECT doc_id, {canon} AS curl, {host} AS host FROM u),
d AS (SELECT doc_id, curl, {dom} AS dom FROM c)
SELECT CAST(doc_id AS BIGINT) AS doc_id, 'url_canon' AS lang_pred,
       ('0x' || substr(md5(curl), 1, 8))::BIGINT AS quality_q,
       CAST(length(curl) AS BIGINT) AS n_tokens, 'url' AS split
FROM d
UNION ALL
SELECT CAST(min(doc_id) AS BIGINT), 'url_dedup',
       ('0x' || substr(md5(curl), 1, 8))::BIGINT,
       CAST(count(*) AS BIGINT), 'url'
FROM d GROUP BY curl
UNION ALL
SELECT CAST(-2000 AS BIGINT), 'url_block:' || dom,
       CAST(count(*) AS BIGINT), CAST(0 AS BIGINT), 'url'
FROM d WHERE dom IN ({bl}) GROUP BY dom
UNION ALL
SELECT CAST(-2000 AS BIGINT), 'url_block:kept',
       CAST(count(*) AS BIGINT), CAST(0 AS BIGINT), 'url'
FROM d WHERE dom NOT IN ({bl})
)
"""


def q54_curation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q54 curated-corpus rows + two promoted compositions (round-6
    verdict task 7):

    - ``shards_manifest`` rows (doc_id = −(shard+1)): the one-call
      ``pipeline.curate_to_shards`` export — curate, keep train,
      redact, write one sorted parquet file per shard — whose
      returned manifest (rows + overflow-safe permutation digest per
      shard, recomputed from a RE-READ of the written files) must
      equal the oracle's digest over the train split it derives
      independently. A wrong shard assignment, a dropped row, or a
      reordered export breaks the hash.
    - ``card`` rows (doc_id = −1000): the ``pipeline.data_card``
      datasheet — sizes, token/char totals, gate pass counts,
      language/source mix, exact-dup rows — every value re-derived by
      the oracle from the raw table.

    Plus the round-14 URL members, the round-15 'rank_gate' member,
    and the round-16 'near' / 'psl' / 'soft' members (the one-call
    near-dup curate stage over planted near-copies, the PSL eTLD+1
    matcher, and the soft-dedup reweight-don't-discard curate stage
    over planted exact copies — see ``_near_member`` /
    ``_psl_member`` / ``_soft_member``)."""
    import hashlib as _h
    import os as _os

    from timebox_spark.operators import pipeline
    from timebox_spark.operators.sampling import SHUFFLE_SHARDS

    base = LQ.q54_curation_pipeline(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    # per-(sf_dir, pid) tag + exit cleanup: reruns overwrite,
    # concurrent processes never race (CLAUDE.md state-tag rule)
    tag = f"{_h.sha1(sf_dir.encode()).hexdigest()[:8]}_{_os.getpid()}"
    shard_dir = f"/tmp/timebox_spark_q54_shards_{tag}"
    manifest = pipeline.curate_to_shards(
        docs,
        shard_dir,
        n_shards=SHUFFLE_SHARDS,
        langs=("en",),
        min_quality_q=LQ._CURATE_MIN_Q,
        min_tokens=LQ._CURATE_MIN_TOKENS,
        gopher_gates=True,
    )
    _register_bucketed_cleanup(spark, [], [shard_dir])
    man_rows = manifest.select(
        (-(F.col("shard").cast("long") + 1)).alias("doc_id"),
        F.lit("shards_manifest").alias("lang_pred"),
        F.col("order_digest").cast("long").alias("quality_q"),
        F.col("n_rows").cast("long").alias("n_tokens"),
        F.lit("manifest").alias("split"),
    )
    card = pipeline.data_card(docs).select(
        F.lit(-1000).cast("long").alias("doc_id"),
        F.concat_ws(":", "section", "key").alias("lang_pred"),
        F.col("value").cast("long").alias("quality_q"),
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit("card").alias("split"),
    )
    return (
        base.unionByName(man_rows)
        .unionByName(card)
        # round 14: URL canonicalization / dedup / blocklist members
        .unionByName(_url_members(spark, sf_dir))
        # round 15: domain-rank gate through pipeline.curate
        .unionByName(_rank_gate_member(spark, sf_dir))
        # round 16: one-call near-dup curate stage
        .unionByName(_near_member(spark, sf_dir))
        # round 16: PSL eTLD+1 matcher, oracle-rendered rule groups
        .unionByName(_psl_member(spark, sf_dir))
        # round 16: soft-dedup (reweight-don't-discard) curate stage
        .unionByName(_soft_member(spark, sf_dir))
    )


def _q54_manifest_sql() -> str:
    """Independent oracle for the curate_to_shards manifest: re-derive
    the curated train ids (the q54 SQL), assign shards with the same
    seeded md5 hash, rank within shard by (h, doc_id), and compute the
    identical per-term-quantized permutation digest."""
    from timebox_spark.operators.sampling import SHUFFLE_SEED, SHUFFLE_SHARDS

    p, q = LQ._DIGEST_P, LQ._DIGEST_Q
    return f"""
SELECT CAST(-(shard + 1) AS BIGINT) AS doc_id,
       'shards_manifest' AS lang_pred,
       CAST(sum((did % {p}) * (pos % {p}) % {q}) AS BIGINT) AS quality_q,
       CAST(count(*) AS BIGINT) AS n_tokens,
       'manifest' AS split
FROM (
  SELECT did, h % {SHUFFLE_SHARDS} AS shard,
         row_number() OVER (PARTITION BY h % {SHUFFLE_SHARDS}
                            ORDER BY h, did) AS pos
  FROM (
    SELECT doc_id AS did,
           ('0x' || substr(md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM ({LQ.ORACLE_SQL['q54_curation_pipeline']})
    WHERE split = 'train'
  )
) GROUP BY shard
"""


def _q54_card_sql() -> str:
    """Independent oracle for the data_card datasheet rows."""
    gopher = LQ._gopher_inline_sql()
    quality = LQ._quality_sql()
    minq = LQ._CURATE_MIN_Q
    row = (
        "SELECT CAST(-1000 AS BIGINT) AS doc_id, {k} AS lang_pred, "
        "CAST({v} AS BIGINT) AS quality_q, CAST(0 AS BIGINT) AS n_tokens, "
        "'card' AS split FROM documents{tail}"
    )
    return "\nUNION ALL\n".join(
        [
            row.format(k="'size:docs'", v="count(*)", tail=""),
            row.format(k="'size:tokens'", v=f"sum({LQ._NTOK_SQL})", tail=""),
            row.format(k="'size:chars'", v="sum(length(text))", tail=""),
            row.format(k="'size:gopher_pass'", v=f"sum({gopher})", tail=""),
            row.format(
                k="'size:quality_pass'",
                v=f"sum(CASE WHEN {quality} >= {minq} THEN 1 ELSE 0 END)",
                tail="",
            ),
            row.format(k="'lang:' || lang", v="count(*)", tail=" GROUP BY lang"),
            row.format(
                k="'source:' || source", v="count(*)", tail=" GROUP BY source"
            ),
            row.format(
                k="'dedup:exact_dup_rows'",
                v=f"count(*) - count(DISTINCT md5({LQ._NORM}))",
                tail="",
            ),
        ]
    )


_Q54_SUITE_SQL = f"""
SELECT * FROM ({LQ.ORACLE_SQL['q54_curation_pipeline']})
UNION ALL
SELECT * FROM ({_q54_manifest_sql()})
UNION ALL
{_q54_card_sql()}
UNION ALL
{_url_members_sql()}
UNION ALL
{_rank_gate_sql()}
UNION ALL
{_near_member_sql()}
UNION ALL
{_psl_member_sql()}
UNION ALL
{_soft_member_sql()}
"""


def _jsonl_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus sink/source round trip (sources/jsonl.py): write
    the documents table as line-delimited JSON, read it back with an
    explicit schema, and digest — s3 is a per-doc md5-based digest of
    the text column, so any JSON-escaping corruption (newlines,
    quotes, unicode) between write and read breaks the driver hash.
    The oracle computes the same digests from the raw parquet table:
    round trip must be lossless."""
    import hashlib as _h
    import os as _os

    from timebox_spark.sources import jsonl

    tag = f"{_h.sha1(sf_dir.encode()).hexdigest()[:8]}_{_os.getpid()}"
    path = f"/tmp/timebox_spark_jsonl_{tag}"
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    jsonl.write_jsonl(docs, path)
    _register_bucketed_cleanup(spark, [], [path])
    back = jsonl.read_jsonl(spark, path, docs.schema)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("s1"),
        F.sum(F.length("text").cast("long")).alias("s2"),
        F.sum(
            F.conv(
                F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 8),
                16,
                10,
            ).cast("long")
        ).alias("s3"),
    ).select(
        F.lit("jsonl").alias("chk"),
        "n_rows",
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("ts_min"),
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("ts_max"),
        "s1",
        "s2",
        "s3",
    )


def _warc_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-format round trip (sources/warc.py): write the
    documents table as WARC/1.0 response records, read it back with
    the Content-Length record walker, and digest — s1 re-sums the
    doc ids RECOVERED FROM THE Target-URI headers and s3 is a per-doc
    md5-based digest of the payload, so a framing error (octet count,
    header drift, separator-scanning shortcuts) breaks the driver
    hash. Oracle: the same digests from the raw parquet table."""
    import hashlib as _h
    import os as _os

    from timebox_spark.sources import warc

    tag = f"{_h.sha1(sf_dir.encode()).hexdigest()[:8]}_{_os.getpid()}"
    path = f"/tmp/timebox_spark_warc_{tag}"
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    warc.write_warc(docs, path)
    _register_bucketed_cleanup(spark, [], [path])
    back = warc.read_warc(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("s1"),
        F.sum(F.length("text").cast("long")).alias("s2"),
        F.sum(
            F.conv(
                F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 8),
                16,
                10,
            ).cast("long")
        ).alias("s3"),
    ).select(
        F.lit("warc").alias("chk"),
        "n_rows",
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("ts_min"),
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("ts_max"),
        "s1",
        "s2",
        "s3",
    )


def _warc_gz_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-member WARC round trip (round-8 verdict task 5): write
    the documents table as a ``.warc.gz`` shard set — one gzip member
    PER RECORD, the Common Crawl layout — and read it back through
    the member walker + Content-Length framing. Same digests as the
    plain 'warc' member, so a member-boundary bug (concatenated
    members decoded as one, a lost record at a boundary, non-
    deterministic compression) breaks the driver hash against the
    raw-parquet oracle."""
    import hashlib as _h
    import os as _os

    from timebox_spark.sources import warc

    tag = f"{_h.sha1(sf_dir.encode()).hexdigest()[:8]}_{_os.getpid()}"
    path = f"/tmp/timebox_spark_warcgz_{tag}"
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    warc.write_warc(docs, path, compress=True)
    _register_bucketed_cleanup(spark, [], [path])
    back = warc.read_warc(spark, path, on_error="raise")
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("s1"),
        F.sum(F.length("text").cast("long")).alias("s2"),
        F.sum(
            F.conv(
                F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 8),
                16,
                10,
            ).cast("long")
        ).alias("s3"),
    ).select(
        F.lit("warc_gz").alias("chk"),
        "n_rows",
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("ts_min"),
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("ts_max"),
        "s1",
        "s2",
        "s3",
    )


def q01_io_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet round-trip, pandas bridge, CSV round-trip digests +
    the bucketed co-located-join storage gate."""
    a = Q.q01_roundtrip(spark, sf_dir).select(
        F.lit("parquet").alias("chk"),
        "n_rows",
        "ts_min",
        "ts_max",
        F.col("value_q_sum").alias("s1"),
        _lit0().alias("s2"),
        _lit0().alias("s3"),
    )
    b = Q.q02_pandas_bridge(spark, sf_dir).select(
        F.lit("pandas").alias("chk"),
        "n_rows",
        "ts_min",
        "ts_max",
        F.col("value_q_sum").alias("s1"),
        F.col("event_id_sum").alias("s2"),
        F.col("user_id_sum").alias("s3"),
    )
    c = Q.q03_csv_roundtrip(spark, sf_dir).select(
        F.lit("csv").alias("chk"),
        "n_rows",
        "ts_min",
        "ts_max",
        F.col("value_q_sum").alias("s1"),
        F.col("event_id_sum").alias("s2"),
        F.col("n_types").alias("s3"),
    )
    return (
        a.unionByName(b)
        .unionByName(c)
        .unionByName(_bucketed_member(spark, sf_dir))
        .unionByName(_jsonl_member(spark, sf_dir))
        .unionByName(_warc_member(spark, sf_dir))
        .unionByName(_warc_gz_member(spark, sf_dir))
    )


_Q01_SUITE_SQL = f"""
SELECT 'parquet' AS chk, n_rows, ts_min, ts_max, value_q_sum AS s1,
       CAST(0 AS BIGINT) AS s2, CAST(0 AS BIGINT) AS s3
FROM ({Q.ORACLE_SQL['q01_roundtrip']})
UNION ALL
SELECT 'pandas', n_rows, ts_min, ts_max, value_q_sum, event_id_sum, user_id_sum
FROM ({Q.ORACLE_SQL['q02_pandas_bridge']})
UNION ALL
SELECT 'csv', n_rows, ts_min, ts_max, value_q_sum, event_id_sum, n_types
FROM ({Q.ORACLE_SQL['q03_csv_roundtrip']})
UNION ALL
SELECT 'bucketed', n_rows, ts_min, ts_max, value_q_sum,
       CAST(1 AS BIGINT), CAST(0 AS BIGINT)
FROM ({Q.ORACLE_SQL['q01_roundtrip']})
UNION ALL
SELECT 'jsonl', CAST(count(*) AS BIGINT),
       TIMESTAMP '1970-01-01 00:00:00', TIMESTAMP '1970-01-01 00:00:00',
       CAST(sum(doc_id) AS BIGINT),
       CAST(sum(length(text)) AS BIGINT),
       CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
FROM documents
UNION ALL
SELECT 'warc', CAST(count(*) AS BIGINT),
       TIMESTAMP '1970-01-01 00:00:00', TIMESTAMP '1970-01-01 00:00:00',
       CAST(sum(doc_id) AS BIGINT),
       CAST(sum(length(text)) AS BIGINT),
       CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
FROM documents
UNION ALL
SELECT 'warc_gz', CAST(count(*) AS BIGINT),
       TIMESTAMP '1970-01-01 00:00:00', TIMESTAMP '1970-01-01 00:00:00',
       CAST(sum(doc_id) AS BIGINT),
       CAST(sum(length(text)) AS BIGINT),
       CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
FROM documents
"""


def q04_validation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotonicity violations + index extremes as one digest table."""
    mono = Q.q04_monotonic(spark, sf_dir).select(
        F.lit("monotonic").alias("chk"),
        F.col("n_violations_raw").alias("v1"),
        F.col("n_violations_sorted").alias("v2"),
        _lit0().alias("v3"),
        _lit0().alias("v4"),
    )
    ext = Q.q05_extremes(spark, sf_dir).select(
        F.lit("extremes").alias("chk"),
        F.unix_micros("odate_min").alias("v1"),
        F.unix_micros("odate_max").alias("v2"),
        F.col("price_min_q").alias("v3"),
        F.col("price_max_q").alias("v4"),
    )
    return mono.unionByName(ext)


_Q04_SUITE_SQL = f"""
SELECT 'monotonic' AS chk, n_violations_raw AS v1, n_violations_sorted AS v2,
       CAST(0 AS BIGINT) AS v3, CAST(0 AS BIGINT) AS v4
FROM ({Q.ORACLE_SQL['q04_monotonic']})
UNION ALL
SELECT 'extremes', epoch_us(odate_min), epoch_us(odate_max), price_min_q, price_max_q
FROM ({Q.ORACLE_SQL['q05_extremes']})
"""


def q06_codec_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta/prefix-sum, frame-of-reference, quantize, float-downcast
    codecs in one digest table (reference numpy_utils.py semantics)."""
    delta = Q.q06_delta_reconstruct(spark, sf_dir).select(
        F.lit("delta").alias("chk"),
        F.col("event_type").alias("k"),
        "n",
        F.col("n_exact").alias("v1"),
        _lit0().alias("v2"),
    )
    for_ = Q.q07_frame_of_reference(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qty_for_q").alias("v1"),
        F.max("qty_for_q").alias("v2"),
    ).select(F.lit("for").alias("chk"), F.lit("").alias("k"), "n", "v1", "v2")
    quant = Q.q08_quantize(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_q").alias("v1"),
        F.sum(
            F.when(
                F.round(F.col("price_dq") * 100).cast("long") == F.col("price_q"), 1
            ).otherwise(0)
        ).alias("v2"),
    ).select(F.lit("quantize").alias("chk"), F.lit("").alias("k"), "n", "v1", "v2")
    down = Q.q09_float_downcast(spark, sf_dir).select(
        F.lit("downcast").alias("chk"),
        F.lit("").alias("k"),
        F.col("n_rows").alias("n"),
        F.col("n_exact_f32").alias("v1"),
        F.col("n_exact_f16").alias("v2"),
    )
    return delta.unionByName(for_).unionByName(quant).unionByName(down)


_Q06_SUITE_SQL = f"""
SELECT 'delta' AS chk, event_type AS k, n, n_exact AS v1, CAST(0 AS BIGINT) AS v2
FROM ({Q.ORACLE_SQL['q06_delta_reconstruct']})
UNION ALL
SELECT 'for', '', CAST(count(*) AS BIGINT),
       CAST(sum(qty_for_q) AS BIGINT), CAST(max(qty_for_q) AS BIGINT)
FROM ({Q.ORACLE_SQL['q07_frame_of_reference']})
UNION ALL
SELECT 'quantize', '', CAST(count(*) AS BIGINT), CAST(sum(price_q) AS BIGINT),
       CAST(sum(CASE WHEN CAST(round(price_dq * 100) AS BIGINT) = price_q
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM ({Q.ORACLE_SQL['q08_quantize']})
UNION ALL
SELECT 'downcast', '', n_rows, n_exact_f32, n_exact_f16
FROM ({Q.ORACLE_SQL['q09_float_downcast']})
"""


# ------------------------------------------------------------------
# Relational suites
# ------------------------------------------------------------------

def q32_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + CUBE grouping sets in one table."""
    r = Q.q32_rollup(spark, sf_dir).select(
        F.lit("rollup").alias("setkind"),
        "l_returnflag",
        "l_linestatus",
        "n",
        F.col("qty_q").alias("agg_q"),
        "gid",
    )
    c = Q.q48_cube(spark, sf_dir).select(
        F.lit("cube").alias("setkind"),
        "l_returnflag",
        "l_linestatus",
        "n",
        F.col("price_q").alias("agg_q"),
        "gid",
    )
    return r.unionByName(c)


_Q32_SUITE_SQL = f"""
SELECT 'rollup' AS setkind, l_returnflag, l_linestatus, n, qty_q AS agg_q, gid
FROM ({Q.ORACLE_SQL['q32_rollup']})
UNION ALL
SELECT 'cube', l_returnflag, l_linestatus, n, price_q, gid
FROM ({Q.ORACLE_SQL['q48_cube']})
"""


def q33_setops_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT counts x semi/anti-join digests."""
    return Q.q33_setops(spark, sf_dir).crossJoin(Q.q45_semi_anti(spark, sf_dir))


_Q33_SUITE_SQL = f"""
SELECT * FROM ({Q.ORACLE_SQL['q33_setops']}) CROSS JOIN ({Q.ORACLE_SQL['q45_semi_anti']})
"""


def q34_nested_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction, array kernels, map round-trip digests."""
    js = Q.q34_json(spark, sf_dir).select(
        F.lit("json").alias("chk"),
        F.col("event_type").alias("k"),
        F.col("k_sum").alias("v1"),
        F.col("k_max").alias("v2"),
        F.col("n_gt50").alias("v3"),
    )
    arr = Q.q38_array_ops(spark, sf_dir).agg(
        F.sum("norm_q").alias("v1"),
        F.sum("head_mean_q").alias("v2"),
        F.count(F.lit(1)).alias("v3"),
    ).select(F.lit("array").alias("chk"), F.lit("").alias("k"), "v1", "v2", "v3")
    mp = (
        Q.q46_map_roundtrip(spark, sf_dir)
        .groupBy(F.col("event_type").alias("k"))
        .agg(
            F.sum("n").alias("v1"),
            F.sum("n_types").alias("v2"),
            F.count(F.lit(1)).alias("v3"),
        )
        .select(F.lit("map").alias("chk"), "k", "v1", "v2", "v3")
    )
    return js.unionByName(arr).unionByName(mp)


_Q34_SUITE_SQL = f"""
SELECT 'json' AS chk, event_type AS k, k_sum AS v1, k_max AS v2, n_gt50 AS v3
FROM ({Q.ORACLE_SQL['q34_json']})
UNION ALL
SELECT 'array', '', CAST(sum(norm_q) AS BIGINT), CAST(sum(head_mean_q) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM ({Q.ORACLE_SQL['q38_array_ops']})
UNION ALL
SELECT 'map', event_type, CAST(sum(n) AS BIGINT), CAST(sum(n_types) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM ({Q.ORACLE_SQL['q46_map_roundtrip']}) GROUP BY event_type
"""


def q41_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling time-range frames + rank/offset window functions."""
    roll = (
        Q.q41_rolling(spark, sf_dir)
        .groupBy(F.col("event_type").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_1h").alias("s1"),
            F.sum("sum_q_1h").alias("s2"),
            F.max("n_1h").alias("s3"),
        )
        .select(F.lit("rolling").alias("chk"), "k", "n", "s1", "s2", "s3")
    )
    ranks = Q.q42_window_suite(spark, sf_dir)
    r1 = ranks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("next_orderkey").alias("s1"),
        F.sum("prev_orderkey").alias("s2"),
        F.sum("rnk").alias("s3"),
    ).select(F.lit("ranks_a").alias("chk"), F.lit("").alias("k"), "n", "s1", "s2", "s3")
    r2 = ranks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("drnk").alias("s1"),
        F.sum("quartile").alias("s2"),
        F.sum("cume_q").alias("s3"),
    ).select(F.lit("ranks_b").alias("chk"), F.lit("").alias("k"), "n", "s1", "s2", "s3")
    return roll.unionByName(r1).unionByName(r2)


_Q41_SUITE_SQL = f"""
SELECT 'rolling' AS chk, event_type AS k, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_1h) AS BIGINT) AS s1, CAST(sum(sum_q_1h) AS BIGINT) AS s2,
       CAST(max(n_1h) AS BIGINT) AS s3
FROM ({Q.ORACLE_SQL['q41_rolling']}) GROUP BY event_type
UNION ALL
SELECT 'ranks_a', '', CAST(count(*) AS BIGINT), CAST(sum(next_orderkey) AS BIGINT),
       CAST(sum(prev_orderkey) AS BIGINT), CAST(sum(rnk) AS BIGINT)
FROM ({Q.ORACLE_SQL['q42_window_suite']})
UNION ALL
SELECT 'ranks_b', '', CAST(count(*) AS BIGINT), CAST(sum(drnk) AS BIGINT),
       CAST(sum(quartile) AS BIGINT), CAST(sum(cume_q) AS BIGINT)
FROM ({Q.ORACLE_SQL['q42_window_suite']})
"""


def _h(col):
    """Engine-portable string digest: first 8 hex chars of md5 as a
    BIGINT (same formula on DuckDB: ('0x' || substr(md5(x),1,8))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def q43_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String, date, and conditional scalar-function suites digested
    with portable md5 content hashes."""
    s = Q.q43_string_suite(spark, sf_dir)
    string = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("name_len").alias("s1"),
        F.sum("lev_dist").alias("s2"),
        F.sum(_h(F.col("name_masked"))).alias("s3"),
        F.sum(
            _h(F.concat_ws("|", "key_padded", "name_upper", "name_head"))
        ).alias("s4"),
    ).select(F.lit("string").alias("chk"), "n", "s1", "s2", "s3", "s4")
    d = Q.q52_date_suite(spark, sf_dir)
    date = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.col("yr") + F.col("qtr") + F.col("mo") + F.col("dow") + F.col("doy")
        ).alias("s1"),
        F.sum("days_to_y2k").alias("s2"),
        F.sum("epoch_s").alias("s3"),
        F.sum(
            _h(F.concat_ws("|", "plus_30d", "month_start", "month_end"))
        ).alias("s4"),
    ).select(F.lit("date").alias("chk"), "n", "s1", "s2", "s3", "s4")
    c = Q.q53_conditional_suite(spark, sf_dir)
    cond = c.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("neg_part_q").alias("s1"),
        F.sum("pos_part_q").alias("s2"),
        F.sum("abs_mod_q").alias("s3"),
        F.sum(
            _h(
                F.concat_ws(
                    "|",
                    "tier",
                    "seg_filled",
                    F.coalesce(F.col("seg_nb"), F.lit("~")),
                    F.col("is_null_nullsafe").cast("string"),
                )
            )
        ).alias("s4"),
    ).select(F.lit("cond").alias("chk"), "n", "s1", "s2", "s3", "s4")
    return string.unionByName(date).unionByName(cond)


_HD = "('0x' || substr(md5({x}), 1, 8))::BIGINT"

_Q43_SUITE_SQL = f"""
SELECT 'string' AS chk, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(name_len) AS BIGINT) AS s1, CAST(sum(lev_dist) AS BIGINT) AS s2,
       CAST(sum({_HD.format(x='name_masked')}) AS BIGINT) AS s3,
       CAST(sum({_HD.format(x="concat_ws('|', key_padded, name_upper, name_head)")}) AS BIGINT) AS s4
FROM ({Q.ORACLE_SQL['q43_string_suite']})
UNION ALL
SELECT 'date', CAST(count(*) AS BIGINT),
       CAST(sum(yr + qtr + mo + dow + doy) AS BIGINT),
       CAST(sum(days_to_y2k) AS BIGINT), CAST(sum(epoch_s) AS BIGINT),
       CAST(sum({_HD.format(x="concat_ws('|', plus_30d, month_start, month_end)")}) AS BIGINT)
FROM ({Q.ORACLE_SQL['q52_date_suite']})
UNION ALL
SELECT 'cond', CAST(count(*) AS BIGINT),
       CAST(sum(neg_part_q) AS BIGINT), CAST(sum(pos_part_q) AS BIGINT),
       CAST(sum(abs_mod_q) AS BIGINT),
       CAST(sum({_HD.format(x="concat_ws('|', tier, seg_filled, coalesce(seg_nb, '~'), CAST(is_null_nullsafe AS VARCHAR))")}) AS BIGINT)
FROM ({Q.ORACLE_SQL['q53_conditional_suite']})
"""


# q57 count-min members (round 14): sketch events.user_id frequencies.
# Width deliberately below the distinct-user count so real collisions
# exercise the min-over-rows estimate; the probe set is a deterministic
# ~1% residue slice of users; the heavy-hitter gate uses a fixed
# min_count. All re-derived exactly by the oracle (_cms_sql) from the
# same constants + sketches.CMS_SALT hash family.
_CMS_W = 256
_CMS_D = 4
_CMS_PROBE_MOD = 97
_CMS_PROBE_RES = 3
_CMS_CAP = 40  # 'cmscap' per-user budget: half-A counts are 21-49
# at every SF (per-user event counts don't scale with SF), so 40
# blocks some users outright and truncates others — the gate binds
_CMS_HH_MIN = 10
# 'cmswt' per-user TOKEN-denominated budget (round 16): weights are
# floor(value) (integer, 0-490, never NULL in the testdata); per-user
# half sums are ~1.2-1.9k at every SF (per-user event counts are
# SF-stable), so 2500 leaves most users a partial allowance that
# truncates mid-prefix — the weighted gate binds
_CMSWT_BUDGET = 2500


def q57_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation matrix + per-series linear trend from exact moments
    + the deterministic log2-histogram quantile sketch
    (sketches.log2_histogram / histogram_quantiles): 'qhist' rows pin
    the exact per-month sketch itself, 'qest' rows pin the rank
    arithmetic, bucket selection, and guaranteed-bound estimate.

    Round 14 adds the count-min sketch family (sketches.cms_*):
    'cms' rows pin every counter cell of the user_id frequency sketch
    (built as two half-sketches MERGED with cms_merge, so the merge
    path is what the oracle checks); 'cmsq' rows pin the min-over-rows
    estimate AND the exact count per probed user (m2_q = est − true,
    the sketch's signed over-count — never negative by the CMS
    guarantee); the 'cmshh' row pins the heavy-hitter gate
    (survivor count + summed estimates at min_count).

    Round 16 adds 'cmswt' rows: the WEIGHTED sketch
    (cms_build(weight=floor(value))) driving a corpus-horizon TOKEN
    budget (sampling.token_budget_per_group(cms=...)) — per half-B
    user the admitted prefix's count, weight sum, and the weighted
    prior estimate."""
    from timebox_spark.operators import sketches as SK

    corr = Q.q57_corr_matrix(spark, sf_dir).select(
        F.lit("corr").alias("chk"),
        F.col("ta").alias("ka"),
        F.col("tb").alias("kb"),
        "n",
        F.col("corr_q").alias("m1_q"),
        _lit0().alias("m2_q"),
    )
    trend = Q.q62_linear_trend(spark, sf_dir).select(
        F.lit("trend").alias("chk"),
        F.col("event_type").alias("ka"),
        F.lit("").alias("kb"),
        "n",
        F.col("slope_q").alias("m1_q"),
        F.col("intercept_q").alias("m2_q"),
    )
    hist = SK.log2_histogram(load(spark, sf_dir, "events"))
    qhist = hist.select(
        F.lit("qhist").alias("chk"),
        F.col("period").cast("date").cast("string").alias("ka"),
        F.col("bucket").cast("string").alias("kb"),
        "n",
        (F.expr("shiftleft(CAST(1 AS BIGINT), bucket)") - 1).alias("m1_q"),
        _lit0().alias("m2_q"),
    )
    qest = SK.histogram_quantiles(hist).select(
        F.lit("qest").alias("chk"),
        F.col("period").cast("date").cast("string").alias("ka"),
        F.concat(F.lit("p"), F.col("p").cast("string")).alias("kb"),
        F.col("rank").alias("n"),
        F.col("est_hi").alias("m1_q"),
        F.col("cum").alias("m2_q"),
    )
    ev = load(spark, sf_dir, "events")
    # build via the MERGE path: two disjoint half-sketches summed —
    # exactness of cms_merge is part of what the oracle pins. The
    # split is NULL-SAFE (round-15 advisor): `event_id % 2 == 0`
    # would silently drop NULL-event_id rows from BOTH halves while
    # the oracle's base counts every non-null user_id — the exact
    # NULL-predicate divergence class CLAUDE.md pins. coalesce routes
    # NULL event_ids into half 0, so h1 ∪ h2 is a partition of ev.
    _half = F.coalesce(F.col("event_id"), F.lit(0)) % 2
    h1 = SK.cms_build(
        ev.filter(_half == 0), "user_id",
        width=_CMS_W, depth=_CMS_D,
    )
    h2 = SK.cms_build(
        ev.filter(_half == 1), "user_id",
        width=_CMS_W, depth=_CMS_D,
    )
    cms = SK.cms_merge(h1.unionByName(h2))
    cms_rows = cms.filter(F.col("row") >= 0).select(
        F.lit("cms").alias("chk"),
        F.col("row").cast("string").alias("ka"),
        F.col("idx").cast("string").alias("kb"),
        F.col("cnt").alias("n"),
        F.lit(_CMS_W).cast("long").alias("m1_q"),
        F.lit(_CMS_D).cast("long").alias("m2_q"),
    )
    probe = (
        ev.filter(
            F.col("user_id") % _CMS_PROBE_MOD == _CMS_PROBE_RES
        )
        .select("user_id")
        .distinct()
    )
    est = SK.cms_query(
        probe, "user_id", "user_id", cms, width=_CMS_W, depth=_CMS_D
    )
    true_cnt = ev.filter(F.col("user_id").isNotNull()).groupBy(
        "user_id"
    ).agg(F.count(F.lit(1)).alias("true_cnt"))
    qrows = est.join(true_cnt, "user_id").select(
        F.lit("cmsq").alias("chk"),
        F.col("user_id").cast("string").alias("ka"),
        F.lit("").alias("kb"),
        F.col("est_count").alias("n"),
        F.col("true_cnt").alias("m1_q"),
        (F.col("est_count") - F.col("true_cnt")).alias("m2_q"),
    )
    hh = SK.cms_heavy_hitters(
        probe, "user_id", "user_id", cms, _CMS_HH_MIN,
        width=_CMS_W, depth=_CMS_D,
    ).agg(
        F.count(F.lit(1)).alias("n_hh"),
        F.coalesce(F.sum("est_count"), F.lit(0).cast("long")).alias(
            "sum_est"
        ),
    ).select(
        F.lit("cmshh").alias("chk"),
        F.lit("").alias("ka"),
        F.lit("").alias("kb"),
        F.col("n_hh").alias("n"),
        F.col("sum_est").alias("m1_q"),
        F.lit(_CMS_HH_MIN).cast("long").alias("m2_q"),
    )
    # 'cmscap' (round-15 verdict task 8): corpus-horizon frequency
    # capping — sketch the HALF-A user counts, cap HALF-B events per
    # user at _CMS_CAP against that historical estimate
    # (sampling.cap_per_group(cms=...)); one aggregated row per user
    # that admitted at least one event, pinning admitted count, the
    # CMS prior, and the allowance
    from timebox_spark.operators import sampling as SP

    hbq = ev.filter(
        (_half == 1) & F.col("user_id").isNotNull()
    ).select("user_id", "event_id")
    capped = SP.cap_per_group(
        hbq, "user_id", "event_id", _CMS_CAP,
        cms=h1, cms_width=_CMS_W, cms_depth=_CMS_D,
    )
    prior = SK.cms_query(
        hbq.select("user_id").distinct(), "user_id", "user_id", h1,
        width=_CMS_W, depth=_CMS_D,
    )
    caprows = (
        capped.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_adm"))
        .join(prior, "user_id")
        .select(
            F.lit("cmscap").alias("chk"),
            F.col("user_id").cast("string").alias("ka"),
            F.lit("").alias("kb"),
            F.col("n_adm").alias("n"),
            F.col("est_count").alias("m1_q"),
            F.greatest(
                F.lit(0).cast("long"),
                F.lit(_CMS_CAP).cast("long") - F.col("est_count"),
            ).alias("m2_q"),
        )
    )
    # 'cmswt' (round 16): corpus-horizon TOKEN budgets — sketch the
    # HALF-A per-user WEIGHT sums (cms_build(weight=floor(value)),
    # the weighted sketch), then admit the half-B prefix whose
    # cumulative weight stays within the remaining allowance
    # (sampling.token_budget_per_group(cms=...)); one row per user
    # that admitted at least one event, pinning admitted count,
    # admitted weight sum, and the weighted prior estimate
    _wt = F.floor(F.col("value")).cast("long")
    h1w = SK.cms_build(
        ev.filter((_half == 0) & F.col("user_id").isNotNull()),
        "user_id", width=_CMS_W, depth=_CMS_D, weight=_wt,
    )
    hbw = ev.filter(
        (_half == 1) & F.col("user_id").isNotNull()
    ).select("user_id", "event_id", _wt.alias("wt"))
    admitted = SP.token_budget_per_group(
        hbw, "user_id", "wt", _CMSWT_BUDGET, key="event_id",
        cms=h1w, cms_width=_CMS_W, cms_depth=_CMS_D,
    )
    priorw = SK.cms_query(
        hbw.select("user_id").distinct(), "user_id", "user_id", h1w,
        width=_CMS_W, depth=_CMS_D,
    )
    wtrows = (
        admitted.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_adm"),
            F.sum("wt").alias("wt_sum"),
        )
        .join(priorw, "user_id")
        .select(
            F.lit("cmswt").alias("chk"),
            F.col("user_id").cast("string").alias("ka"),
            F.lit("").alias("kb"),
            F.col("n_adm").alias("n"),
            F.col("wt_sum").cast("long").alias("m1_q"),
            F.col("est_count").alias("m2_q"),
        )
    )
    return (
        corr.unionByName(trend)
        .unionByName(qhist)
        .unionByName(qest)
        .unionByName(cms_rows)
        .unionByName(qrows)
        .unionByName(hh)
        .unionByName(caprows)
        .unionByName(wtrows)
    )


def _cms_sql() -> str:
    """DuckDB oracle for the q57 count-min members: every counter
    cell, probe estimate, and the heavy-hitter gate re-derived from
    the same (width, depth, salt) constants as sketches.cms_build —
    the md5-u32 hash family is identical by construction."""
    from timebox_spark.operators import sketches as SK

    js = " UNION ALL ".join(f"SELECT {j} AS j" for j in range(_CMS_D))
    h = (
        f"('0x' || substr(md5('{SK.CMS_SALT}' || j || '|' || "
        f"CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % {_CMS_W}"
    )
    return f"""
WITH b AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
js AS (SELECT j FROM ({js})),
cms AS (
  SELECT j AS row, CAST({h} AS INT) AS idx, CAST(count(*) AS BIGINT) AS cnt
  FROM b CROSS JOIN js GROUP BY 1, 2
),
probe AS (
  SELECT DISTINCT user_id FROM b
  WHERE user_id % {_CMS_PROBE_MOD} = {_CMS_PROBE_RES}
),
est AS (
  SELECT p.user_id,
         CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
  FROM (SELECT user_id, j, CAST({h} AS INT) AS idx
        FROM probe CROSS JOIN js) p
  LEFT JOIN cms c ON c.row = p.j AND c.idx = p.idx
  GROUP BY p.user_id
),
tru AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1)
SELECT 'cms' AS chk, CAST(row AS VARCHAR) AS ka, CAST(idx AS VARCHAR) AS kb,
       cnt AS n, CAST({_CMS_W} AS BIGINT) AS m1_q, CAST({_CMS_D} AS BIGINT) AS m2_q
FROM cms
UNION ALL
SELECT 'cmsq', CAST(est.user_id AS VARCHAR), '', est_count, c, est_count - c
FROM est JOIN tru ON est.user_id = tru.user_id
UNION ALL
SELECT 'cmshh', '', '', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum(est_count), 0) AS BIGINT),
       CAST({_CMS_HH_MIN} AS BIGINT)
FROM est WHERE est_count >= {_CMS_HH_MIN}
UNION ALL
SELECT 'cmscap', CAST(user_id AS VARCHAR), '',
       CAST(count(*) AS BIGINT), CAST(min(est) AS BIGINT),
       CAST(GREATEST(0, {_CMS_CAP} - min(est)) AS BIGINT)
FROM (
  WITH hA AS (
    SELECT user_id FROM events
    WHERE user_id IS NOT NULL AND COALESCE(event_id, 0) % 2 = 0
  ),
  hB AS (
    SELECT user_id, event_id FROM events
    WHERE user_id IS NOT NULL AND COALESCE(event_id, 0) % 2 = 1
  ),
  js2 AS (SELECT j FROM ({js})),
  cmsa AS (
    SELECT j AS row, CAST({h} AS INT) AS idx,
           CAST(count(*) AS BIGINT) AS cnt
    FROM hA CROSS JOIN js2 GROUP BY 1, 2
  ),
  esta AS (
    SELECT p.user_id, CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est
    FROM (SELECT user_id, j, CAST({h} AS INT) AS idx
          FROM (SELECT DISTINCT user_id FROM hB) CROSS JOIN js2) p
    LEFT JOIN cmsa c ON c.row = p.j AND c.idx = p.idx
    GROUP BY p.user_id
  ),
  rkb AS (
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
    FROM hB
  )
  SELECT r.user_id, e.est
  FROM rkb r JOIN esta e ON r.user_id = e.user_id
  WHERE r.rn <= GREATEST(0, {_CMS_CAP} - e.est)
) GROUP BY user_id
UNION ALL
SELECT 'cmswt', CAST(user_id AS VARCHAR), '',
       CAST(count(*) AS BIGINT), CAST(sum(wt) AS BIGINT),
       CAST(min(est) AS BIGINT)
FROM (
  WITH hAw AS (
    SELECT user_id, CAST(floor(value) AS BIGINT) AS wt FROM events
    WHERE user_id IS NOT NULL AND COALESCE(event_id, 0) % 2 = 0
  ),
  hBw AS (
    SELECT user_id, event_id, CAST(floor(value) AS BIGINT) AS wt
    FROM events
    WHERE user_id IS NOT NULL AND COALESCE(event_id, 0) % 2 = 1
  ),
  js3 AS (SELECT j FROM ({js})),
  cmsw AS (
    SELECT j AS row, CAST({h} AS INT) AS idx,
           CAST(sum(COALESCE(wt, 0)) AS BIGINT) AS cnt
    FROM hAw CROSS JOIN js3 GROUP BY 1, 2
  ),
  estw AS (
    SELECT p.user_id, CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est
    FROM (SELECT user_id, j, CAST({h} AS INT) AS idx
          FROM (SELECT DISTINCT user_id FROM hBw) CROSS JOIN js3) p
    LEFT JOIN cmsw c ON c.row = p.j AND c.idx = p.idx
    GROUP BY p.user_id
  ),
  rkw AS (
    SELECT user_id, event_id, wt,
           SUM(COALESCE(wt, 0)) OVER (PARTITION BY user_id
                ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS cum
    FROM hBw
  )
  SELECT r.user_id, r.wt, e.est
  FROM rkw r JOIN estw e ON r.user_id = e.user_id
  WHERE r.cum <= GREATEST(0, {_CMSWT_BUDGET} - e.est)
) GROUP BY user_id
"""


def _qsketch_sql() -> str:
    """DuckDB mirror of the log2-histogram quantile sketch: same
    fixed-point bucketing (bit length via bin()), same keyed cumsum,
    same integer ceil-division rank, same 2^b−1 estimate."""
    from timebox_spark.operators import sketches as SK

    ps = ", ".join(f"({p})" for p in SK.QSKETCH_PS)
    return f"""
WITH hv AS (
  SELECT date_trunc('month', ts) AS period,
         CAST(floor(CAST(value AS DOUBLE) * {SK.QSKETCH_SCALE} + 0.5) AS BIGINT) AS vi
  FROM events
),
hg AS (
  SELECT period,
         CAST(CASE WHEN vi <= 0 THEN 0 ELSE length(bin(vi)) END AS INTEGER) AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM hv GROUP BY 1, 2
),
cm AS (
  SELECT period, bucket, n,
         CAST(sum(n) OVER (PARTITION BY period ORDER BY bucket) AS BIGINT) AS cum,
         CAST(sum(n) OVER (PARTITION BY period) AS BIGINT) AS total
  FROM hg
),
pv(p) AS (VALUES {ps}),
rk AS (
  SELECT cm.*, p, CAST((total * p + 99) // 100 AS BIGINT) AS rank
  FROM cm CROSS JOIN pv
),
qe AS (
  SELECT period, p, rank,
         CAST((CAST(1 AS BIGINT) << bucket) - 1 AS BIGINT) AS est_hi, cum
  FROM (
    SELECT *, row_number() OVER (PARTITION BY period, p ORDER BY bucket) AS rn
    FROM rk WHERE cum >= rank
  ) WHERE rn = 1
)
SELECT 'qhist' AS chk, CAST(CAST(period AS DATE) AS VARCHAR) AS ka,
       CAST(bucket AS VARCHAR) AS kb, n,
       CAST((CAST(1 AS BIGINT) << bucket) - 1 AS BIGINT) AS m1_q,
       CAST(0 AS BIGINT) AS m2_q
FROM hg
UNION ALL
SELECT 'qest', CAST(CAST(period AS DATE) AS VARCHAR), 'p' || CAST(p AS VARCHAR),
       rank, est_hi, cum
FROM qe
"""


_Q57_SUITE_SQL = f"""
SELECT 'corr' AS chk, ta AS ka, tb AS kb, n, corr_q AS m1_q, CAST(0 AS BIGINT) AS m2_q
FROM ({Q.ORACLE_SQL['q57_corr_matrix']})
UNION ALL
SELECT 'trend', event_type, '', n, slope_q, intercept_q
FROM ({Q.ORACLE_SQL['q62_linear_trend']})
UNION ALL
SELECT chk, ka, kb, n, m1_q, m2_q FROM (
{_qsketch_sql()}
)
UNION ALL
SELECT chk, ka, kb, n, m1_q, m2_q FROM (
{_cms_sql()}
)
"""


def q63_event_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel + cohort retention in one digest table."""
    f = Q.q63_funnel(spark, sf_dir)
    counts = f.select(
        F.lit("funnel_counts").alias("chk"),
        F.col("n_signup").alias("v1"),
        F.col("n_click_after").alias("v2"),
        F.col("n_purchase_after").alias("v3"),
    )
    conv = f.select(
        F.lit("funnel_conv").alias("chk"),
        F.col("conv1_q").alias("v1"),
        F.col("conv2_q").alias("v2"),
        _lit0().alias("v3"),
    )
    cohort = Q.q64_cohort_retention(spark, sf_dir).select(
        F.lit("cohort").alias("chk"),
        F.unix_micros("cohort_week").alias("v1"),
        F.col("week_offset").alias("v2"),
        F.col("n_active").alias("v3"),
    )
    return counts.unionByName(conv).unionByName(cohort)


_Q63_SUITE_SQL = f"""
SELECT 'funnel_counts' AS chk, n_signup AS v1, n_click_after AS v2, n_purchase_after AS v3
FROM ({Q.ORACLE_SQL['q63_funnel']})
UNION ALL
SELECT 'funnel_conv', conv1_q, conv2_q, CAST(0 AS BIGINT)
FROM ({Q.ORACLE_SQL['q63_funnel']})
UNION ALL
SELECT 'cohort', epoch_us(cohort_week), week_offset, n_active
FROM ({Q.ORACLE_SQL['q64_cohort_retention']})
"""


# ------------------------------------------------------------------
# Driver dict: ≤50 keys, LLM suite first.
# ------------------------------------------------------------------

DRIVER_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- LLM pipeline (unchecked in round 1 — ordered first) ---
    "q20_text_stats": LQ.q20_text_stats,
    "q21_text_aggregates": q21_text_aggregates,
    "q23_exact_dedup": q23_dedup_suite,
    "q24_ngram_jaccard": LQ.q24_ngram_jaccard,
    "q27_embedding_neardups": q27_neardup_suite,
    "q28_knn_bruteforce": q28_knn_suite,
    "q30_multimodal_suite": q30_multimodal_suite,
    "q31_dedup_clusters": q31_dedup_clusters,
    "q44_train_split": LQ.q44_train_split,
    "q54_curation_pipeline": q54_curation_suite,
    "q25_neardup_pairs": q25_neardup_pairs,
    "q29_ann_suite": q29_ann_suite,
    # --- streaming ---
    "q65_stream_hourly": q65_stream_hourly,
    "q66_stream_join": q66_stream_join,
    "q67_stream_zscore": q67_stream_zscore,
    "q68_stream_suite": q68_stream_suite,
    # --- storage / codec ---
    "q01_io_suite": q01_io_suite,
    "q04_validation_suite": q04_validation_suite,
    "q06_codec_suite": q06_codec_suite,
    "q10_time_units": Q.q10_time_units,
    "q17_npb_roundtrip": Q.q17_npb_roundtrip,
    # --- relational / time series ---
    "q11_filter_agg": Q.q11_filter_agg,
    "q12_join_topk": Q.q12_join_topk,
    "q13_groupby_having": Q.q13_groupby_having,
    "q14_window_rank": Q.q14_window_rank,
    "q15_time_bucket": Q.q15_time_bucket,
    "q16_asof": Q.q16_asof,
    "q16b_asof_by_user": Q.q16b_asof_by_user,
    "q18_resample_gapfill": Q.q18_resample_gapfill,
    "q19_sessionize": Q.q19_sessionize,
    "q32_grouping_sets": q32_grouping_sets,
    "q33_setops_semi": q33_setops_semi,
    "q34_nested_suite": q34_nested_suite,
    "q35_range_join": Q.q35_range_join,
    "q36_sql_tpch_q1": Q.q36_sql_tpch_q1,
    "q37_distinct_percentiles": Q.q37_distinct_percentiles,
    "q39_pivot": Q.q39_pivot,
    "q40_histogram": Q.q40_histogram,
    "q41_window_functions": q41_window_functions,
    "q43_scalar_suite": q43_scalar_suite,
    "q49_unpivot": Q.q49_unpivot,
    "q50_tpch_q5_shape": Q.q50_tpch_q5_shape,
    "q55_hll_rollup": Q.q55_hll_rollup,
    "q56_interpolate": Q.q56_interpolate,
    "q57_stats_suite": q57_stats_suite,
    "q58_anomaly_zscore": Q.q58_anomaly_zscore,
    "q59_tpch_q3_shape": Q.q59_tpch_q3_shape,
    "q60_ewma": Q.q60_ewma,
    "q61_lttb_downsample": Q.q61_lttb_downsample,
    "q63_event_analytics": q63_event_analytics,
}

DRIVER_ORACLE_SQL: dict[str, str] = {
    "q20_text_stats": LQ.ORACLE_SQL["q20_text_stats"],
    "q21_text_aggregates": _Q21_SUITE_SQL,
    "q23_exact_dedup": _q23_suite_sql(),
    "q24_ngram_jaccard": LQ.ORACLE_SQL["q24_ngram_jaccard"],
    "q27_embedding_neardups": _q27_suite_sql(),
    "q28_knn_bruteforce": _Q28_SUITE_SQL,
    "q30_multimodal_suite": _Q30_SUITE_SQL,
    "q31_dedup_clusters": _Q31_SQL,
    "q44_train_split": LQ.ORACLE_SQL["q44_train_split"],
    "q54_curation_pipeline": _Q54_SUITE_SQL,
    "q25_neardup_pairs": _Q25_SUITE_SQL,
    "q29_ann_suite": ann_oracle.portable_ann_sql(),
    "q65_stream_hourly": _Q65_SQL,
    "q66_stream_join": _Q66_SQL,
    "q67_stream_zscore": _Q67_SQL,
    "q68_stream_suite": _Q68_SQL,
    "q01_io_suite": _Q01_SUITE_SQL,
    "q04_validation_suite": _Q04_SUITE_SQL,
    "q06_codec_suite": _Q06_SUITE_SQL,
    "q10_time_units": Q.ORACLE_SQL["q10_time_units"],
    "q17_npb_roundtrip": Q.ORACLE_SQL["q17_npb_roundtrip"],
    "q11_filter_agg": Q.ORACLE_SQL["q11_filter_agg"],
    "q12_join_topk": Q.ORACLE_SQL["q12_join_topk"],
    "q13_groupby_having": Q.ORACLE_SQL["q13_groupby_having"],
    "q14_window_rank": Q.ORACLE_SQL["q14_window_rank"],
    "q15_time_bucket": Q.ORACLE_SQL["q15_time_bucket"],
    "q16_asof": Q.ORACLE_SQL["q16_asof"],
    "q16b_asof_by_user": Q.ORACLE_SQL["q16b_asof_by_user"],
    "q18_resample_gapfill": Q.ORACLE_SQL["q18_resample_gapfill"],
    "q19_sessionize": Q.ORACLE_SQL["q19_sessionize"],
    "q32_grouping_sets": _Q32_SUITE_SQL,
    "q33_setops_semi": _Q33_SUITE_SQL,
    "q34_nested_suite": _Q34_SUITE_SQL,
    "q35_range_join": Q.ORACLE_SQL["q35_range_join"],
    "q36_sql_tpch_q1": Q.ORACLE_SQL["q36_sql_tpch_q1"],
    "q37_distinct_percentiles": Q.ORACLE_SQL["q37_distinct_percentiles"],
    "q39_pivot": Q.ORACLE_SQL["q39_pivot"],
    "q40_histogram": Q.ORACLE_SQL["q40_histogram"],
    "q41_window_functions": _Q41_SUITE_SQL,
    "q43_scalar_suite": _Q43_SUITE_SQL,
    "q49_unpivot": Q.ORACLE_SQL["q49_unpivot"],
    "q50_tpch_q5_shape": Q.ORACLE_SQL["q50_tpch_q5_shape"],
    "q55_hll_rollup": Q.ORACLE_SQL["q55_hll_rollup"],
    "q56_interpolate": Q.ORACLE_SQL["q56_interpolate"],
    "q57_stats_suite": _Q57_SUITE_SQL,
    "q58_anomaly_zscore": Q.ORACLE_SQL["q58_anomaly_zscore"],
    "q59_tpch_q3_shape": Q.ORACLE_SQL["q59_tpch_q3_shape"],
    "q60_ewma": Q.ORACLE_SQL["q60_ewma"],
    "q61_lttb_downsample": Q.ORACLE_SQL["q61_lttb_downsample"],
    "q63_event_analytics": _Q63_SUITE_SQL,
}
