"""Text analysis operators for LLM training-data pipelines.

All hot-path expressions are JVM-side built-ins (regexp, split,
length, md5) — no Python UDFs — so they run inside whole-stage
codegen and scale linearly with partitions. These extend the reference
engine per SURVEY §2.7 (the reference has no string functions at all;
its type system is numeric-only, /root/reference/timebox/utils/
numpy_utils.py:60-100).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_RE = r"\S+"
# BPE-ish word/number/punct split (public GPT-2-style pattern shape)
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_RE = r"[.,!?;:]"

# marker words per language for the n-gram/stopword lang-id heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "es": ["el", "la", "que", "de", "es"],
    "fr": ["le", "la", "et", "est", "les"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in", "that", "it", "on"]

# frequent character trigrams per language (textcat-style profile,
# tiny literal lists): the char-n-gram complement to the marker-WORD
# heuristic above — robust to missing word boundaries and inflection.
# Both engines count literal substring occurrences (length-difference
# arithmetic, no regex), so the oracle mirrors it exactly.
LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": ["the", " th", "and", "ing"],
    "de": ["der", "ein", "sch", "und"],
    "es": [" de", "que", "los", " la"],
    "fr": [" le", "les", "ent", "des"],
    "zh": ["shi", " wo", "de "],
}


def token_count(col: str = "text") -> Column:
    """Whitespace token count: size of all \\S+ matches."""
    return F.size(F.regexp_extract_all(F.col(col), F.lit(TOKEN_RE), F.lit(0)))


def bpe_ish_token_count(col: str = "text") -> Column:
    """Sub-word-ish token count via a GPT-2-shaped regex (letters runs,
    digit runs, single punctuation)."""
    return F.size(F.regexp_extract_all(F.col(col), F.lit(BPE_ISH_RE), F.lit(0)))


def word_alternation_re(words: list[str]) -> str:
    """One non-capturing alternation matching any of the words —
    a single scan instead of len(words) scans (the words are distinct
    whole tokens, so the match count equals the sum of per-word
    counts)."""
    return r"\b(?:" + "|".join(words) + r")\b"


def _word_hits(col: str, word: str) -> Column:
    return F.size(
        F.regexp_extract_all(F.col(col), F.lit(rf"\b{word}\b"), F.lit(0))
    )


def _words_hits(col: str, words: list[str]) -> Column:
    return F.size(
        F.regexp_extract_all(F.col(col), F.lit(word_alternation_re(words)), F.lit(0))
    )


def stopword_count(col: str = "text") -> Column:
    return _words_hits(col, STOPWORDS)


def punct_count(col: str = "text") -> Column:
    return F.size(F.regexp_extract_all(F.col(col), F.lit(PUNCT_RE), F.lit(0)))


def quality_score_q(col: str = "text", scale: int = 1_000_000) -> Column:
    """Deterministic [0,1] quality score, quantized to an integer.

    score = 0.4·min(tokens/100,1) + 0.3·stopword_ratio·5 (capped 1)
          + 0.3·(1 − punct_ratio·10 (capped 1)), a classic
    length/stopword/punct heuristic. All inputs are integer counts, so
    the double arithmetic is identical across engines; the result is
    quantized for hashing.
    """
    toks = token_count(col).cast("double")
    sw = stopword_count(col).cast("double")
    pn = punct_count(col).cast("double")
    len_term = F.least(toks / F.lit(100.0), F.lit(1.0))
    sw_term = F.least(sw * F.lit(5.0) / F.greatest(toks, F.lit(1.0)), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(
        pn * F.lit(10.0) / F.greatest(toks, F.lit(1.0)), F.lit(1.0)
    )
    score = (
        F.lit(0.4) * len_term + F.lit(0.3) * sw_term + F.lit(0.3) * punct_term
    )
    return F.round(score * F.lit(float(scale))).cast("long")


def _argmax_lang(counts: dict[str, Column], zero: Column) -> Column:
    """Single-copy argmax over per-language count expressions.

    Each count subtree appears EXACTLY ONCE: the counts go into an
    array of (count, -index, lang) structs and ``array_max``'s
    lexicographic struct compare picks max count with ties to the
    earlier language code — the same ladder as a
    greatest(...)+CASE chain, at 1/(2·|langs|) of the expression-tree
    size (the duplicated-subtree shape made q20 the most expensive
    text query). A trailing ('und', count 0, index sentinel +1) entry
    wins exactly when every real count is 0, folding the old
    ``WHEN best = 0 THEN 'und'`` guard into the same single
    ``array_max``. Values are bit-identical to the old ladder (same
    comparisons, same float-sum order), so the DuckDB oracle mirror
    is unchanged."""
    langs = sorted(counts)
    entries = [
        F.struct(
            counts[lg].alias("c"),
            F.lit(-i).alias("ni"),
            F.lit(lg).alias("lang"),
        )
        for i, lg in enumerate(langs)
    ]
    entries.append(
        F.struct(zero.alias("c"), F.lit(1).alias("ni"), F.lit("und").alias("lang"))
    )
    return F.array_max(F.array(*entries))["lang"]


def lang_id(col: str = "text") -> Column:
    """Marker-word language id: per language, count marker-word hits;
    argmax wins, ties broken by language code order. Deterministic and
    SQL-expressible (the oracle mirrors the same CASE ladder)."""
    counts = {
        lang: _words_hits(col, words) for lang, words in LANG_MARKERS.items()
    }
    return _argmax_lang(counts, F.lit(0))


def _substr_count(col: str, pat: str) -> Column:
    """Occurrences of literal substring ``pat`` via length difference
    (codegen-friendly; identical arithmetic on DuckDB)."""
    s = F.lower(F.col(col))
    return (F.length(s) - F.length(F.replace(s, F.lit(pat), F.lit("")))) / F.lit(
        float(len(pat))
    )


def lang_id_ngram(col: str = "text") -> Column:
    """Character-trigram language id (textcat-style): per language,
    total occurrences of its frequent trigrams; argmax wins, ties to
    language-code order, 'und' when nothing matches. Complements the
    marker-word ``lang_id`` for text without clean word boundaries."""
    counts = {
        lang: sum(
            (_substr_count(col, p) for p in pats), F.lit(0.0)
        )
        for lang, pats in LANG_TRIGRAMS.items()
    }
    return _argmax_lang(counts, F.lit(0.0))


def fingerprint(col: str = "text") -> Column:
    """Document fingerprint: md5 of lowercased whitespace-collapsed
    text — the distributed analog of a rolling-hash document id."""
    normalized = F.trim(
        F.regexp_replace(F.lower(F.col(col)), r"\s+", " ")
    )
    return F.md5(F.encode(normalized, "UTF-8"))


def top_words(df: DataFrame, col: str = "text", k: int = 20) -> DataFrame:
    """Global top-k word histogram — explode + two-level aggregate
    (partial map-side combine keeps the shuffle small)."""
    words = df.select(
        F.explode(
            F.regexp_extract_all(F.col(col), F.lit(TOKEN_RE), F.lit(0))
        ).alias("word")
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), "word").limit(k)


# ------------------------------------------------------------------
# Gopher-style quality gates, repetition, and PII redaction — the
# standard curation signals a training-data pipeline layers on top of
# the basic counts (public recipe: Rae et al. 2021 "Scaling Language
# Models" appendix A). All JVM regex/array built-ins; every expression
# is mirror-able in ANSI SQL for the DuckDB oracle.

# RE2-safe patterns (DuckDB uses RE2; no lookarounds/backrefs)
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\+?[0-9][0-9\- ]{7,}[0-9]"

GOPHER_MIN_TOKENS = 10
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_WL = 2.0
GOPHER_MAX_MEAN_WL = 12.0
GOPHER_MIN_STOPWORDS = 1
GOPHER_MAX_DUP_2GRAM = 0.30


def _tokens(col: str = "text") -> Column:
    return F.regexp_extract_all(F.col(col), F.lit(TOKEN_RE), F.lit(0))


def mean_word_length(col: str = "text") -> Column:
    """Mean token length (0.0 for empty docs) — double; quantize for
    cross-engine hashing."""
    return mean_word_length_from(_tokens(col))


def dup_2gram_fraction(col: str = "text") -> Column:
    """Fraction of duplicate token 2-grams — the repetition signal
    (near-1.0 for degenerate looping text). 0.0 below 2 tokens."""
    return dup_2gram_fraction_from(_tokens(col))


def gopher_pass(col: str = "text") -> Column:
    """1 where the document passes the Gopher-style gates: token count
    in range, mean word length in range, at least one stopword, and
    bounded 2-gram repetition."""
    return gopher_pass_from(_tokens(col), token_count(col), stopword_count(col))


# ------------------------------------------------------------------
# Tokenize-once variants: evaluate TOKEN_RE / stopword / punct regexes
# exactly once per row in a stage-1 projection, then derive every
# downstream signal from the materialized columns. Catalyst's
# CollapseProject keeps the projection boundary (an alias consumed
# more than once whose producer is non-cheap is not inlined), so the
# regex work is 1× per doc instead of ~6× (q54 regressed 36% in round
# 2 from exactly this duplication).


def token_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stage-1 projection: token array + stopword/punct counts, each
    regex evaluated once. Adds ``__toks``, ``__nt``, ``__nsw``,
    ``__npunct``."""
    return df.select(
        "*",
        _tokens(text_col).alias("__toks"),
        stopword_count(text_col).alias("__nsw"),
        punct_count(text_col).alias("__npunct"),
    ).withColumn("__nt", F.size(F.col("__toks")))


def quality_score_q_from(
    nt: Column, nsw: Column, npunct: Column, scale: int = 1_000_000
) -> Column:
    """``quality_score_q`` from pre-computed counts (same formula)."""
    toks = nt.cast("double")
    sw = nsw.cast("double")
    pn = npunct.cast("double")
    len_term = F.least(toks / F.lit(100.0), F.lit(1.0))
    sw_term = F.least(sw * F.lit(5.0) / F.greatest(toks, F.lit(1.0)), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(
        pn * F.lit(10.0) / F.greatest(toks, F.lit(1.0)), F.lit(1.0)
    )
    score = F.lit(0.4) * len_term + F.lit(0.3) * sw_term + F.lit(0.3) * punct_term
    return F.round(score * F.lit(float(scale))).cast("long")


def mean_word_length_from(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks).cast("double")
    )


def dup_2gram_fraction_from(toks: Column) -> Column:
    """Built with ``zip_with`` over two pre-evaluated slices:
    referencing the tokens expression INSIDE a lambda (e.g.
    ``element_at(toks, i)``) re-evaluates the token regex once per
    element — O(tokens²) regex work per row (measured 8× on q54);
    zip_with's array arguments are evaluated once per row."""
    nt = F.size(toks)
    pair_len = F.greatest(nt - F.lit(1), F.lit(0))
    grams = F.zip_with(
        F.slice(toks, F.lit(1), pair_len),
        F.slice(toks, F.lit(2), pair_len),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n = F.size(grams)
    return F.when(nt < 2, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(grams))).cast("double") / n.cast("double")
    )


def gopher_pass_from(toks: Column, nt: Column, nsw: Column) -> Column:
    mwl = mean_word_length_from(toks)
    return (
        (nt >= GOPHER_MIN_TOKENS)
        & (nt <= GOPHER_MAX_TOKENS)
        & (mwl >= GOPHER_MIN_MEAN_WL)
        & (mwl <= GOPHER_MAX_MEAN_WL)
        & (nsw >= GOPHER_MIN_STOPWORDS)
        & (dup_2gram_fraction_from(toks) <= GOPHER_MAX_DUP_2GRAM)
    ).cast("long")


# BM25 constants, shared with the q21 DuckDB oracle (suites._bm25_sql)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_SCALE = 1_000_000
BM25_QUERY_TERMS = ["vector", "hash", "join"]
BM25_TOP_K = 15


def bm25_topk(
    df: DataFrame,
    terms: list[str] | None = None,
    k: int = BM25_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lucene-shaped BM25 retrieval: score every document against a
    fixed term set and return the top-k — the ranking primitive a
    curation pipeline uses for retrieval-based decontamination and
    targeted corpus audits (the reference has no text ops at all,
    SURVEY §2.7; this is extension surface).

    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5));
    score(d) = Σ_t idf·tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)),
    summed in fixed term order and quantized to ``BM25_SCALE``.
    Everything is integer counts (word-boundary regex hits, token
    counts) until the final per-document scalar arithmetic, so the
    DuckDB oracle reproduces scores exactly.

    Plan: one scan reduced to an O(|terms|) stats row (N, Σ|d|,
    per-term doc-frequency) that broadcasts back over a second
    scoring scan, then TakeOrderedAndProject for the top-k — no full
    sort, no shuffle of document rows at any corpus size.
    """
    terms = BM25_QUERY_TERMS if terms is None else terms
    base = df.select(
        id_col,
        token_count(text_col).alias("__nt"),
        *[
            _word_hits(text_col, t).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__nt").alias("__tot"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    n = F.col("__n").cast("double")
    avgdl = F.col("__tot").cast("double") / n
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}").cast("double")
        dfi = F.col(f"__df{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - dfi + F.lit(0.5)) / (dfi + F.lit(0.5)))
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * F.col("__nt").cast("double") / avgdl
        )
        score = score + idf * tf * F.lit(BM25_K1 + 1.0) / denom
    return (
        scored.select(
            id_col,
            F.floor(score * F.lit(float(BM25_SCALE)) + F.lit(0.5))
            .cast("long")
            .alias("score_q"),
        )
        .orderBy(F.desc("score_q"), id_col)
        .limit(k)
    )


def redact(col: str = "text") -> Column:
    """PII scrubbing: emails, URLs, and phone-shaped digit runs
    replaced with typed placeholders. Order matters (URLs may contain
    @; emails before phones so digits inside addresses don't match)."""
    out = F.regexp_replace(F.col(col), URL_RE, "<URL>")
    out = F.regexp_replace(out, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return out


# hashed-linear classifier constants (shared with the q21 DuckDB oracle)
CLF_BUCKETS = 1024
CLF_SALT = "clf1"
CLF_WRANGE = 2001  # weights in [-1000, 1000]
CLF_TOP_K = 20


def _md5_u32_str(c: Column) -> Column:
    """First 8 hex chars of md5 as a BIGINT in [0, 2^32) — the same
    engine-portable hash the sampling/dedup operators use."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def hashed_linear_score(col: str = "text") -> Column:
    """fastText-style linear text classifier serving path: every token
    is feature-hashed into ``CLF_BUCKETS`` buckets and the document
    score is the sum of the bucket weights — the shape of the quality
    classifiers LLM pipelines run over every document (CCNet/fastText
    filtering; the reference has no text ops, SURVEY §2.7).

    Weights here are derived from md5 of the bucket id (integers in
    [-1000, 1000]) instead of a trained array, so the DuckDB oracle
    recomputes the score bit-for-bit; a production model would swap
    the weight expression for ``F.element_at(F.lit(weights), bucket)``
    over a broadcast literal array — identical plan shape. Everything
    is JVM higher-order functions over the token array: map-only,
    zero Python, exact integer arithmetic (no float parity risk).
    """
    return hashed_linear_score_from(_tokens(col))


def hashed_linear_score_from(toks: Column) -> Column:
    """``hashed_linear_score`` over a pre-computed token array (lets
    pipeline stages that already tokenized reuse the array — no
    second regex pass)."""

    def weight(t: Column) -> Column:
        b = (
            _md5_u32_str(F.concat_ws(":", F.lit(CLF_SALT), t))
            % F.lit(CLF_BUCKETS)
        )
        return (
            _md5_u32_str(F.concat_ws(":", F.lit("w"), b.cast("string")))
            % F.lit(CLF_WRANGE)
            - F.lit((CLF_WRANGE - 1) // 2)
        )

    return F.aggregate(
        F.transform(toks, weight),
        F.lit(0).cast("long"),
        lambda acc, w: acc + w,
    )


def classifier_topk(
    df: DataFrame,
    k: int = CLF_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by hashed-linear classifier score (score desc,
    id asc) — the 'keep the best-scoring documents' selection step of
    a quality-filtered curation pipeline. TakeOrderedAndProject: no
    global sort, no shuffle of document rows at any corpus size."""
    return (
        df.select(
            id_col,
            hashed_linear_score(text_col).alias("clf_score"),
        )
        .orderBy(F.desc("clf_score"), id_col)
        .limit(k)
    )


# bigram-LM perplexity constants (shared with the q21 DuckDB oracle)
PPL_SCALE = 1_000_000
PPL_TOP_K = 20


def _bigram_strings(col: str = "text") -> Column:
    """'w1 w2' strings for each adjacent token pair — tokens are \\S+
    so the single space splits back unambiguously. Spark's
    sequence(2, n) DESCENDS for n < 2 (it never yields an empty
    range), so short docs need the explicit empty-array guard."""
    toks = _tokens(col)
    return F.when(
        F.size(toks) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(2), F.size(toks)),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i - 1), F.element_at(toks, i)
            ),
        )
    )


def bigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style perplexity scoring with a corpus-trained bigram LM
    (add-one smoothing): p(w2|w1) = (c(w1w2)+1)/(c(w1·)+V), per-doc
    avg_lp_q = floor(mean bigram ln-prob · 1e6) — higher = more
    typical text; CCNet keeps the low-perplexity head of this ranking
    (the reference has no text ops at all, SURVEY §2.7).

    Engine parity: each DISTINCT bigram's log-prob is quantized to an
    integer ONCE (ln of the same exactly-rounded rational on both
    engines), then per-doc scores are exact integer sums — the same
    per-term-quantization rule every float aggregate in this repo
    follows (CLAUDE.md).

    100 TB shape: the classic distributed LM-training plan — one
    explode scan → bigram-count shuffle (map-side combine), context
    counts reduced FROM the bigram table (no second corpus scan), a
    vocab-sized probability table joined back on the bigram key, and
    a final per-doc aggregation. No driver state, no unkeyed windows;
    skewed head bigrams are handled by AQE skew splitting like any
    hot groupBy key.

    Returns (id_col, n_bigrams, lp_sum_q, avg_lp_q); docs with < 2
    tokens score 0 over 0 bigrams.
    """
    pairs = df.select(
        F.col(id_col), F.explode(_bigram_strings(text_col)).alias("bg")
    )
    c12 = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    heads = c12.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
    c1 = heads.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        df.select(F.explode(_tokens(text_col)).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    lp = (
        heads.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.floor(
                F.log(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                )
                * F.lit(float(PPL_SCALE))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lp_q"),
        )
    )
    scored = (
        pairs.join(lp, "bg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_q").alias("lp_sum_q"),
        )
    )
    base = df.select(id_col)
    return (
        base.join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("lp_sum_q", F.lit(0)).cast("long").alias("lp_sum_q"),
            F.when(F.coalesce("n_bigrams", F.lit(0)) == 0, F.lit(0))
            .otherwise(
                F.floor(
                    F.col("lp_sum_q").cast("double")
                    / F.col("n_bigrams").cast("double")
                    + F.lit(0.5)
                )
            )
            .cast("long")
            .alias("avg_lp_q"),
        )
    )


def perplexity_topk(
    df: DataFrame,
    k: int = PPL_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The k most LM-typical documents (highest avg bigram log-prob =
    lowest perplexity, id tiebreak) — CCNet's keep-the-head selection.
    TakeOrderedAndProject over the scored table: no global sort.
    Docs with no bigrams are excluded (their score-0 default would
    otherwise outrank every real all-negative log-prob average)."""
    return (
        bigram_lm_scores(df, id_col, text_col)
        .filter(F.col("n_bigrams") > 0)
        .orderBy(F.desc("avg_lp_q"), id_col)
        .limit(k)
        .select(id_col, "avg_lp_q")
    )


# BPE merge-counting constants (shared with the q21 DuckDB oracle)
BPE_TOP_PAIRS = 20


def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The counting step of BPE tokenizer training: corpus-wide
    frequency of each adjacent character pair, the statistic whose
    argmax becomes the next merge rule (Sennrich et al. 2016). Like
    every BPE trainer, pairs are counted over the WORD-FREQUENCY
    table, not the raw token stream: one explode scan reduces the
    corpus to its vocabulary (word, freq), and pair extraction runs
    per DISTINCT word weighted by freq — at 100 TB the pair-counting
    stage touches a vocab-sized table, not the corpus.

    Returns (pair, n) for the ``BPE_TOP_PAIRS`` most frequent pairs
    (count desc, pair asc) via TakeOrderedAndProject — no global sort.
    """
    vocab = (
        df.select(F.explode(_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # sequence(2, n) descends for n < 2 — guard 1-char words
    pairs_in_word = F.when(
        F.length("w") < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(2), F.length("w")),
            lambda i: F.substring(F.col("w"), i - 1, F.lit(2)),
        )
    )
    return (
        vocab.select("freq", F.explode(pairs_in_word).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOP_PAIRS)
    )


# DSIR importance-resampling constants (shared with the q44 oracle)
DSIR_BUCKETS = 256
DSIR_SALT = "dsir1"
DSIR_SCALE = 1_000_000  # per-bucket log-ratio quantization
DSIR_TOP_K = 30


def dsir_bucket(t: Column) -> Column:
    """Token → hashed n-gram bucket, engine-portable md5 family."""
    return _md5_u32_str(F.concat_ws(":", F.lit(DSIR_SALT), t)) % F.lit(
        DSIR_BUCKETS
    )


def dsir_logratio_table(
    target: DataFrame, source: DataFrame, text_col: str = "text"
) -> list[int]:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    per-bucket quantized log importance ratios
    lr_q[b] = ⌊(ln p̂_target[b] − ln p̂_source[b])·SCALE + 0.5⌋ over
    hashed-unigram buckets with add-one smoothing.

    Two corpus scans reduce to O(buckets) histogram rows; the ratio
    arithmetic runs as JVM ln on that tiny grid (the same ln-parity
    contract BM25/perplexity/KL rely on), and the result is collected
    as a plain list — the broadcast-by-value weight table the scorer
    ships as a plan literal. At 100 TB the histograms are the only
    distributed work: two map-side-combined aggregates."""
    spark = source.sparkSession

    def hist(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(_tokens(text_col)).alias("t"))
            .select(dsir_bucket(F.col("t")).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias(name))
        )

    buckets = spark.range(DSIR_BUCKETS).select(F.col("id").alias("b"))
    grid = (
        buckets.join(hist(target, "nt"), "b", "left")
        .join(hist(source, "ns"), "b", "left")
        .select(
            "b",
            F.coalesce("nt", F.lit(0)).alias("nt"),
            F.coalesce("ns", F.lit(0)).alias("ns"),
        )
    )
    tot = grid.agg(F.sum("nt").alias("tt"), F.sum("ns").alias("ts"))
    lr = grid.crossJoin(tot).select(  # one-row broadcast
        "b",
        F.floor(
            (
                F.ln(
                    (F.col("nt") + 1).cast("double")
                    / (F.col("tt") + DSIR_BUCKETS).cast("double")
                )
                - F.ln(
                    (F.col("ns") + 1).cast("double")
                    / (F.col("ts") + DSIR_BUCKETS).cast("double")
                )
            )
            * F.lit(float(DSIR_SCALE))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lr_q"),
    )
    out = [0] * DSIR_BUCKETS
    for r in lr.collect():  # O(buckets) rows
        out[int(r["b"])] = int(r["lr_q"])
    return out


def dsir_score_from(toks: Column, lr: list[int]) -> Column:
    """Per-document importance log-weight: Σ_tokens lr_q[bucket(t)] —
    map-only over the token array with the weight table as a literal
    (exact integer sum, order-free)."""
    lr_lit = F.lit(lr).cast("array<long>")
    return F.aggregate(
        F.transform(
            toks,
            lambda t: F.element_at(
                lr_lit, (dsir_bucket(t) + 1).cast("int")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def dsir_topk(
    docs: DataFrame,
    target: DataFrame,
    k: int = DSIR_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by DSIR importance weight toward ``target`` —
    the 'select raw data that looks like the quality corpus' step.
    Returns (id, dsir_q), score desc, id tiebreak, via TakeOrdered
    (no global sort). A sampling variant would threshold the same
    score against a Gumbel draw; top-k keeps the driver oracle
    deterministic."""
    lr = dsir_logratio_table(target, docs, text_col)
    scored = docs.select(
        F.col(id_col),
        dsir_score_from(_tokens(text_col), lr).alias("dsir_q"),
    )
    return scored.orderBy(F.desc("dsir_q"), id_col).limit(k)


# full BPE trainer constants (shared with the q21 DuckDB oracle)
BPE_SEP = "\x1f"  # symbol delimiter; TOKEN_RE words must not contain it
BPE_MERGES = 8


def _bpe_seq0(w) -> Column:
    """Word → delimited symbol string: every char c becomes ␟c␟, so
    the sequence [h,e,y] is '␟h␟␟e␟␟y␟'. Symbols never contain the
    delimiter, so a merge (a,b) is the LITERAL string replacement
    ␟a␟␟b␟ → ␟ab␟ — and because replace() is leftmost
    non-overlapping in every engine, one replace call IS the greedy
    left-to-right BPE merge application (e.g. aaa + (a,a) → aa,a)."""
    return F.regexp_replace(w, "(.)", BPE_SEP + "$1" + BPE_SEP)


def _bpe_syms(seq) -> Column:
    return F.split(F.btrim(seq, F.lit(BPE_SEP)), BPE_SEP + BPE_SEP)


def _bpe_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus → (seq, freq) word-frequency table with words in
    delimited-symbol form — the ONE corpus scan; every merge round
    after this touches only the vocab-sized table."""
    return (
        df.select(F.explode(_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(_bpe_seq0(F.col("w")).alias("seq"), "freq")
    )


def _bpe_pair_counts_from(vocab: DataFrame) -> DataFrame:
    syms = _bpe_syms(F.col("seq"))
    pairs = F.when(
        F.size(syms) < 2, F.array().cast("array<struct<a:string,b:string>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(2), F.size(syms)),
            lambda i: F.struct(
                F.element_at(syms, i - 1).alias("a"),
                F.element_at(syms, i).alias("b"),
            ),
        )
    )
    return (
        vocab.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
    )


def bpe_train(
    df: DataFrame, text_col: str = "text", n_merges: int = BPE_MERGES
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Full iterative BPE tokenizer training (Sennrich et al. 2016):
    N merge rounds over the word-frequency table. Each round is one
    pair-count aggregate over the vocab (NOT the corpus), a
    TakeOrdered(1) best-pair pick (max count, tie-break (a, b) asc —
    the deterministic contract the oracle mirrors), and a map-only
    literal string replacement applying the merge (see _bpe_seq0 for
    why replace() is exactly the greedy merge). localCheckpoint per
    round keeps lineage O(1) so round r doesn't replay rounds 0..r-1.

    At 100 TB: the corpus is scanned once into the vocab; each round
    shuffles a vocab-sized pair table and collects ONE row — the
    standard scalable BPE trainer shape. Returns (merges, final
    vocab) where merges = [(a, b, count), ...] in training order.
    """
    vocab = _bpe_vocab(df, text_col).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            _bpe_pair_counts_from(vocab)
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
        merges.append((a, b, n))
        pat = BPE_SEP + a + BPE_SEP + BPE_SEP + b + BPE_SEP
        rep = BPE_SEP + a + b + BPE_SEP
        vocab = vocab.withColumn(
            "seq", F.replace(F.col("seq"), F.lit(pat), F.lit(rep))
        ).localCheckpoint(eager=True)
    return merges, vocab


def apply_bpe(col, merges: list[tuple[str, str, int]]) -> Column:
    """Tokenize with a trained merge list: whitespace words → char
    symbols → the merges applied in training order (each one literal
    replace on the delimited form) → flattened sub-word token array.
    Map-only column expression; ship the N-entry merge list as plan
    literals (broadcast-by-value)."""

    def fold(seq):
        for a, b, _ in merges:
            seq = F.replace(
                seq,
                F.lit(BPE_SEP + a + BPE_SEP + BPE_SEP + b + BPE_SEP),
                F.lit(BPE_SEP + a + b + BPE_SEP),
            )
        return seq

    return F.flatten(
        F.transform(_tokens(col), lambda w: _bpe_syms(fold(_bpe_seq0(w))))
    )


def bpe_train_summary(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_MERGES,
    trained: tuple | None = None,
) -> DataFrame:
    """Driver-gated digest of the full trainer: one row per learned
    merge (round, a, b, pair count) plus a 'tokens' row with the
    corpus token count after all merges (Σ freq·n_syms over the final
    vocab) — the end-to-end evidence that training AND application
    agree with the oracle's independently recomputed merge sequence.
    Pass ``trained=(merges, vocab)`` to reuse an already-run
    ``bpe_train`` instead of training again (the q21 suite shares one
    training run between these rows and the BPE token-id export)."""
    merges, vocab = trained if trained is not None else bpe_train(
        df, text_col, n_merges
    )
    spark = df.sparkSession
    mrows = spark.createDataFrame(
        [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "round int, a string, b string, n long",
    )
    n_syms = (
        (
            F.length("seq")
            - F.length(F.replace(F.col("seq"), F.lit(BPE_SEP + BPE_SEP)))
        )
        / 2
        + 1
    ).cast("long")
    tokens = vocab.agg(
        F.sum(F.col("freq") * n_syms).alias("total")
    ).select(
        F.lit(0).alias("round"),
        F.lit("<tokens>").alias("a"),
        F.lit("").alias("b"),
        F.col("total").alias("n"),
    )
    return mrows.unionByName(tokens)


# repetition-gate constants (shared with the q21 DuckDB oracle)
REP_TOP_K = 20


def top_bigram_char_mass(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher's n-gram repetition signal (Rae et al. 2021 A1.1):
    per document, the largest character mass any repeated word bigram
    carries — frac_q = floor(1e6 · max_g(count(g)·len(g)) / len(doc)
    + 0.5). Taking the max of count·len directly (rather than
    argmax-by-count then length) keeps the metric total-order
    deterministic with no tie-break rule to mirror.

    Plan: explode bigrams → count per (doc, gram) → max per doc —
    two keyed aggregations that combine map-side; linear in corpus
    size at any scale (the within-doc HOF alternative is O(tokens²)
    per doc and dies on long documents). Docs with no bigrams score 0.
    """
    grams = df.select(
        F.col(id_col),
        F.length(text_col).alias("__nc"),
        F.explode(_bigram_strings(text_col)).alias("g"),
    )
    mass = (
        grams.groupBy(id_col, "__nc", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col, "__nc")
        .agg(F.max(F.col("c") * F.length("g")).alias("mass"))
        .select(
            id_col,
            F.floor(
                F.col("mass").cast("double")
                * F.lit(1_000_000.0)
                / F.col("__nc").cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("rep_frac_q"),
        )
    )
    return (
        df.select(id_col)
        .join(mass, id_col, "left")
        .select(
            id_col,
            F.coalesce("rep_frac_q", F.lit(0)).cast("long").alias(
                "rep_frac_q"
            ),
        )
    )


def repetition_topk(
    df: DataFrame,
    k: int = REP_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The k most bigram-repetitive documents (the ones a Gopher-style
    repetition gate removes first). TakeOrderedAndProject."""
    return (
        top_bigram_char_mass(df, id_col, text_col)
        .orderBy(F.desc("rep_frac_q"), id_col)
        .limit(k)
    )


# hashed sentence-embedding constants (shared with the q28 oracle)
EMB_DIM = 16
EMB_WRANGE = 2001


def hashed_embedding(col: str = "text", dim: int = EMB_DIM) -> Column:
    """fastText-style sentence embedding INFERENCE as a column
    expression: v[d] = Σ_token w(token, d), with projection weights
    w = (md5(token ':' d) mod 2001) − 1000 — a deterministic
    bag-of-words random projection standing in for a learned
    embedding model (a production model swaps the weight expression
    for a broadcast matrix lookup; plan shape identical). Bridges the
    documents table to the vector operators: text → array<long> →
    knn/ANN/dedup, all engine-exact integers, zero Python."""
    toks = _tokens(col)

    def comp(d: Column) -> Column:
        return F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + _md5_u32_str(F.concat_ws(":", t, d.cast("string")))
            % F.lit(EMB_WRANGE)
            - F.lit((EMB_WRANGE - 1) // 2),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), comp)


# fertility/compression quantum (parts-per-million, shared with the
# q21 'fert' oracle)
FERT_PPM = 1_000_000


def tokenizer_fertility(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    with_vocab: bool = False,
) -> DataFrame:
    """Tokenizer-fit diagnostics per group: document/word/sub-token/
    char totals, FERTILITY (sub-word tokens per word, the standard
    "is this tokenizer a good fit for this language" number — high
    fertility means the tokenizer fragments the language and eats
    context budget) and COMPRESSION (chars per sub-word token).
    Sub-word tokens are the GPT-2-shaped ``BPE_ISH_RE``; words are
    whitespace ``TOKEN_RE`` tokens.

    Ratios are exact integer parts-per-million
    (``(FERT_PPM · num) div den``, 0 when the denominator is 0) so
    they are order-independent and cross-engine reproducible; the
    scaled numerators need per-group char totals below ~9.2e12 (ANSI
    mode raises loudly past that — chunk the corpus or pre-aggregate
    per shard and merge).

    One map-side-combining scan; ``with_vocab=True`` adds the exact
    distinct-word count per group (type-token ratio's numerator) at
    the cost of one (group, word) shuffle bounded by the vocabulary.

    Returns ``(group_col, n_docs, n_words, n_sub_tokens, n_chars[,
    n_distinct_words], fertility_ppm, chars_per_sub_token_ppm)``."""
    base = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(text_col).cast("long")).alias("n_words"),
        F.sum(bpe_ish_token_count(text_col).cast("long")).alias(
            "n_sub_tokens"
        ),
        F.sum(F.length(text_col).cast("long")).alias("n_chars"),
    )
    if with_vocab:
        vocab = (
            df.select(
                F.col(group_col),
                F.explode(
                    F.regexp_extract_all(
                        F.col(text_col), F.lit(TOKEN_RE), F.lit(0)
                    )
                ).alias("__w"),
            )
            .groupBy(group_col)
            .agg(F.count_distinct("__w").cast("long").alias("n_distinct_words"))
        )
        base = base.join(vocab, group_col, "left").withColumn(
            "n_distinct_words",
            F.coalesce(F.col("n_distinct_words"), F.lit(0).cast("long")),
        )
    return base.withColumn(
        "fertility_ppm",
        F.when(
            F.col("n_words") > 0,
            F.expr(f"({FERT_PPM}L * n_sub_tokens) div n_words"),
        ).otherwise(F.lit(0).cast("long")),
    ).withColumn(
        "chars_per_sub_token_ppm",
        F.when(
            F.col("n_sub_tokens") > 0,
            F.expr(f"({FERT_PPM}L * n_chars) div n_sub_tokens"),
        ).otherwise(F.lit(0).cast("long")),
    )


# domain-shift divergence constants (shared with the q21 oracle)
KL_VOCAB_K = 50
KL_TERM_SCALE = 1_000_000_000


def source_kl_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    vocab_k: int = KL_VOCAB_K,
) -> DataFrame:
    """Domain-shift diagnostic: per group (source/domain/language),
    the KL divergence of its word distribution from the corpus
    distribution over the corpus's top-``vocab_k`` vocabulary, with
    add-one smoothing — the statistic data-mixing work uses to see
    which domains look unlike the blend (and to pick mixture weights).

    D_KL(P_g ‖ P_c) = Σ_w p_g(w)·ln(p_g(w)/p_c(w)), p(w) =
    (count+1)/(total+K). Each term is quantized to an integer at 1e9
    BEFORE the sum (the repo's per-term quantization rule), so the
    aggregation is an order-free exact integer sum — no float
    accumulation-order hazard on either engine. kl_q is in 1e-9
    units.

    Plan: one explode → (group, word) count shuffle, reduced to the
    K-word vocab by a broadcast semi-join; the divergence itself
    aggregates O(groups × K) rows. Corpus totals come FROM the group
    table (no second scan).
    """
    words = df.select(
        F.col(group_col).alias("g"),
        F.explode(_tokens(text_col)).alias("w"),
    )
    gw = words.groupBy("g", "w").agg(F.count(F.lit(1)).alias("c"))
    cw = gw.groupBy("w").agg(F.sum("c").alias("cc"))
    vocab = cw.orderBy(F.desc("cc"), "w").limit(vocab_k)
    gtot = gw.groupBy("g").agg(F.sum("c").alias("gt"))
    ctot = cw.agg(F.sum("cc").alias("ct"))
    # dense (group × vocab) grid so zero-count words still contribute
    # their smoothed mass; vocab and totals are tiny broadcasts
    grid = (
        gtot.crossJoin(F.broadcast(vocab))
        .join(gw, ["g", "w"], "left")
        .crossJoin(F.broadcast(ctot))
        .select(
            "g",
            "w",
            "cc",
            "gt",
            "ct",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    k = F.lit(float(vocab_k))
    pg = (F.col("c") + 1).cast("double") / (F.col("gt").cast("double") + k)
    pc = (F.col("cc") + 1).cast("double") / (F.col("ct").cast("double") + k)
    term_q = F.floor(
        pg * F.log(pg / pc) * F.lit(float(KL_TERM_SCALE)) + F.lit(0.5)
    ).cast("long")
    return (
        grid.groupBy("g")
        .agg(F.sum(term_q).alias("kl_q"))
        .withColumnRenamed("g", group_col)
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split each document's token stream into overlapping
    context-window chunks — the preprocessing step between curation
    and sequence packing when single documents exceed the training
    context (every long-context pipeline does this; HF's
    ``return_overflowing_tokens`` shape).

    Chunk k covers tokens ``[k·stride, k·stride + max_tokens)`` with
    ``stride = max_tokens − overlap``; the chunk count is the minimal
    cover ``1 + ceil(max(nt − max_tokens, 0) / stride)`` (zero for
    empty docs), so every token lands in at least one chunk and no
    chunk is empty. Pure map-side JVM HOFs over one shared token
    array — no shuffle, no Python; the explode multiplies rows by
    ~nt/stride, which a cluster absorbs as scan-side fan-out.

    Returns (id_col, chunk_idx, chunk_text, n_tokens). The
    ``F.sequence`` descending trap (CLAUDE.md) is guarded: empty docs
    take the empty-array branch, never ``sequence(0, −1)``."""
    if overlap >= max_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < max_tokens ({max_tokens})"
        )
    stride = max_tokens - overlap
    toks = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
    nt = F.size(toks)
    n_chunks = F.when(nt <= 0, F.lit(0)).otherwise(
        F.lit(1)
        + F.ceil(
            F.greatest(nt - F.lit(max_tokens), F.lit(0))
            / F.lit(float(stride))
        ).cast("int")
    )
    idx = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    d = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        nt.alias("__nt"),
        F.explode(idx).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride
    return d.select(
        id_col,
        "chunk_idx",
        F.array_join(
            F.slice(F.col("__toks"), start + 1, max_tokens), " "
        ).alias("chunk_text"),
        F.least(F.lit(max_tokens), F.col("__nt") - start).alias("n_tokens"),
    )


# ------------------------------------------------- HTML extraction

# Planted-construct wrapper + extraction chain for the web-crawl
# front of the pipeline (the CCNet/RefinedWeb step BEFORE every text
# gate in this module). Shared constants drive BOTH the Spark
# expressions and the DuckDB oracle, so the chain's semantics —
# block-element removal order, entity decode order, whitespace
# squeeze — are pinned engine-portably.

HTML_BLOCK_RES = (
    r"(?s)<script\b[^>]*>.*?</script>",  # before tag strip: JS string
    r"(?s)<style\b[^>]*>.*?</style>",    # literals may contain tags
    r"(?s)<!--.*?-->",
)
HTML_TAG_RE = r"<[^>]+>"
# &amp; decodes LAST (standard order: never double-decode '&amp;lt;')
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)
# (literal, field) template: field None = literal, else column name
HTML_TEMPLATE = (
    ("<html><head><title>Doc ", None),
    (None, "id"),
    ("</title>\n<style>p {color: red;}</style>\n<script>var x = ", None),
    (None, "id"),
    ('; var s = "<b>bold</b>";</script>\n</head><body>\n<!-- hidden ', None),
    (None, "id"),
    (" -->\n<h1>Doc &amp; no.", None),
    (None, "id"),
    ('</h1>\n<p class="lead">', None),
    (None, "text"),
    ("</p>\n<div><span>tail &lt;", None),
    (None, "id"),
    ("&gt; &quot;q&quot; &#39;s&#39;</span></div>\n</body></html>", None),
)


def synth_html(id_col="doc_id", text_col="text") -> Column:
    """Deterministic HTML page around a document: real <script>,
    <style>, comment, entity, and nested-tag constructs keyed off the
    doc id, so the extractor is exercised on every rule it claims.
    Identical string on DuckDB via ``synth_html_sql``."""
    parts = []
    for lit, field in HTML_TEMPLATE:
        if field is None:
            parts.append(F.lit(lit))
        else:
            parts.append(
                F.col(id_col).cast("string")
                if field == "id"
                else F.col(text_col)
            )
    return F.concat(*parts)


def synth_html_sql(id_col="doc_id", text_col="text") -> str:
    parts = []
    for lit, field in HTML_TEMPLATE:
        if field is None:
            parts.append("'" + lit.replace("'", "''").replace("\n", "' || chr(10) || '") + "'")
        else:
            parts.append(
                f"CAST({id_col} AS VARCHAR)" if field == "id" else text_col
            )
    return "(" + " || ".join(parts) + ")"


def html_to_text(col: Column) -> Column:
    """Regex HTML → text extraction (map-only, whole-stage codegen —
    zero Python): script/style/comment blocks drop first (their
    bodies may contain markup-shaped string literals), then tags
    strip to spaces, then the five named entities + &#39; decode
    (&amp; last, the no-double-decode order), then whitespace
    squeezes to single spaces and trims.

    A regex chain, not an HTML parser: quoted '>' inside an attribute
    value ends the tag early (``<a title="a>b">``) — the standard
    fast-path tradeoff for crawl-scale extraction; a DOM pass would
    be a Pandas-UDF slow path for a rare construct."""
    out = col
    for pat in HTML_BLOCK_RES:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def _sql_str(s: str) -> str:
    """SQL string literal with '' escaping."""
    return "'" + s.replace("'", "''") + "'"


def html_to_text_sql(expr: str) -> str:
    """The identical chain as DuckDB SQL over ``expr``."""
    out = expr
    for pat in HTML_BLOCK_RES:
        out = f"regexp_replace({out}, {_sql_str(pat)}, ' ', 'g')"
    out = f"regexp_replace({out}, {_sql_str(HTML_TAG_RE)}, ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        out = f"replace({out}, {_sql_str(ent)}, {_sql_str(ch)})"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


# --------------------------------------------- PII: cards + IPs

# BigCode-style PII hardening (Allal et al. 2023, StarCoder pipeline):
# credit-card candidates are only redacted when they pass the Luhn
# checksum (ISO/IEC 7812) — pure integer digit folds, identical on
# both engines — and IPv4 literals redact by shape. Order matters:
# cards first (PHONE_RE would swallow a 16-digit run), then IPs, then
# the base URL/EMAIL/PHONE chain.

CC_RE = r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b"
IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def _luhn_sum(col: Column, shift: int = 0) -> Column:
    """Luhn digit fold over a pure-digit string: double the digits at
    even position-from-right (+``shift``), subtract 9 past 9, sum.
    ``shift=1`` is the fold used to DERIVE a check digit (every
    position moves one right once the digit is appended)."""
    n = F.length(col)
    contrib = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.when(
            ((n - i + F.lit(1 + shift)) % 2) == 0,
            F.when(
                F.substring(col, i, F.lit(1)).cast("int") * 2 > 9,
                F.substring(col, i, F.lit(1)).cast("int") * 2 - 9,
            ).otherwise(F.substring(col, i, F.lit(1)).cast("int") * 2),
        ).otherwise(F.substring(col, i, F.lit(1)).cast("int")),
    )
    total = F.aggregate(contrib, F.lit(0), lambda a, x: a + x)
    return F.when(n >= 1, total).otherwise(F.lit(0))


def _luhn_sum_sql(expr: str, shift: int = 0) -> str:
    d = f"CAST(substr({expr}, i, 1) AS INTEGER)"
    return f"""list_reduce(list_prepend(0, list_transform(
      range(1, length({expr}) + 1),
      i -> CASE WHEN (length({expr}) - i + {1 + shift}) % 2 = 0
                THEN CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9
                          ELSE {d} * 2 END
                ELSE {d} END)), (a, x) -> a + x)"""


def luhn_valid(col: Column) -> Column:
    """True iff the digit content of ``col`` (separators stripped) is
    a 13-19 digit string passing the Luhn checksum."""
    digits = F.regexp_replace(col, r"[ -]", "")
    n = F.length(digits)
    return (n >= 13) & (n <= 19) & ((_luhn_sum(digits) % 10) == 0)


def luhn_valid_sql(expr: str) -> str:
    digits = f"regexp_replace({expr}, '[ -]', '', 'g')"
    return (
        f"(length({digits}) BETWEEN 13 AND 19"
        f" AND ({_luhn_sum_sql(digits)}) % 10 = 0)"
    )


def luhn_check_digit(col: Column) -> Column:
    """The digit that completes a pure-digit string to Luhn-valid."""
    return ((10 - _luhn_sum(col, shift=1) % 10) % 10).cast("string")


def luhn_check_digit_sql(expr: str) -> str:
    return f"CAST((10 - ({_luhn_sum_sql(expr, shift=1)}) % 10) % 10 AS VARCHAR)"


def synth_pii(id_col: str = "doc_id", text_col: str = "text") -> Column:
    """Doc text with a planted card number (Luhn-VALID on even ids,
    off-by-one-check-digit INVALID on odd — so both redaction branches
    are exercised per corpus) and a planted IPv4, all derived from the
    id in-engine (the check digit is COMPUTED, not a constant)."""
    sid = F.col(id_col)
    base15 = F.concat(
        F.lit("4"),
        F.lpad((sid % 10_000_000).cast("string"), 7, "0"),
        F.lpad(((sid * 7919) % 10_000_000).cast("string"), 7, "0"),
    )
    check = luhn_check_digit(base15)
    bad = ((check.cast("int") + 1) % 10).cast("string")
    card = F.concat(
        base15, F.when((sid % 2) == 0, check).otherwise(bad)
    )
    ip = F.concat(
        F.lit("10."),
        (sid % 256).cast("string"),
        F.lit("."),
        ((sid * 31) % 256).cast("string"),
        F.lit("."),
        ((sid * 101) % 256).cast("string"),
    )
    return F.concat(
        F.col(text_col), F.lit(" card "), card, F.lit(" from "), ip
    )


def synth_pii_sql(id_col: str = "doc_id", text_col: str = "text") -> str:
    base15 = (
        f"('4' || lpad(CAST({id_col} % 10000000 AS VARCHAR), 7, '0')"
        f" || lpad(CAST(({id_col} * 7919) % 10000000 AS VARCHAR), 7, '0'))"
    )
    check = luhn_check_digit_sql(base15)
    bad = f"CAST((CAST({check} AS INTEGER) + 1) % 10 AS VARCHAR)"
    card = (
        f"({base15} || CASE WHEN {id_col} % 2 = 0 THEN {check}"
        f" ELSE {bad} END)"
    )
    ip = (
        f"('10.' || CAST({id_col} % 256 AS VARCHAR) || '.'"
        f" || CAST(({id_col} * 31) % 256 AS VARCHAR) || '.'"
        f" || CAST(({id_col} * 101) % 256 AS VARCHAR))"
    )
    return f"({text_col} || ' card ' || {card} || ' from ' || {ip})"


def redact_pii_extended(col: Column) -> Column:
    """URL/EMAIL/PHONE redaction plus Luhn-checked card numbers and
    IPv4 literals. Card candidates come from one regexp_extract_all;
    only checksum-valid ones are replaced (a fold of literal
    ``replace`` over the per-row valid list — no per-row Python), so
    a random 16-digit run survives as it should. All map-side JVM."""
    cands = F.regexp_extract_all(col, F.lit(CC_RE), F.lit(0))
    valid = F.filter(cands, luhn_valid)
    out = F.aggregate(
        valid, col, lambda acc, c: F.replace(acc, c, F.lit("<CC>"))
    )
    out = F.regexp_replace(out, IP_RE, "<IP>")
    out = F.regexp_replace(out, URL_RE, "<URL>")
    out = F.regexp_replace(out, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def redact_pii_extended_sql(expr: str) -> str:
    cands = f"regexp_extract_all({expr}, {_sql_str(CC_RE)})"
    valid = f"list_filter({cands}, c -> {luhn_valid_sql('c')})"
    out = (
        f"list_reduce(list_prepend({expr}, {valid}),"
        " (acc, c) -> replace(acc, c, '<CC>'))"
    )
    out = f"regexp_replace({out}, {_sql_str(IP_RE)}, '<IP>', 'g')"
    out = f"regexp_replace({out}, {_sql_str(URL_RE)}, '<URL>', 'g')"
    out = f"regexp_replace({out}, {_sql_str(EMAIL_RE)}, '<EMAIL>', 'g')"
    return f"regexp_replace({out}, {_sql_str(PHONE_RE)}, '<PHONE>', 'g')"


# --------------------------------- classifier TRAINING (Naive Bayes)

# The missing half of quality classification: hashed_linear_score
# SCORES with fixed weights; this TRAINS a multinomial Naive Bayes
# source/domain classifier from the corpus itself (the CCNet-style
# "which reference domain does this doc resemble" filter). Training
# is pure counting — one explode scan, vocab-sized shuffles — and
# every log-probability is quantized per DISTINCT rational once (the
# bigram-LM parity recipe), so scoring is exact integer sums and a
# DuckDB oracle re-derives predictions bit-for-bit.

NB_SCALE = PPL_SCALE


def nb_train(
    df: DataFrame,
    label_col: str = "source",
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int | None = None,
):
    """Multinomial NB with add-one smoothing. Returns (weights,
    classes): weights = (label, t, w_q) with
    w_q = floor(ln((c(t,label)+1)/(n_label+V))·S + 0.5) — a
    (classes × vocab)-bounded table; classes = (label, prior_q,
    oov_q) with prior_q from document frequencies and oov_q the
    unseen-token smoothing mass. One corpus scan; every aggregate is
    map-side combined; nothing is ever collected.

    At crawl scale the raw vocab is 10⁷–10⁸ distinct tokens, which
    makes the weight table itself a scale hazard; the fastText/CCNet
    norm is to bound it by construction: `min_count` drops tokens
    with global count below the floor, `max_vocab` keeps only the N
    globally-most-frequent tokens (count desc, token asc tiebreak —
    a TakeOrdered, not an unkeyed window). Pruned tokens score as
    OOV downstream, and V in the smoothing denominator is the PRUNED
    vocab size, so train and classify stay self-consistent. Defaults
    keep the historical exact behavior (no pruning)."""
    words = df.select(F.col(label_col).alias("label"), F.explode(_tokens(text_col)).alias("t"))
    cnt = words.groupBy("label", "t").agg(F.count(F.lit(1)).alias("c"))
    if min_count > 1 or max_vocab is not None:
        kept = cnt.groupBy("t").agg(F.sum("c").alias("gc"))
        if min_count > 1:
            kept = kept.filter(F.col("gc") >= min_count)
        if max_vocab is not None:
            kept = kept.orderBy(
                F.col("gc").desc(), F.col("t").asc()
            ).limit(max_vocab)
        cnt = cnt.join(kept.select("t"), "t")
    tot = cnt.groupBy("label").agg(F.sum("c").alias("n_l"))
    vocab = cnt.agg(F.countDistinct("t").alias("v"))
    ndocs = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("d_l")
    )
    n = df.agg(F.count(F.lit(1)).alias("n"))
    s = float(NB_SCALE)
    weights = (
        cnt.join(tot, "label")
        .crossJoin(F.broadcast(vocab))
        .select(
            "label",
            "t",
            F.floor(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("n_l") + F.col("v")).cast("double")
                )
                * F.lit(s)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("w_q"),
        )
    )
    classes = (
        ndocs.join(tot, "label")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n))
        .select(
            "label",
            F.floor(
                F.log(F.col("d_l").cast("double") / F.col("n").cast("double"))
                * F.lit(s)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("prior_q"),
            F.floor(
                F.log(
                    F.lit(1.0) / (F.col("n_l") + F.col("v")).cast("double")
                )
                * F.lit(s)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("oov_q"),
        )
    )
    return weights, classes


def nb_classify(
    df: DataFrame,
    weights: DataFrame,
    classes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document against every class and keep the argmax
    (ties to the alphabetically-first label). score = prior_q +
    Σ_matched w_q + (n_tokens − n_matched)·oov_q — exact integers.

    Plan: one token explode joined to the (classes × vocab)-bounded
    weight table, per-(doc, label) aggregation, then a doc×classes
    base (classes is O(labels) rows, broadcast) left-joined and
    ranked by a doc-keyed window — no unkeyed window, no per-row
    Python. The weights join is deliberately NOT forced broadcast:
    at crawl scale the weight table is (classes × vocab) rows and a
    mandatory broadcast OOMs driver and executors; AQE picks
    broadcast when the table is actually small, and degrades to a
    shuffle join otherwise (bound the table itself with nb_train's
    min_count / max_vocab knobs). Returns (id, pred_label, score_q,
    n_tokens)."""
    base = df.select(
        F.col(id_col),
        F.size(_tokens(text_col)).cast("long").alias("n_tokens"),
    )
    words = df.select(F.col(id_col), F.explode(_tokens(text_col)).alias("t"))
    matched = (
        words.join(weights, "t")
        .groupBy(id_col, "label")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("w_q").alias("sw"),
        )
    )
    scored = (
        base.crossJoin(F.broadcast(classes))
        .join(matched, [id_col, "label"], "left")
        .select(
            id_col,
            "label",
            "n_tokens",
            (
                F.col("prior_q")
                + F.coalesce(F.col("sw"), F.lit(0))
                + (F.col("n_tokens") - F.coalesce(F.col("m"), F.lit(0)))
                * F.col("oov_q")
            ).alias("score_q"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_q").desc(), F.col("label").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("label").alias("pred_label"),
            "score_q",
            "n_tokens",
        )
    )


# ------------------------------------------------- C4 quality filter

# The C4 cleaning pipeline (Raffel et al. 2020, "Exploring the Limits
# of Transfer Learning with T5", §2.2): line-level — keep only lines
# ending in a terminal punctuation mark, with at least five words,
# and without the word "javascript"; page-level — drop pages with
# fewer than three sentences, any bad word, the phrase "lorem ipsum",
# or a curly bracket. The reference engine has no text gates at all
# (/root/reference/timebox/timebox.py stores numeric series); this is
# part of the LLM-pipeline surface. Shared constants drive both the
# Spark HOF chain and the DuckDB oracle. Pure map-side JVM — the
# 100 TB cost is the scan itself.

C4_LINE_MIN_WORDS = 5
C4_MIN_SENTENCES = 3
C4_TERMINAL_RE = r'[.!?"]$'
C4_SENTENCE_RE = r"[.!?]"
# placeholder blocklist (stand-in for the LDNOOBW word list C4 used)
C4_BADWORDS = ("obscenityx", "slurwordx")
C4_BADWORD_RE = r"\b(?:" + "|".join(C4_BADWORDS) + r")\b"


def synth_page(id_col: str = "doc_id", text_col: str = "text") -> Column:
    """Deterministic multi-line 'web page' around a document that
    plants every C4 rule trigger: the doc text as a terminated
    sentence, a no-terminal-punct nav line, a javascript line, a
    too-short line, a stable five-word keeper — plus page-level
    plants on id residues (lorem ipsum on id%5=0, a curly-brace code
    line on id%7=0, a blocklist word on id%11=0), so both the kept
    and dropped branch of every rule is exercised per corpus.
    Identical string on DuckDB via ``synth_page_sql``."""
    sid = F.col(id_col)
    lines = [
        F.concat(F.col(text_col), F.lit(".")),
        F.lit("Click here to read more"),
        F.lit("Please enable javascript to view this page."),
        F.lit("Too short."),
        F.lit("This stable sentence has six words."),
        F.when((sid % 5) == 0, F.lit("Lorem ipsum dolor sit amet.")).otherwise(
            F.lit("A perfectly ordinary closing sentence here.")
        ),
        F.when((sid % 7) == 0, F.lit("function f() { return 1; }")).otherwise(
            F.lit("No code blocks appear on this page.")
        ),
        F.when((sid % 11) == 0, F.lit("Contains the word obscenityx sadly.")).otherwise(
            F.lit("Family friendly content all the way.")
        ),
    ]
    return F.concat_ws("\n", *lines)


def synth_page_sql(id_col: str = "doc_id", text_col: str = "text") -> str:
    lines = [
        f"({text_col} || '.')",
        "'Click here to read more'",
        "'Please enable javascript to view this page.'",
        "'Too short.'",
        "'This stable sentence has six words.'",
        f"CASE WHEN {id_col} % 5 = 0 THEN 'Lorem ipsum dolor sit amet.'"
        " ELSE 'A perfectly ordinary closing sentence here.' END",
        f"CASE WHEN {id_col} % 7 = 0 THEN 'function f() {{ return 1; }}'"
        " ELSE 'No code blocks appear on this page.' END",
        f"CASE WHEN {id_col} % 11 = 0 THEN 'Contains the word obscenityx sadly.'"
        " ELSE 'Family friendly content all the way.' END",
    ]
    return "concat_ws(chr(10), " + ", ".join(lines) + ")"


def c4_clean(col: Column) -> Column:
    """C4 line filter: split on newlines, keep lines that (rtrimmed)
    end in terminal punctuation, have >= C4_LINE_MIN_WORDS words, and
    don't contain the word 'javascript' (case-insensitive); rejoin
    with newlines. One HOF chain in whole-stage codegen."""
    lines = F.split(col, "\n")
    kept = F.filter(
        lines,
        lambda l: F.rtrim(l).rlike(C4_TERMINAL_RE)
        & (F.size(F.regexp_extract_all(l, F.lit(TOKEN_RE), F.lit(0)))
           >= C4_LINE_MIN_WORDS)
        & ~F.lower(l).rlike(r"\bjavascript\b"),
    )
    return F.array_join(kept, "\n")


def c4_clean_sql(expr: str) -> str:
    """The identical line filter as DuckDB SQL over ``expr``."""
    cond = (
        f"regexp_matches(rtrim(l), {_sql_str(C4_TERMINAL_RE)})"
        f" AND length(regexp_extract_all(l, {_sql_str(TOKEN_RE)}))"
        f" >= {C4_LINE_MIN_WORDS}"
        f" AND NOT regexp_matches(lower(l), '\\bjavascript\\b')"
    )
    return (
        f"array_to_string(list_filter(string_split({expr}, chr(10)),"
        f" l -> {cond}), chr(10))"
    )


def c4_doc_pass(orig: Column, cleaned: Column) -> Column:
    """C4 page gate over (original, line-cleaned) text: >=
    C4_MIN_SENTENCES sentence enders in the cleaned text, and the
    ORIGINAL page (pre-line-filter, as in C4) has no blocklist word,
    no 'lorem ipsum', and no curly bracket. 1/0 long."""
    n_sent = F.size(
        F.regexp_extract_all(cleaned, F.lit(C4_SENTENCE_RE), F.lit(0))
    )
    ok = (
        (n_sent >= C4_MIN_SENTENCES)
        & ~F.lower(orig).rlike(C4_BADWORD_RE)
        & ~F.contains(F.lower(orig), F.lit("lorem ipsum"))
        & ~F.contains(orig, F.lit("{"))
    )
    return F.when(ok, F.lit(1)).otherwise(F.lit(0)).cast("long")


def c4_doc_pass_sql(orig: str, cleaned: str) -> str:
    return (
        f"CAST(CASE WHEN length(regexp_extract_all({cleaned},"
        f" {_sql_str(C4_SENTENCE_RE)})) >= {C4_MIN_SENTENCES}"
        f" AND NOT regexp_matches(lower({orig}), {_sql_str(C4_BADWORD_RE)})"
        f" AND NOT contains(lower({orig}), 'lorem ipsum')"
        f" AND NOT contains({orig}, '{{') THEN 1 ELSE 0 END AS BIGINT)"
    )


# --------------------------------------------- token-id export

# The last step to a training-ready corpus: token STRINGS (whitespace
# or BPE) become contiguous integer ids a trainer consumes. The
# reference engine stores numeric series only (no text at all,
# /root/reference/timebox/timebox.py:20) — this is LLM-pipeline
# extension surface. Constants shared with the q21 DuckDB oracle.
VOCAB_EXPORT_MAX = 512   # manifest bound: top-N tokens by frequency
TOKID_UNK = 0            # reserved OOV id; vocab tokens get 1..V
_TOKID_P = 1_000_003
_TOKID_Q = 1_000_000_007


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    max_vocab: int = VOCAB_EXPORT_MAX,
    min_count: int = 1,
    tokens: Column | None = None,
) -> DataFrame:
    """Contiguous-id vocab manifest (t, n, id): ids 1..V assigned by
    global frequency rank (count desc, token asc tiebreak); id 0 is
    reserved for OOV (``TOKID_UNK``). The manifest is bounded BY
    CONSTRUCTION — count, filter by ``min_count``, TakeOrdered the
    top ``max_vocab`` — so the ranking window runs over at most
    ``max_vocab`` rows (never a data-sized unkeyed window) and every
    downstream consumer can broadcast it.

    ``tokens`` overrides the whitespace/regex tokenizer with any
    ``array<string>`` column expression — e.g. ``apply_bpe(...)``
    output — so BPE vocabularies build through the same path."""
    toks = tokens if tokens is not None else _tokens(text_col)
    counts = (
        df.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_count > 1:
        counts = counts.filter(F.col("n") >= min_count)
    top = counts.orderBy(F.col("n").desc(), F.col("t").asc()).limit(max_vocab)
    w = Window.orderBy(F.col("n").desc(), F.col("t").asc())
    return top.withColumn("id", F.row_number().over(w).cast("long"))


# above this many manifest rows, tokens_to_ids switches from the
# plan-literal map probe to a broadcast join — a 100k-entry literal
# would bloat every task binary and the Catalyst tree
TOKID_LITERAL_MAX = 4096


def tokens_to_ids(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: Column | None = None,
    literal_max: int = TOKID_LITERAL_MAX,
    vocab_size: int | None = None,
) -> DataFrame:
    """(id, ids array<long>, n_tokens, n_oov): every document's exact
    token-id sequence, entirely JVM-side, OOV → ``TOKID_UNK``.

    ``vocab_size`` is a caller hint (``build_vocab``'s output is
    bounded by its ``max_vocab`` argument, known statically at every
    call site): when it exceeds ``literal_max`` the strategy probe —
    an eager ``limit(literal_max+1).collect()`` that executes the
    vocab plan — is skipped entirely and the join path runs without
    ever collecting the manifest.

    Two physical strategies with identical results, chosen by vocab
    size (``literal_max`` boundary):

    - **literal** (small manifests, e.g. ``build_vocab``'s ≤512): the
      manifest ships as a ``map_from_arrays`` PLAN LITERAL and the
      per-token lookup is ``transform(toks, t ->
      coalesce(try_element_at(vmap, t), 0))`` — map-only, no shuffle,
      zero Python (the round-9 ``weak``: the old Arrow kernel looped
      per token in Python). ``try_element_at`` because ANSI mode
      throws on missing map keys.
    - **join** (production vocabs, 32k–100k+): posexplode tokens →
      broadcast hash join against the vocab table → re-assemble the
      sequence with a doc-keyed ``array_sort(collect_list(struct(pos,
      id)))`` (group size = one document's tokens). One exchange on
      the doc key, vocab never collected to a literal — the standard
      shape at any corpus size.

    ``tokens`` overrides the whitespace/regex tokenizer with any
    ``array<string>`` column (e.g. ``apply_bpe`` output), so BPE ids
    export through the same path as whitespace ids."""
    toks = tokens if tokens is not None else _tokens(text_col)
    unk = F.lit(TOKID_UNK).cast("long")
    if vocab_size is not None and vocab_size > literal_max:
        head = None  # join path decided statically: no probe job
    else:
        head = vocab.select("t", "id").limit(literal_max + 1).collect()
    if head is None or len(head) > literal_max:
        ex = df.select(
            F.col(id_col), F.posexplode_outer(toks).alias("__pos", "__t")
        )
        joined = ex.join(
            F.broadcast(
                vocab.select(F.col("t").alias("__t"), F.col("id").alias("__vid"))
            ),
            "__t",
            "left",
        )
        seqs = joined.groupBy(id_col).agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        # posexplode_outer emits one (null, null) row
                        # for an empty array so empty docs survive;
                        # filter it back out of the sequence here
                        F.when(
                            F.col("__pos").isNotNull(),
                            F.struct(
                                F.col("__pos"),
                                F.coalesce(F.col("__vid").cast("long"), unk)
                                .alias("__vid"),
                            ),
                        )
                    )
                ),
                lambda s: s["__vid"],
            ).alias("ids")
        )
        out = df.select(id_col).join(seqs, id_col, "left").select(
            id_col,
            F.coalesce("ids", F.array().cast("array<long>")).alias("ids"),
        )
    else:
        rows = head
        if rows:
            vmap = F.map_from_arrays(
                F.lit([r["t"] for r in rows]),
                F.lit([int(r["id"]) for r in rows]),
            )
            ids = F.transform(
                toks, lambda t: F.coalesce(F.try_element_at(vmap, t), unk)
            )
        else:
            ids = F.transform(toks, lambda t: unk)
        # NULL tokens (e.g. NULL text) → empty sequence, matching the
        # join path — the two strategies must be result-identical or
        # a vocab-size change would silently alter the output
        ids = F.coalesce(ids, F.array().cast("array<long>"))
        # two-step select: `ids` is referenced three times downstream
        # and is expensive (regex tokenize + map probe); aliasing it
        # in its own projection keeps CollapseProject from inlining
        # it 3×
        out = df.select(F.col(id_col), ids.alias("ids"))
    return out.select(
        id_col,
        "ids",
        F.size("ids").cast("long").alias("n_tokens"),
        F.size(
            F.filter("ids", lambda i: i == F.lit(TOKID_UNK))
        ).cast("long").alias("n_oov"),
    )


def save_tokenizer(merges, vocab: DataFrame, path: str) -> None:
    """Persist the tokenizer artifact — the BPE merge list in
    training order plus the contiguous-id vocab manifest — as one
    JSON file (tmp+rename atomic). Both halves are bounded by
    construction (N merges, ≤ ``max_vocab`` manifest rows), so this
    is a driver-side write of the SAME literals the Spark plans
    embed; the trainer side reads it without any engine."""
    import json
    import os

    rows = [
        [r["t"], int(r["n"]), int(r["id"])]
        for r in vocab.orderBy("id").collect()
    ]
    payload = {
        "merges": [[a, b, int(n)] for a, b, n in merges],
        "vocab": rows,
        "unk_id": TOKID_UNK,
    }
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(payload, fh, ensure_ascii=False)
    os.replace(tmp, path)


def load_tokenizer(spark, path: str):
    """Load a ``save_tokenizer`` artifact: returns (merges, vocab)
    where merges is the [(a, b, count), ...] list ``apply_bpe``
    consumes and vocab is the (t, n, id) DataFrame
    ``tokens_to_ids`` consumes."""
    import json

    with open(path, encoding="utf-8") as fh:
        payload = json.load(fh)
    merges = [(a, b, int(n)) for a, b, n in payload["merges"]]
    vocab = spark.createDataFrame(
        [(t, int(n), int(i)) for t, n, i in payload["vocab"]],
        "t string, n long, id long",
    )
    return merges, vocab


def export_token_shards(
    df: DataFrame,
    vocab: DataFrame,
    path: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: Column | None = None,
) -> DataFrame:
    """Write the id sequences as a sharded training-ready parquet
    corpus: (doc_id, shard, ids array<long>), one file set per shard
    via partitionBy — the layout a data loader streams. Shard =
    md5(doc_id) mod n_shards (deterministic, size-balanced).
    ``tokens`` passes through to ``tokens_to_ids`` so BPE ids export
    the same way. Returns the read-back DataFrame so callers can
    digest what was actually persisted."""
    seqs = tokens_to_ids(df, vocab, id_col, text_col, tokens).withColumn(
        "shard",
        (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
            ).cast("long")
            % n_shards
        ).cast("int"),
    )
    (
        seqs.select(id_col, "shard", "ids")
        .repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return df.sparkSession.read.parquet(path)


def token_id_digest(
    seqs: DataFrame, id_col: str = "doc_id", keep: tuple = ()
) -> DataFrame:
    """(id, dg): dg = Σ_pos ((id_at_pos + 1) % P)·(pos % P) mod Q over
    the 1-based positions — pins EVERY position's id (the +1 keeps
    OOV id 0 visible; a swapped, dropped, or re-mapped token changes
    dg). Per-term modulus keeps the sum in BIGINT under ANSI at any
    sequence length. Empty sequences digest to 0 (the F.sequence
    descending trap is guarded)."""
    p, q = _TOKID_P, _TOKID_Q
    idx = F.when(
        F.size("ids") > 0, F.sequence(F.lit(1), F.size("ids"))
    ).otherwise(F.array().cast("array<int>"))
    dg = F.aggregate(
        F.zip_with(
            F.col("ids"),
            idx,
            lambda i, pos: ((i + 1) % p) * (pos.cast("long") % p) % q,
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return seqs.select(
        F.col(id_col), *[F.col(c) for c in keep], dg.alias("dg")
    )
