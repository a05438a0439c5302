"""URL curation operators: canonicalization, URL-level dedup, and
domain blocklist filtering — the web-crawl curation stages that run
BEFORE text ever loads (C4 and RefinedWeb both dedup and filter by
URL first; the reference has no URL surface at all, so this is part
of the SURVEY §2.7 LLM-pipeline extension).

Everything is JVM-side `pyspark.sql.functions` regex/string built-ins
— map-only per row, no UDFs — and every regex constant is shared with
a DuckDB renderer (:func:`duckdb_canonical_sql` /
:func:`duckdb_canonical_host_sql`) so the q54 'url_*' members drive
the exact canonical strings bit-for-bit against the oracle. Patterns
stay in the RE2-safe subset (no lookaround/backrefs) per the repo's
cross-engine regex rule; DuckDB's `regexp_replace` replaces only the
first match by default, so the renderer passes ``'g'`` explicitly
where Spark's replace-all semantics are assumed.

Canonicalization (conservative, structure-preserving):

- fragment stripped (never sent to servers);
- scheme and host lowercased (path/query case preserved — they are
  case-significant on real servers);
- default port stripped (``:80`` for http, ``:443`` for https; any
  other port kept);
- leading ``www.`` stripped from the host;
- tracking query parameters removed (``utm_*``, ``gclid``,
  ``fbclid``, ``ref``) with separators repaired; remaining parameter
  ORDER is preserved (reordering changes semantics on some servers —
  deliberately not done);
- trailing slashes collapsed; an empty path becomes ``/``.

A value that does not parse as ``scheme://...`` passes through
unchanged (a filter can drop non-URLs explicitly; silent mutation of
unknown strings would corrupt joins against the raw column).

100 TB posture: every operator here is a map-only column expression;
`url_dedup`'s window and count are keyed by the canonical URL (never
unkeyed), and `domain_blocklist_filter` is a literal `isin` for small
lists or a broadcast anti-join for large ones — no data-sized shuffle
beyond the keyed dedup window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# scheme://host[:port] + path?query, group 3 stops at '#' so the
# fragment never survives extraction
URL_PARTS_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^#]*)"
# tracking params, matched WITH their leading separator against a
# query string that has been prefixed with '&' (so the first param
# needs no special case); applied replace-ALL
TRACKING_PARAM_RE = r"&(utm_[a-zA-Z0-9_]+|gclid|fbclid|ref)=[^&]*"
# last two dot-labels — a documented heuristic, not a public-suffix
# list: 'a.b.co.uk' yields 'co.uk'. Swap in a PSL join where correct
# eTLD+1 grouping matters.
REGISTRABLE_DOMAIN_RE = r"([^.]+\.[^.]+)$"


def _col(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _canon_pieces(col) -> tuple[Column, Column, Column, Column]:
    """(raw_scheme_match, scheme, canonical_authority, canonical_rest)
    — the shared decomposition behind canonicalize_url/url_host. The
    authority is host[:port] (non-default port kept — it is part of
    the canonical identity); ``url_host`` strips the port."""
    c = _col(col)
    g1 = F.regexp_extract(c, URL_PARTS_RE, 1)
    scheme = F.lower(g1)
    hp = F.lower(F.regexp_extract(c, URL_PARTS_RE, 2))
    hp = (
        F.when(scheme == "http", F.regexp_replace(hp, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hp, ":443$", ""))
        .otherwise(hp)
    )
    host = F.regexp_replace(hp, r"^www\.", "")
    g3 = F.regexp_extract(c, URL_PARTS_RE, 3)
    path = F.regexp_replace(
        F.regexp_extract(g3, r"^([^?]*)", 1), "/+$", ""
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.regexp_extract(g3, r"\?(.*)$", 1)
    q = F.regexp_replace(F.concat(F.lit("&"), q), TRACKING_PARAM_RE, "")
    q = F.regexp_replace(F.regexp_replace(q, "^&+", ""), "&+$", "")
    rest = F.concat(
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return g1, scheme, host, rest


def canonicalize_url(col) -> Column:
    """Canonical form of a URL column (rules in the module docstring);
    non-URL values pass through unchanged."""
    g1, scheme, host, rest = _canon_pieces(col)
    return F.when(g1 == "", _col(col)).otherwise(
        F.concat(scheme, F.lit("://"), host, rest)
    )


def url_host(col) -> Column:
    """Canonical host of a URL column (lowercased, ANY port and
    leading www. stripped); '' for non-URL values. The port belongs to
    the canonical URL's authority, not to the host — blocklists and
    domain grouping must not split on it."""
    _, _, authority, _ = _canon_pieces(col)
    return F.regexp_replace(authority, ":[0-9]+$", "")


def registrable_domain(host_col) -> Column:
    """Last two dot-labels of a host — the blocklist/grouping key
    (heuristic; see REGISTRABLE_DOMAIN_RE). '' when the host has no
    dot. For correct eTLD+1 grouping under multi-label public
    suffixes (a.b.co.uk → b.co.uk, not co.uk) use
    :func:`registrable_domain_psl`; this stays the default so the q54 oracle constants are unchanged."""
    return F.regexp_extract(_col(host_col), REGISTRABLE_DOMAIN_RE, 1)


# Compact public-suffix rule set (round-15 verdict task 3): the
# highest-traffic multi-label entries of the public suffix list
# (publicsuffix.org — the rule SYNTAX is theirs: plain rules,
# '*.'-wildcards matching exactly one label, '!'-exceptions), NOT the
# full list — pass the real PSL as `rules`/a DataFrame where full
# coverage matters. Single-label TLDs need no entry (the PSL default
# rule '*' already makes any unknown final label a public suffix).
PUBLIC_SUFFIX_RULES_COMPACT: tuple[str, ...] = (
    # United Kingdom
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk",
    "sch.uk", "ac.uk", "gov.uk", "nhs.uk", "police.uk",
    # Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au",
    "id.au", "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz",
    "school.nz", "geek.nz", "gen.nz", "maori.nz",
    # Japan / Korea / Taiwan / Hong Kong / China / Singapore
    "co.jp", "ne.jp", "or.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr", "ac.kr",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    # South / Southeast Asia
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "ac.in", "edu.in", "gov.in", "res.in", "nic.in",
    "co.th", "in.th", "or.th", "ac.th", "go.th", "net.th",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "co.id", "or.id", "ac.id", "go.id", "web.id", "sch.id", "net.id",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "biz.vn",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    "com.bd", "net.bd", "org.bd", "edu.bd", "gov.bd",
    # Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br",
    "adv.br", "ind.br", "inf.br", "blog.br",
    "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar", "int.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "nom.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe",
    "com.ve", "net.ve", "org.ve", "co.ve", "gob.ve",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy",
    "com.ec", "com.cl", "gob.cl", "gov.cl",
    # Africa / Middle East
    "co.za", "net.za", "org.za", "gov.za", "ac.za", "web.za",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il",
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr", "gen.tr",
    "bel.tr", "web.tr",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "kiev.ua",
    # Europe (multi-label ccTLD registries)
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "com.pt", "edu.pt", "gov.pt", "org.pt", "net.pt",
    "com.gr", "edu.gr", "net.gr", "org.gr", "gov.gr",
    "com.ro", "org.ro", "tm.ro", "nt.ro",
    "com.ru", "net.ru", "org.ru", "msk.ru", "spb.ru",
    "co.at", "or.at", "ac.at", "gv.at",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    # wildcard + exception semantics (live PSL entries): every label
    # under .ck is a public suffix EXCEPT www.ck, which is registrable
    "*.ck", "!www.ck",
    # wildcards for registries that delegate per-label
    "*.bn", "*.er", "*.fk", "*.mm", "*.np", "*.za.bz",
    # infra suffixes a crawl actually meets
    "github.io", "gitlab.io", "blogspot.com", "appspot.com",
    "herokuapp.com", "netlify.app", "vercel.app", "web.app",
    "firebaseapp.com", "azurewebsites.net", "cloudfront.net",
    "amazonaws.com", "*.compute.amazonaws.com", "wordpress.com",
    "tumblr.com", "fastly.net", "github.dev", "pages.dev",
    "workers.dev", "repl.co", "readthedocs.io", "neocities.org",
)


def load_psl(source, sections: Sequence[str] | None = None) -> tuple[str, ...]:
    """Parse the REAL public suffix list file format
    (``public_suffix_list.dat``, publicsuffix.org/list/) into the rule
    tuple :func:`registrable_domain_psl` consumes — the full-coverage path
    the compact built-in set deliberately is not.

    ``source`` is a file path (a string/``os.PathLike`` naming an
    existing file), the file's TEXT (any string containing a newline),
    or an iterable of lines. Format handling per the PSL spec:

    - ``//`` comment lines and blanks are dropped;
    - each rule line is read up to the first whitespace;
    - rules are lowercased; IDN rules (Unicode labels) pass through
      as-is — the matchers compare lowercased host labels literally,
      so Unicode hosts match Unicode rules (punycode hosts need a
      punycode list; the PSL ships Unicode);
    - the ICANN/PRIVATE section markers (``// ===BEGIN ICANN
      DOMAINS===`` etc.) are tracked: pass ``sections={'icann'}`` to
      drop the private-registry rules (github.io and friends) or
      ``{'private'}`` for the inverse; ``None`` keeps both. Rules
      outside any marker are treated as ICANN.

    Purely a driver-side parse of an O(10k)-line text file — the
    resulting rules feed the literal-predicate matcher; nothing here
    touches executors."""
    import os

    if isinstance(source, (str, os.PathLike)):
        text_like = os.fspath(source) if not isinstance(source, str) else source
        if "\n" not in text_like and os.path.exists(text_like):
            with open(text_like, encoding="utf-8") as fh:
                lines = fh.read().splitlines()
        else:
            lines = str(text_like).splitlines()
    else:
        lines = list(source)
    want = None if sections is None else {s.lower() for s in sections}
    rules: list[str] = []
    section = "icann"
    for raw in lines:
        line = raw.strip()
        if not line:
            continue
        if line.startswith("//"):
            marker = line.replace(" ", "").upper()
            if "===BEGINICANNDOMAINS===" in marker:
                section = "icann"
            elif "===BEGINPRIVATEDOMAINS===" in marker:
                section = "private"
            elif "===END" in marker:
                section = "icann"
            continue
        rule = line.split()[0].lower()
        if rule == "*":
            # the universal default rule is built into the matchers
            # (unknown final label → last two labels); as an explicit
            # 1-label exact rule it would be redundant, not wrong
            continue
        if want is None or section in want:
            rules.append(rule)
    return tuple(rules)


def _psl_rule_groups(rules) -> tuple[dict, dict, dict, int]:
    """Parse PSL-syntax rules into {label_count: [suffix,...]} maps:
    (exact, wildcard_parents, exceptions, max_match_labels). Wildcard
    parents are keyed by the labels AFTER '*.' (the rule matches one
    more label than its parent); exceptions by the labels after '!'."""
    exact: dict[int, list[str]] = {}
    wild: dict[int, list[str]] = {}
    exc: dict[int, list[str]] = {}
    maxk = 1
    for raw in rules:
        r = raw.strip().lower()
        if not r or r.startswith("//"):
            continue
        if r.startswith("!"):
            key = r[1:]
            k = key.count(".") + 1
            exc.setdefault(k, []).append(key)
            maxk = max(maxk, k)
        elif r.startswith("*."):
            key = r[2:]
            k = key.count(".") + 1
            wild.setdefault(k, []).append(key)
            maxk = max(maxk, k + 1)
        else:
            k = r.count(".") + 1
            exact.setdefault(k, []).append(r)
            maxk = max(maxk, k)
    return exact, wild, exc, maxk


def duckdb_registrable_domain_psl_sql(
    src_sql: str,
    host_col: str = "host",
    out_col: str = "domain",
    rules=None,
) -> str:
    """DuckDB rendering of :func:`registrable_domain_psl`, generated
    from the SAME parsed rule groups (``_psl_rule_groups``) so the two
    engines share one source of truth — the q54 'psl' member drives
    them bit-for-bit. Returns a full SELECT preserving every column of
    ``src_sql`` plus ``out_col``; same semantics: longest matching
    rule, ``*.`` wildcards match exactly one label, ``!`` exceptions
    prevail (longest exception first), unknown final labels fall to
    the default ``*`` rule, a host that IS a public suffix (or has no
    dot) yields ''."""
    exact, wild, exc, maxk = _psl_rule_groups(
        PUBLIC_SUFFIX_RULES_COMPACT if rules is None else rules
    )

    def lit_list(vals) -> str:
        return ", ".join("'" + v.replace("'", "''") + "'" for v in vals)

    def sfx(k: int) -> str:
        return f"array_to_string(list_slice(__psl_l, -{k}, -1), '.')"

    exc_branches = [
        f"WHEN __psl_n >= {k} AND {sfx(k)} IN ({lit_list(exc[k])}) "
        f"THEN {k - 1}"
        for k in sorted(exc, reverse=True)  # longest exception first
    ]
    norm_branches = []
    for L in range(maxk, 0, -1):
        conds = []
        if L in exact:
            conds.append(f"(__psl_n >= {L} AND {sfx(L)} IN ({lit_list(exact[L])}))")
        if L - 1 in wild:
            conds.append(
                f"(__psl_n >= {L} AND {sfx(L - 1)} IN ({lit_list(wild[L - 1])}))"
            )
        if conds:
            norm_branches.append(f"WHEN {' OR '.join(conds)} THEN {L}")
    exc_case = (
        "CASE " + " ".join(exc_branches) + " ELSE NULL END"
        if exc_branches
        else "NULL"
    )
    norm_case = (
        "CASE " + " ".join(norm_branches) + " ELSE NULL END"
        if norm_branches
        else "NULL"
    )
    return f"""
SELECT * EXCLUDE (__psl_l, __psl_n, __psl_ps),
       CASE WHEN __psl_n <= __psl_ps THEN ''
            ELSE array_to_string(
                   list_slice(__psl_l, -(__psl_ps + 1), -1), '.')
       END AS {out_col}
FROM (
  SELECT *, COALESCE({exc_case}, {norm_case}, 1) AS __psl_ps
  FROM (
    SELECT *,
           string_split(lower({host_col}), '.') AS __psl_l,
           len(string_split(lower({host_col}), '.')) AS __psl_n
    FROM ({src_sql})
  )
)
"""


def registrable_domain_psl(host_col, rules=None) -> Column:
    """eTLD+1 of a host under public-suffix-list semantics (longest
    matching rule wins; '*.' wildcards match exactly one label; '!'
    exceptions override — publicsuffix.org/list/, the documented
    algorithm), as a PURE map-side column expression: rule membership
    is literal ``isin`` per label-count, so this never joins or
    shuffles. ``rules`` defaults to :data:`PUBLIC_SUFFIX_RULES_COMPACT`
    — pass the full PSL (``load_psl``) when coverage matters.

    Semantics: a host that IS a public suffix (or has no dot) yields
    ''; an unknown final label falls to the PSL default rule '*'
    (last two labels — exactly the heuristic
    :func:`registrable_domain`)."""
    exact, wild, exc, maxk = _psl_rule_groups(
        PUBLIC_SUFFIX_RULES_COMPACT if rules is None else rules
    )
    host = F.lower(_col(host_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)

    def sfx(k: int) -> Column:
        return F.array_join(F.slice(labels, -k, k), ".")

    # exception rules win outright: ps_len = rule labels − 1. The
    # chain wraps OUTWARD (each iteration's When is tested before the
    # previous), so iterate label counts ASCENDING — the largest k is
    # then built outermost and the PSL's longest-matching-exception
    # precedence holds for nested exceptions (round-15 advisor).
    exc_expr = F.lit(None).cast("int")
    for k in sorted(exc):
        exc_expr = F.when(
            (n >= k) & sfx(k).isin(exc[k]), F.lit(k - 1)
        ).otherwise(exc_expr)
    # else the longest exact/wildcard rule: walk lengths descending
    norm_expr = F.lit(None).cast("int")
    for L in range(maxk, 0, -1):
        conds = []
        if L in exact:
            conds.append((n >= L) & sfx(L).isin(exact[L]))
        if L - 1 in wild:
            conds.append((n >= L) & sfx(L - 1).isin(wild[L - 1]))
        if not conds:
            continue
        c = conds[0]
        for extra in conds[1:]:
            c = c | extra
        norm_expr = F.when(c & norm_expr.isNull(), F.lit(L)).otherwise(
            norm_expr
        )
    ps_len = F.coalesce(exc_expr, norm_expr, F.lit(1))
    return F.when(n <= ps_len, F.lit("")).otherwise(
        F.array_join(F.slice(labels, -(ps_len + F.lit(1)), ps_len + F.lit(1)), ".")
    )


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level dedup: one row per CANONICAL URL (smallest ``id_col``
    wins — same keep-one convention as the text dedups), with
    ``canonical_url`` and the group's ``n_dups`` attached. Runs before
    any text is read: at crawl scale this is the cheapest dedup tier
    (C4 §2.2 dedups by URL before content). Both windows are keyed by
    the canonical URL — no unkeyed data-sized window."""
    wk = Window.partitionBy("__curl")
    w = wk.orderBy(id_col)
    return (
        df.withColumn("__curl", canonicalize_url(url_col))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(wk))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumnRenamed("__curl", "canonical_url")
    )


def domain_blocklist_filter(
    df: DataFrame,
    url_col: str = "url",
    blocked: Sequence[str] = (),
    max_literal: int = 64,
) -> DataFrame:
    """Drop rows whose canonical host's registrable domain is in
    ``blocked`` (lowercased). Small lists become a literal ``isin``
    (pure map-side filter); larger ones a broadcast LEFT ANTI join —
    either way zero data-sized shuffle. A NULL url (or one with no
    extractable domain) is KEPT on both paths: the anti-join keeps it
    naturally (NULL never matches a join key), and the isin path
    keeps it explicitly — ``~isin`` alone evaluates NULL and filter()
    would silently drop the row, flipping the outcome with blocklist
    SIZE (round-14 review)."""
    dom = registrable_domain(url_host(url_col))
    norm = [b.lower() for b in blocked]
    if not norm:
        return df
    if len(norm) <= max_literal:
        return df.filter(dom.isNull() | ~dom.isin(norm))
    bl = df.sparkSession.createDataFrame(
        [(b,) for b in norm], "__dom string"
    )
    return (
        df.withColumn("__dom", dom)
        .join(F.broadcast(bl), "__dom", "left_anti")
        .drop("__dom")
    )


# ------------------------------------------------------ DuckDB renderers
# The oracle side is RENDERED from the same regex constants above, so
# the q54 'url_*' members compare the canonicalization bit-for-bit.
# DuckDB divergences handled here: regexp_replace needs 'g' for
# replace-all (Spark replaces all by default), backreference syntax
# differs (none used), and CAST(x AS STRING) is the portable spelling.


def _dd_rr(e: str, pat: str, rep: str = "") -> str:
    return f"regexp_replace({e}, '{pat}', '{rep}', 'g')"


def duckdb_canonical_authority_sql(e: str) -> str:
    """DuckDB SQL for the canonical authority (host[:non-default
    port]) over expression ``e`` — the piece canonicalize_url
    reassembles."""
    g1 = f"lower(regexp_extract({e}, '{URL_PARTS_RE}', 1))"
    hp = f"lower(regexp_extract({e}, '{URL_PARTS_RE}', 2))"
    hp2 = (
        f"CASE WHEN {g1} = 'http' THEN {_dd_rr(hp, ':80$')} "
        f"WHEN {g1} = 'https' THEN {_dd_rr(hp, ':443$')} "
        f"ELSE {hp} END"
    )
    return _dd_rr(hp2, r"^www\.")


def duckdb_canonical_host_sql(e: str) -> str:
    """DuckDB SQL for ``url_host`` (authority with any port stripped)
    over expression ``e``."""
    return _dd_rr(duckdb_canonical_authority_sql(e), ":[0-9]+$")


def duckdb_canonical_sql(e: str) -> str:
    """DuckDB SQL for ``canonicalize_url`` over expression ``e``."""
    g1 = f"regexp_extract({e}, '{URL_PARTS_RE}', 1)"
    g3 = f"regexp_extract({e}, '{URL_PARTS_RE}', 3)"
    path = _dd_rr(f"regexp_extract({g3}, '^([^?]*)', 1)", "/+$")
    path2 = f"CASE WHEN {path} = '' THEN '/' ELSE {path} END"
    q = f"'&' || regexp_extract({g3}, '\\?(.*)$', 1)"
    q2 = _dd_rr(_dd_rr(_dd_rr(q, TRACKING_PARAM_RE), "^&+"), "&+$")
    rest = f"{path2} || CASE WHEN {q2} = '' THEN '' ELSE '?' || {q2} END"
    canon = (
        f"lower({g1}) || '://' || {duckdb_canonical_authority_sql(e)} "
        f"|| {rest}"
    )
    return f"CASE WHEN {g1} = '' THEN {e} ELSE {canon} END"


def duckdb_registrable_domain_sql(host_e: str) -> str:
    """DuckDB SQL for ``registrable_domain`` over host expression."""
    return f"regexp_extract({host_e}, '{REGISTRABLE_DOMAIN_RE}', 1)"
