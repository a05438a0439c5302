"""URL curation operators (operators/urls.py): canonicalization
golden cases, URL-level dedup, domain blocklist — plus the
cross-engine guarantee that the DuckDB renderer (the q54 'url_*'
oracle) produces byte-identical canonical strings."""

from __future__ import annotations

from pyspark.sql import functions as F

from timebox_spark.operators import urls as U

CASES = [
    # (raw, canonical, host, registrable domain)
    (
        "HTTP://WWW.Ex-Site.COM:80/A/b//?utm_source=x&Page=2&gclid=G1#f",
        "http://ex-site.com/A/b?Page=2",
        "ex-site.com",
        "ex-site.com",
    ),
    # only the LEADING www. is stripped; :443 is https' default
    (
        "https://Sub.WWW.example.org:443/",
        "https://sub.www.example.org/",
        "sub.www.example.org",
        "example.org",
    ),
    # non-default port kept; tracking-only query removed entirely
    (
        "https://example.org:8080/path/?ref=tw",
        "https://example.org:8080/path",
        "example.org",
        "example.org",
    ),
    # empty path becomes '/'; all params tracking
    ("http://example.com?utm_a=1&utm_b=2", "http://example.com/",
     "example.com", "example.com"),
    # tracking param in the MIDDLE: separators repaired
    ("http://example.com/x?a=1&ref=y&b=2", "http://example.com/x?a=1&b=2",
     "example.com", "example.com"),
    # non-URL passes through untouched (host/domain empty)
    ("not a url at all", "not a url at all", "", ""),
    # foreign scheme: no default-port rule, port kept
    ("ftp://Files.Example.NET:21/Dir/", "ftp://files.example.net:21/Dir",
     "files.example.net", "example.net"),
    # path case PRESERVED (case-significant on real servers)
    ("http://EXAMPLE.com/Case/Path?Q=UP", "http://example.com/Case/Path?Q=UP",
     "example.com", "example.com"),
]


def test_canonicalize_url_golden_cases(spark):
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(CASES)], "i long, url string"
    )
    rows = {
        r["i"]: (r["c"], r["h"], r["d"])
        for r in df.select(
            "i",
            U.canonicalize_url("url").alias("c"),
            U.url_host("url").alias("h"),
            U.registrable_domain(U.url_host("url")).alias("d"),
        ).collect()
    }
    for i, (raw, canon, host, dom) in enumerate(CASES):
        assert rows[i] == (canon, host, dom), (raw, rows[i])


def test_duckdb_renderer_matches_spark_bit_for_bit(spark):
    """The oracle-side SQL is rendered from the same regex constants —
    this is the property the q54 'url_canon' member gates at sf0.01;
    pinned here directly over the adversarial golden cases."""
    import duckdb

    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(CASES)], "i long, url string"
    )
    srows = {
        r["i"]: (r["c"], r["h"])
        for r in df.select(
            "i",
            U.canonicalize_url("url").alias("c"),
            U.url_host("url").alias("h"),
        ).collect()
    }
    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, '{c[0]}')" for i, c in enumerate(CASES)
    )
    drows = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT i, {U.duckdb_canonical_sql('url')}, "
            f"{U.duckdb_canonical_host_sql('url')} "
            f"FROM (VALUES {vals}) v(i, url)"
        ).fetchall()
    }
    assert srows == drows


def test_url_dedup_keeps_smallest_id_per_canonical(spark):
    rows = [
        (3, "http://www.a.com/x/?utm_source=1"),
        (1, "HTTP://A.COM:80/x"),          # same canonical as 3 — kept
        (2, "http://a.com/x?page=2"),       # different (real param)
        (9, "https://b.org/"),
        (8, "https://b.org"),               # same canonical as 9 — kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r["canonical_url"]: (r["doc_id"], r["n_dups"])
        for r in U.url_dedup(df).collect()
    }
    assert out == {
        "http://a.com/x": (1, 2),
        "http://a.com/x?page=2": (2, 1),
        "https://b.org/": (8, 2),
    }


def test_domain_blocklist_literal_and_broadcast_paths_agree(spark):
    rows = [
        (1, "http://good.example.com/a"),
        (2, "https://Tracker.SPAM77.com/x"),   # blocked (subdomain)
        (3, "http://spam77.com/y"),            # blocked (apex)
        (4, "http://notspam77.com/z"),         # NOT blocked (different apex)
        (5, "https://x.ads3.net:8443/q"),      # blocked
        (6, None),                             # NULL url: KEPT, both paths
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    blocked = ["SPAM77.com", "ads3.net"]
    lit_kept = {
        r["doc_id"]
        for r in U.domain_blocklist_filter(df, "url", blocked).collect()
    }
    # force the broadcast-join path with max_literal=0
    join_kept = {
        r["doc_id"]
        for r in U.domain_blocklist_filter(
            df, "url", blocked, max_literal=0
        ).collect()
    }
    # NULL must not flip outcome with blocklist SIZE (round-14 review:
    # ~isin on a NULL domain evaluates NULL and filter() dropped it,
    # while the anti-join path kept it)
    assert lit_kept == join_kept == {1, 4, 6}


def test_url_ops_are_map_only_expressions(spark):
    """Scale guard: canonicalization is a pure column expression — a
    10-row plan has no Exchange, no UDF eval, no Python."""
    df = spark.range(10).selectExpr(
        "id", "concat('http://www.h', CAST(id AS STRING), '.com/p?utm_x=1') AS url"
    )
    plan = (
        df.select(U.canonicalize_url("url"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert bad not in plan


def test_registrable_domain_psl_multi_label_and_exceptions(spark):
    """Round-15 verdict task 3: PSL semantics — multi-label public
    suffixes (co.uk, com.au), wildcard rules (*.ck matches any single
    label), exception rules (!www.ck), the default '*' rule for
    unknown TLDs, and '' when the host IS a public suffix."""
    from timebox_spark.operators import urls as U

    cases = [
        ("a.b.co.uk", "b.co.uk"),        # multi-label suffix
        ("shop.example.co.uk", "example.co.uk"),
        ("example.co.uk", "example.co.uk"),
        ("co.uk", ""),                   # host IS a public suffix
        ("news.example.com.au", "example.com.au"),
        ("plain.example.com", "example.com"),   # default 1-label TLD
        ("deep.sub.example.org", "example.org"),
        ("whatever.unknowntld", "whatever.unknowntld"),  # default rule
        ("x.y.ck", "x.y.ck"),            # *.ck: y.ck is the suffix
        ("a.x.ck", "a.x.ck"),            # one label under the wildcard suffix
        ("www.ck", "www.ck"),            # !www.ck exception: registrable
        ("b.www.ck", "www.ck"),          # label under the exception
        ("user.github.io", "user.github.io"),  # infra suffix
        ("nodot", ""),
        ("", ""),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = {
        r["host"]: r["dom"]
        for r in df.select(
            "host", U.registrable_domain_psl("host").alias("dom")
        ).collect()
    }
    for host, want in cases:
        assert got[host] == want, (host, got[host], want)
    # custom rules override the built-ins
    custom = U.registrable_domain_psl(
        "host", rules=("co.uk", "*.ck", "!www.ck")
    )
    got3 = {
        r["host"]: r["d"]
        for r in df.select("host", custom.alias("d")).collect()
    }
    assert got3["a.b.co.uk"] == "b.co.uk"
    assert got3["news.example.com.au"] == "com.au"  # not in custom set


def test_registrable_domain_psl_default_matches_heuristic_on_flat_tlds(spark):
    """On single-label public suffixes the PSL answer equals the
    heuristic (the PSL default rule IS last-two-labels), so swapping
    the key only changes ccTLD grouping."""
    from timebox_spark.operators import urls as U

    hosts = ["a.example.com", "example.com", "x.y.z.example.net",
             "sub.example.org"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    rows = df.select(
        U.registrable_domain("host").alias("h"),
        U.registrable_domain_psl("host").alias("p"),
    ).collect()
    for r in rows:
        assert r["h"] == r["p"], (r["h"], r["p"])


def test_psl_paths_shuffle_free(spark):
    """Scale guard: registrable_domain_psl is a pure column expression
    (no Exchange/Python), with the compact built-in rules and with a
    ``load_psl``-parsed list alike."""
    from timebox_spark.operators import urls as U

    df = spark.range(10).selectExpr(
        "id", "concat('h', CAST(id AS STRING), '.example.co.uk') AS host"
    )
    for rules in (None, U.load_psl(PSL_EXCERPT)):
        plan = (
            df.select(U.registrable_domain_psl("host", rules=rules))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        for bad in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
            assert bad not in plan


# Vendored excerpt of the real public_suffix_list.dat (publicsuffix.org
# /list/ — format: comments, one rule per line, ICANN/PRIVATE section
# markers, Unicode IDN rules, wildcard + exception rules).
PSL_EXCERPT = """\
// This Source Code Form is subject to the terms of the Mozilla Public
// License, v. 2.0. If a copy of the MPL was not distributed with this
// file, You can obtain one at https://mozilla.org/MPL/2.0/.

// ===BEGIN ICANN DOMAINS===

// ac : http://nic.ac/rules.htm
ac
com.ac
gov.ac

// ck : https://en.wikipedia.org/wiki/.ck
*.ck
!www.ck

// jp : https://en.wikipedia.org/wiki/.jp
jp
ac.jp
co.jp

// kobe.jp geographic type: https://jprs.jp/
*.kobe.jp
!city.kobe.jp

// uk : https://en.wikipedia.org/wiki/.uk
uk
co.uk
gov.uk

// xn--fiqs8s ("China") : China Internet Network Information Center
中国

// ===END ICANN DOMAINS===
// ===BEGIN PRIVATE DOMAINS===

// GitHub, Inc.
github.io
githubusercontent.com

// ===END PRIVATE DOMAINS===
"""


def test_load_psl_parses_real_file_format(tmp_path):
    """Round-15 verdict task 5: load_psl understands the actual
    public_suffix_list.dat format — comments, blanks, section markers,
    IDN rows passed through — and path / text / iterable sources all
    parse identically."""
    from timebox_spark.operators import urls as U

    want = (
        "ac", "com.ac", "gov.ac", "*.ck", "!www.ck", "jp", "ac.jp",
        "co.jp", "*.kobe.jp", "!city.kobe.jp", "uk", "co.uk", "gov.uk",
        "中国", "github.io", "githubusercontent.com",
    )
    assert U.load_psl(PSL_EXCERPT) == want
    assert U.load_psl(PSL_EXCERPT.splitlines()) == want
    p = tmp_path / "public_suffix_list.dat"
    p.write_text(PSL_EXCERPT, encoding="utf-8")
    assert U.load_psl(str(p)) == want
    assert U.load_psl(p) == want  # os.PathLike
    # section filtering: the ICANN/private boundary is honored
    icann = U.load_psl(PSL_EXCERPT, sections={"icann"})
    assert "github.io" not in icann and "co.uk" in icann
    private = U.load_psl(PSL_EXCERPT, sections={"private"})
    assert private == ("github.io", "githubusercontent.com")


def test_load_psl_rules_drive_the_matchers(spark):
    """The loaded excerpt produces correct eTLD+1 through BOTH matcher
    variants, including the wildcard/exception pair the real list
    ships (*.kobe.jp / !city.kobe.jp) and a Unicode IDN suffix."""
    from timebox_spark.operators import urls as U

    rules = U.load_psl(PSL_EXCERPT)
    cases = [
        ("example.co.uk", "example.co.uk"),
        ("a.b.gov.ac", "b.gov.ac"),
        ("x.y.ck", "x.y.ck"),              # *.ck
        ("www.ck", "www.ck"),              # !www.ck
        ("foo.city.kobe.jp", "city.kobe.jp"),  # !city.kobe.jp
        ("a.other.kobe.jp", "a.other.kobe.jp"),  # *.kobe.jp
        ("example.中国", "example.中国"),   # IDN rule
        ("sub.example.中国", "example.中国"),
        ("user.github.io", "user.github.io"),  # private section
        ("whatever.unknowntld", "whatever.unknowntld"),  # default rule
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = {
        r["host"]: r["d"]
        for r in df.select(
            "host", U.registrable_domain_psl("host", rules=rules).alias("d")
        ).collect()
    }
    for host, want in cases:
        assert got[host] == want, (host, got[host], want)
    # ICANN-only load: github.io stops being a suffix → default rule
    icann = U.registrable_domain_psl(
        "host", rules=U.load_psl(PSL_EXCERPT, sections={"icann"})
    )
    got2 = {
        r["host"]: r["d"]
        for r in df.select("host", icann.alias("d")).collect()
    }
    assert got2["user.github.io"] == "github.io"


def test_psl_nested_exception_longest_match_wins(spark):
    """Round-15 advisor: exception precedence is LONGEST match (the
    PSL algorithm), not shortest — with both !www.ck and a nested
    !x.www.ck matching, ps_len must come from the 3-label rule."""
    from timebox_spark.operators import urls as U

    rules = ("*.ck", "!www.ck", "*.www.ck", "!x.www.ck")
    df = spark.createDataFrame(
        [("x.www.ck",), ("b.x.www.ck",), ("y.www.ck",)], "host string"
    )
    expr = U.registrable_domain_psl("host", rules=rules)
    got = {r["host"]: r["d"] for r in df.select("host", expr.alias("d")).collect()}
    # !x.www.ck (k=3) wins over !www.ck (k=2): ps_len=2 → eTLD+1 is
    # the last THREE labels
    assert got["x.www.ck"] == "x.www.ck"
    assert got["b.x.www.ck"] == "x.www.ck"
    # y.www.ck: !www.ck matches and an exception prevails over EVERY
    # normal rule (even the longer *.www.ck) → ps='ck', eTLD+1 www.ck
    assert got["y.www.ck"] == "www.ck"


def test_duckdb_psl_renderer_matches_spark_bit_for_bit(spark):
    """Round 16: `duckdb_registrable_domain_psl_sql` renders the SAME
    parsed rule groups the Spark matcher consumes — bit-identical
    eTLD+1 on every rule class (multi-label, wildcard, exception,
    nested exception, IDN, default rule, degenerate hosts) over BOTH
    the compact built-ins and a load_psl'd excerpt."""
    import duckdb

    from timebox_spark.operators import urls as U

    hosts = [
        "a.b.co.uk", "example.co.uk", "co.uk", "x.y.ck", "a.x.ck",
        "www.ck", "b.www.ck", "foo.city.kobe.jp", "a.other.kobe.jp",
        "example.中国", "sub.example.中国", "user.github.io",
        "whatever.unknowntld", "nodot", "", "a.b.",
        "deep.a.b.compute.amazonaws.com", "UP.Case.CO.UK",
        "x.www.ck",  # nested-exception host (custom rules below)
    ]
    rule_sets = {
        "compact": None,
        "excerpt": U.load_psl(PSL_EXCERPT),
        "nested": ("*.ck", "!www.ck", "*.www.ck", "!x.www.ck"),
    }
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    con = duckdb.connect()
    con.execute("CREATE TABLE h(host VARCHAR)")
    con.executemany("INSERT INTO h VALUES (?)", [(h,) for h in hosts])
    for name, rules in rule_sets.items():
        sp = {
            r["host"]: r["d"]
            for r in df.select(
                "host",
                U.registrable_domain_psl("host", rules=rules).alias("d"),
            ).collect()
        }
        sql = U.duckdb_registrable_domain_psl_sql(
            "SELECT host FROM h", out_col="dom", rules=rules
        )
        duck = dict(con.execute(f"SELECT host, dom FROM ({sql})").fetchall())
        assert sp == duck, (name, {h: (sp[h], duck[h]) for h in hosts
                                   if sp[h] != duck[h]})
