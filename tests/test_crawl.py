"""Crawl-policy gates (operators/crawl.py): three-engine parity, plan
shapes, and the keep-best near-dup policy."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from verde_spark.operators.crawl import (
    blocked_expr,
    blocked_sql,
    filter_blocklist,
    host_suffixes,
    meta_robots,
    meta_robots_sql,
    reference_host_suffixes,
    reference_meta_robots,
    robots_filter,
)

# html fixtures chosen to hit every arm: both attribute orders, both
# quote styles, the `none` shorthand, whitespace/case noise, lookalike
# meta tags that must NOT match, and pages without any tag
_HTML_CASES = [
    '<html><META NAME="robots" Content="NOINDEX, nofollow"><p>x</p></html>',
    "<meta content=' none ' name='robots'>",
    '<meta name="robots" content="index, follow">',
    '<meta name="robots" content="NOFOLLOW">',
    '<meta name="keywords" content="noindex">',          # wrong name
    '<meta name="robots-like" content="noindex">',       # not exactly robots… matches? name must be exactly robots
    '<meta content="noindex" name="viewport">',
    "plain text no tags",
    '<meta name="robots" content="noarchive,noindex ,max-snippet:-1">',
    # EMPTY content in the name→content tag must not short-circuit the
    # content→name pattern (review r5: the Python twin's `search(NC) or
    # search(CN)` stopped at the empty match; the engines coalesce
    # nullif-empty and fall through)
    '<meta name="robots" content=""><meta content="noindex" name="robots">',
    "",
]

_URL_CASES = [
    "https://A.B.Example.COM:443/x",
    "https://user@ads.tracker.net:8080/y?q=1",
    "http://single/",
    "https://ok.org/path",
]


def test_meta_robots_three_engine_parity(spark):
    rows = [(f"https://h{i}.org/", h) for i, h in enumerate(_HTML_CASES)]
    df = spark.createDataFrame(rows, "url string, html_str string").withColumn(
        "html", F.col("html_str").cast("binary")
    )
    got = {
        r["url"]: (r["r"]["noindex"], r["r"]["nofollow"])
        for r in df.select("url", meta_robots("html").alias("r")).collect()
    }
    for url, h in rows:
        assert got[url] == reference_meta_robots(h), (url, h)
    # DuckDB twin agrees byte-for-byte
    con = duckdb.connect()
    con.register("pages_tbl", pd.DataFrame(rows, columns=["url", "html_str"]))
    ni, nf = meta_robots_sql("html_str")
    for r in con.execute(
        f"select url, {ni} as ni, {nf} as nf from pages_tbl"
    ).fetchall():
        assert (r[1], r[2]) == got[r[0]], r


def test_host_suffixes_parity_and_blocklist_expr(spark):
    df = spark.createDataFrame([(u,) for u in _URL_CASES], "url string")
    got = {r["url"]: r["s"] for r in df.select("url", host_suffixes("url").alias("s")).collect()}
    for u in _URL_CASES:
        assert got[u] == reference_host_suffixes(u), u
    blocked = ["tracker.net", " Example.COM ", ""]  # noise normalized away
    b = {
        r["url"]: r["b"]
        for r in df.select("url", blocked_expr("url", blocked).alias("b")).collect()
    }
    assert b["https://A.B.Example.COM:443/x"] is True      # subdomain match
    assert b["https://user@ads.tracker.net:8080/y?q=1"] is True
    assert b["https://ok.org/path"] is False
    con = duckdb.connect()
    con.register("u_tbl", pd.DataFrame({"url": _URL_CASES}))
    for url, sql_b in con.execute(
        f"select url, {blocked_sql('url', blocked)} from u_tbl"
    ).fetchall():
        assert sql_b == b[url], url


def test_crawl_gates_are_pure_projections(spark):
    """robots_filter + literal-blocklist filter never shuffle and never
    leave the JVM — at 10^12 pages both gates run at scan speed inside
    the same codegen stage."""
    df = spark.createDataFrame(
        [("https://a.com/", "<p>x</p>")], "url string, html_str string"
    ).withColumn("html", F.col("html_str").cast("binary"))
    out = robots_filter(filter_blocklist(df, ["bad.com"]))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_filter_blocklist_dataframe_paths_agree(spark):
    pages = spark.createDataFrame(
        [(f"https://sub{i % 4}.site{i % 3}.com/p{i}",) for i in range(60)],
        "url string",
    )
    bdf = spark.createDataFrame([("site0.com",), ("SITE2.com",)], "domain string")
    expect = sorted(
        r["url"]
        for r in filter_blocklist(pages, ["site0.com", "site2.com"]).collect()
    )
    # small-side collect path and the exploded broadcast-join fallback
    # must both match the literal-list semantics exactly
    got_small = sorted(r["url"] for r in filter_blocklist(pages, bdf).collect())
    got_join = sorted(
        r["url"] for r in filter_blocklist(pages, bdf, driver_threshold=0).collect()
    )
    assert got_small == expect and got_join == expect
    assert len(expect) == 20  # only site1.com survives


def test_filter_blocklist_dot_prefix_and_null_urls_agree(spark):
    """'.example.com' entries and NULL urls behave identically on both
    sides of driver_threshold (review r5: the join path skipped
    _normalized_domains' dot-strip and kept NULL-url rows)."""
    pages = spark.createDataFrame(
        [("https://ads.example.com/x",), ("https://keep.com/y",), (None,)],
        "url string",
    )
    bdf = spark.createDataFrame(
        [(".example.com",), ("   ",)], "domain string"
    )
    small = sorted(
        r["url"] for r in filter_blocklist(pages, bdf).collect()
    )
    join = sorted(
        r["url"]
        for r in filter_blocklist(pages, bdf, driver_threshold=0).collect()
    )
    assert small == join == ["https://keep.com/y"]


def test_blocklist_gate_catches_whitespace_padded_urls(spark):
    """host_of trims before the anchored match (review r5: a padded url
    resolved to host '' and bypassed the gate while crawl_schedule still
    scheduled the page)."""
    pages = spark.createDataFrame(
        [("  https://ads.example.com/x ",), ("https://keep.com/y",)],
        "url string",
    )
    out = [r["url"] for r in filter_blocklist(pages, ["example.com"]).collect()]
    assert out == ["https://keep.com/y"]


def test_dedup_keep_col_keeps_best_quality(spark):
    from verde_spark.operators.dedup import dedup_minhash

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the observant cat watches from the warm windowsill nearby"
    )
    rows = [
        (1, base, 0.2),
        (2, base + " extra", 0.9),   # near-dup of 1, higher quality
        (3, base + " more", 0.5),    # near-dup of 1
        (10, "completely different text about distributed query engines and shuffles", 0.1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, quality double")
    kept_min = sorted(
        r["doc_id"] for r in dedup_minhash(df, threshold=0.5).collect()
    )
    assert kept_min == [1, 10]  # default policy: min id
    kept_best = sorted(
        r["doc_id"]
        for r in dedup_minhash(df, threshold=0.5, keep_col="quality").collect()
    )
    assert kept_best == [2, 10]  # keep-best policy: max quality wins
    with pytest.raises(ValueError, match="transitive"):
        dedup_minhash(df, transitive=False, keep_col="quality")


def test_clean_corpus_crawl_gates(spark):
    """blocklist + respect_noindex as clean_corpus stages: blocked and
    noindex pages are gone, everything else passes the usual gates."""
    from verde_spark.pipelines import clean_corpus

    rows = []
    for i in range(40):
        host = f"site{i % 4}.com"
        meta = '<meta name="robots" content="noindex">' if i % 5 == 0 else ""
        text = f"page {i} has enough plain words to pass the token gate easily"
        rows.append((
            f"https://{host}/p{i}", "2024-01-01 00:00:00",
            f"<html>{meta}<body>{text}</body></html>", text,
        ))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts string, html_str string, text string"
    ).select(
        "url", F.to_timestamp("warc_ts").alias("warc_ts"),
        F.col("html_str").cast("binary").alias("html"), "text",
    )
    out = clean_corpus(
        pages, min_tokens=3, blocklist=["site3.com"], respect_noindex=True
    ).collect()
    urls = {r["url"] for r in out}
    assert all("site3.com" not in u for u in urls)
    assert all(int(u.rsplit("p", 1)[1]) % 5 != 0 for u in urls)
    # 40 pages - 10 on site3.com - 6 noindex pages not already blocked
    assert len(urls) == 24


# ---------------------------------------------------------------------------
# robots.txt (file-level REP, RFC 9309)

# fixtures chosen to hit every semantic arm: allow-overrides-disallow by
# specificity, agent-specific group precedence (incl. an EMPTY specific
# group after blank-line merge), consecutive user-agent headers sharing a
# group, CRLF, `*`/`$` wildcards (and a query string defeating `$`),
# empty Disallow, comments + tab padding, a rule before any header
# (ignored), an exact tie (allow wins), non-rule fields inside a group,
# LIKE metacharacters (%/_) appearing literally, NULL robots.txt, an
# empty path normalizing to '/', and case-insensitive agent tokens.
_ROBOTS_CASES = [
    ("User-agent: *\nDisallow: /private/\nAllow: /private/ok\n",
     "http://h.com/private/ok.html", "*"),
    ("User-agent: *\nDisallow: /private/\n", "http://h.com/private/x", "*"),
    ("User-agent: *\nDisallow: /private/\n", "http://h.com/public/x", "*"),
    ("User-agent: googlebot\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp/\n",
     "http://h.com/a", "googlebot"),
    ("User-agent: googlebot\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp/\n",
     "http://h.com/tmp/a", "mybot"),
    # rule-less group merges across the blank line into the '*' group
    # (Google's parser semantics: blank lines never delimit groups)
    ("User-agent: googlebot\n\nUser-agent: *\nDisallow: /\n",
     "http://h.com/a", "googlebot"),
    ("User-agent: a\nUser-agent: *\nDisallow: /x\n", "http://h.com/x1", "b"),
    ("User-agent: *\r\nDisallow: /*.pdf$\r\n",
     "http://h.com/doc/file.pdf", "*"),
    ("User-agent: *\nDisallow: /*.pdf$\n", "http://h.com/file.pdf?x=1", "*"),
    ("User-agent: *\nDisallow: /a*b\n", "http://h.com/aXYZb/c", "*"),
    ("User-agent: *\nDisallow:\n", "http://h.com/anything", "*"),
    ("# comment only\nUser-agent: * # trailing\n\tDisallow\t: /t\t\n",
     "http://h.com/t2", "*"),
    ("Disallow: /orphan\nUser-agent: *\nAllow: /\n",
     "http://h.com/orphan", "*"),
    ("User-agent: *\nDisallow: /p\nAllow: /p\n", "http://h.com/p/x", "*"),
    ("User-agent: *\nCrawl-delay: 5\nDisallow: /q\nUser-agent: x\nDisallow: /r\n",
     "http://h.com/q", "*"),
    ("User-agent: *\nDisallow: /q\nUser-agent: x\nDisallow: /r\n",
     "http://h.com/r", "*"),
    ("User-agent: *\nDisallow: /100%_sure\n", "http://h.com/100%_sure/x", "*"),
    (None, "http://h.com/x", "*"),
    ("User-agent: *\nDisallow: /\n", "http://h.com", "*"),
    ("User-agent: MyBot\nDisallow: /m\nUser-agent: *\nAllow: /\n",
     "http://h.com/m1", "mybot"),
]


def _robots_expected():
    from verde_spark.operators.crawl import reference_robots_allowed

    return [
        reference_robots_allowed(t, u, a) for t, u, a in _ROBOTS_CASES
    ]


def test_robots_txt_spark_parity(spark):
    """Catalyst fold + LIKE matcher ≡ the Python reference on the full
    fixture corpus (grouped per agent: the expression is per-agent)."""
    from verde_spark.operators.crawl import (
        reference_robots_allowed,
        robots_allowed_expr,
        robots_txt_rules,
    )

    for agent in sorted({a for _, _, a in _ROBOTS_CASES}):
        sub = [(t, u) for t, u, a in _ROBOTS_CASES if a == agent]
        df = spark.createDataFrame(sub, "txt string, url string")
        rows = df.select(
            "txt", "url",
            robots_allowed_expr(
                "url", robots_txt_rules("txt", agent)
            ).alias("ok"),
        ).collect()
        for r in rows:
            assert r["ok"] == reference_robots_allowed(
                r["txt"], r["url"], agent
            ), (agent, r["txt"], r["url"])


def test_robots_txt_duckdb_parity():
    """The DuckDB twin replays the same verdicts (same fold, seeded via a
    prepended state-shaped element; same LIKE compilation)."""
    from verde_spark.operators.crawl import (
        reference_robots_allowed,
        robots_allowed_sql,
        robots_matchable_sql,
        robots_rules_sql,
    )

    con = duckdb.connect()
    for txt, url, agent in _ROBOTS_CASES:
        rules = robots_rules_sql("t.txt", agent)
        m = robots_matchable_sql("t.url")
        sql = (
            f"SELECT {robots_allowed_sql(m, rules)} "
            "FROM (SELECT ?::VARCHAR AS txt, ?::VARCHAR AS url) t"
        )
        got = con.execute(sql, [txt, url]).fetchone()[0]
        assert got == reference_robots_allowed(txt, url, agent), (txt, url)


def test_robots_txt_rules_parse_shape(spark):
    """Raw-rule extraction parity (pre-LIKE): pattern order preserved,
    allow/disallow flags right, agent-group override exact."""
    from verde_spark.operators.crawl import (
        reference_robots_rules,
        robots_txt_rules,
    )

    texts = sorted({t for t, _, a in _ROBOTS_CASES if t and a == "*"})
    df = spark.createDataFrame([(t,) for t in texts], "txt string")
    rows = df.select(
        "txt", robots_txt_rules("txt", "*").alias("rules")
    ).collect()
    for r in rows:
        got = [(x["allow"], x["pattern"]) for x in (r["rules"] or [])]
        assert got == reference_robots_rules(r["txt"], "*"), r["txt"]


def test_robots_txt_filter_broadcasts_and_keeps_unlisted_hosts(spark):
    """End-to-end gate: disallowed page dropped, allowed kept, a host
    with no robots.txt row keeps everything; the join is a broadcast
    (the corpus side must never shuffle)."""
    from verde_spark.operators.crawl import robots_txt_filter

    pages = spark.createDataFrame(
        [
            ("http://a.com/keep", 1),
            ("http://a.com/private/x", 2),
            ("http://sub.a.com:8080/private/y", 3),  # different host: kept
            ("http://b.com/anything", 4),
        ],
        "url string, id int",
    )
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    out = robots_txt_filter(pages, robots)
    assert sorted(r["id"] for r in out.collect()) == [1, 3, 4]
    assert out.columns == ["url", "id"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # duplicate host rows in the robots dim must not MULTIPLY pages
    # through the left join (review r5) — same verdicts, same row count
    robots_dup = robots.unionByName(robots)
    out_dup = robots_txt_filter(pages, robots_dup)
    assert sorted(r["id"] for r in out_dup.collect()) == [1, 3, 4]


# --- sitemaps + robots.txt discovery fields (late r4) ----------------------

_ROBOTS_DISCOVERY_CASES = [
    # global Sitemap lines: anywhere, any case, comments, inside groups
    "Sitemap: https://a.com/s.xml\nUser-agent: *\nDisallow: /x\n"
    "sitemap: https://a.com/s2.xml  # mirror\n",
    # crawl-delay in a '*' group; agent group overrides with its own
    "User-agent: *\nCrawl-delay: 10\n\nUser-agent: mybot\nCrawl-delay: 2.5\n",
    # agent group NAMED but declares no delay -> NULL (star ignored)
    "User-agent: mybot\nDisallow: /\nUser-agent: *\nCrawl-delay: 7\n",
    # last-wins within applicable groups; non-numeric kills the value
    "User-agent: *\nCrawl-delay: 3\nCrawl-delay: 9\n",
    "User-agent: *\nCrawl-delay: 3\nCrawl-delay: abc\n",
    # shared group header (stacked user-agents), tabs + CRLF
    "User-agent: mybot\r\nUser-agent: other\r\nCrawl-delay:\t4\r\n",
    # empty value ignored; no sitemap/delay at all
    "User-agent: *\nCrawl-delay:\nDisallow: /q\n",
    "",
]

_SITEMAP_XML_CASES = [
    # plain urlset, entity-escaped loc, lastmod present/absent, noise
    """<?xml version="1.0"?><urlset>
      <url><loc>https://a.com/p?x=1&amp;y=2</loc>
           <lastmod>2024-01-02</lastmod><priority>0.8</priority></url>
      <url><loc> https://a.com/q </loc></url>
      <url><changefreq>daily</changefreq></url>
    </urlset>""",
    # UPPER/mixed tag noise must NOT match; empty loc dropped
    "<urlset><url><loc></loc></url><url><loc>https://b.io/</loc>"
    "<lastmod>2023-12-31T18:00:15+00:00</lastmod></url></urlset>",
    "no xml here",
    "",
]

_SITEMAP_INDEX = (
    "<sitemapindex><sitemap><loc>https://c.org/s1.xml.gz</loc>"
    "<lastmod>2024-02-02</lastmod></sitemap>"
    "<sitemap><loc>https://c.org/s2.xml.gz</loc></sitemap></sitemapindex>"
)


def test_robots_discovery_three_engine_parity(spark):
    from verde_spark.operators.crawl import (
        reference_robots_crawl_delay,
        reference_robots_sitemaps,
        robots_crawl_delay,
        robots_crawl_delay_sql,
        robots_sitemaps,
        robots_sitemaps_sql,
    )

    rows = [(i, t) for i, t in enumerate(_ROBOTS_DISCOVERY_CASES)] + [(99, None)]
    df = spark.createDataFrame(rows, "i int, robots_txt string")
    got = {
        r["i"]: (r["sm"], r["cd"])
        for r in df.select(
            "i",
            robots_sitemaps("robots_txt").alias("sm"),
            robots_crawl_delay("robots_txt", "MyBot").alias("cd"),
        ).collect()
    }
    for i, txt in rows:
        want_sm = reference_robots_sitemaps(txt)
        want_cd = reference_robots_crawl_delay(txt, "MyBot")
        got_sm = got[i][0] or []
        assert list(got_sm) == want_sm, (i, got_sm, want_sm)
        assert got[i][1] == want_cd, (i, got[i][1], want_cd)

    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["i", "robots_txt"]))
    duck = con.execute(
        f"SELECT i, {robots_sitemaps_sql('robots_txt')} AS sm, "
        f"{robots_crawl_delay_sql('robots_txt', 'MyBot')} AS cd "
        "FROM t ORDER BY i"
    ).fetchall()
    for i, sm, cd in duck:
        txt = dict(rows)[i]
        assert list(sm or []) == reference_robots_sitemaps(txt), (i, sm)
        assert cd == reference_robots_crawl_delay(txt, "MyBot"), (i, cd)


def test_sitemap_entries_three_engine_parity(spark):
    from verde_spark.operators.crawl import (
        reference_sitemap_entries,
        sitemap_entries,
        sitemap_entries_sql,
    )

    rows = [(i, x) for i, x in enumerate(_SITEMAP_XML_CASES)] + [
        (50, _SITEMAP_INDEX), (99, None),
    ]
    df = spark.createDataFrame(rows, "i int, sitemap_xml string")
    for tag in ("url", "sitemap"):
        got = {
            r["i"]: [(e["loc"], e["lastmod"]) for e in (r["e"] or [])]
            for r in df.select(
                "i", sitemap_entries("sitemap_xml", tag).alias("e")
            ).collect()
        }
        for i, xml in rows:
            assert got[i] == reference_sitemap_entries(xml, tag), (tag, i)
        con = duckdb.connect()
        con.register("t", pd.DataFrame(rows, columns=["i", "sitemap_xml"]))
        duck = con.execute(
            f"SELECT i, {sitemap_entries_sql('sitemap_xml', tag)} AS e "
            "FROM t ORDER BY i"
        ).fetchall()
        for i, es in duck:
            want = reference_sitemap_entries(dict(rows)[i], tag)
            norm = [(e["loc"], e["lastmod"]) for e in (es or [])]
            assert norm == want, (tag, i, norm, want)
    # the urlset fixture's entity unescape is actually exercised
    assert ("https://a.com/p?x=1&y=2", "2024-01-02") in \
        reference_sitemap_entries(_SITEMAP_XML_CASES[0])


def test_sitemap_urls_explode_is_shuffle_free(spark):
    from verde_spark.operators.crawl import sitemap_urls

    dim = spark.createDataFrame(
        [("h1", _SITEMAP_XML_CASES[0]), ("h2", _SITEMAP_XML_CASES[1])],
        "host string, body string",
    )
    out = sitemap_urls(dim, xml_col="body")
    assert out.columns == ["host", "loc", "lastmod"]
    rows = {(r["host"], r["loc"]) for r in out.collect()}
    assert rows == {
        ("h1", "https://a.com/p?x=1&y=2"), ("h1", "https://a.com/q"),
        ("h2", "https://b.io/"),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Generate" in plan
    # index flavor
    idx = spark.createDataFrame([( _SITEMAP_INDEX,)], "body string")
    got = sitemap_urls(idx, xml_col="body", tag="sitemap").collect()
    assert [r["loc"] for r in got] == [
        "https://c.org/s1.xml.gz", "https://c.org/s2.xml.gz",
    ]


def test_clean_corpus_robots_txt_stage(spark):
    """robots= as a clean_corpus stage: pages a host's robots.txt
    disallows for the agent are gone; hosts with no robots row keep
    everything that passes the quality gates."""
    from verde_spark.pipelines import clean_corpus

    rows = []
    for i in range(30):
        host = f"site{i % 3}.com"
        path = "/private/x" if i % 2 else "/public/y"
        text = f"page {i} has enough plain words to pass the token gate easily"
        rows.append((f"https://{host}{path}?i={i}",
                     "2024-01-01 00:00:00", text))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    robots = spark.createDataFrame(
        [("site0.com", "User-agent: *\nDisallow: /private/\n"),
         ("site1.com", "User-agent: mybot\nDisallow: /\n")],
        "host string, robots_txt string",
    )
    out = clean_corpus(
        pages, min_tokens=3, robots=robots, robots_agent="mybot"
    ).collect()
    urls = {r["url"] for r in out}
    # site0: /private/* dropped; site1: everything dropped for mybot;
    # site2 (no robots row): everything kept
    assert urls and all("site1.com" not in u for u in urls)
    assert all(not ("site0.com" in u and "/private/" in u) for u in urls)
    assert any("site2.com" in u for u in urls)
    assert any("site0.com" in u and "/public/" in u for u in urls)


# -- frontier politeness scheduling ---------------------------------------

def _frontier(spark):
    rows = []
    for i in range(18):
        host = f"h{i % 3}.org"
        rows.append((f"https://{host}/p{i:02d}", float(i % 5)))
    return spark.createDataFrame(rows, "url string, priority double")


def test_crawl_schedule_matches_duckdb(spark):
    from verde_spark.operators.crawl import crawl_schedule, crawl_schedule_sql

    frontier = _frontier(spark)
    delays = spark.createDataFrame(
        [("h0.org", 2.0), ("h1.org", 0.5)], "host string, crawl_delay double"
    )
    out = crawl_schedule(
        frontier,
        delays,
        priority_col="priority",
        default_delay=1.5,
        hash_expr=F.length("url"),  # engine-portable rank
    ).select("url", "host", "fetch_seq", "eta_sec")
    got = {r["url"]: r for r in out.collect()}

    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "f",
        pd.DataFrame(
            [(r["url"], r["priority"]) for r in frontier.collect()],
            columns=["url", "priority"],
        ),
    )
    sql = crawl_schedule_sql(
        "SELECT url, priority FROM f",
        "SELECT 'h0.org' AS host, 2.0::DOUBLE AS crawl_delay "
        "UNION ALL SELECT 'h1.org', 0.5::DOUBLE",
        priority_col="priority",
        default_delay=1.5,
        hash_sql="length(url)",
    )
    want = con.execute(sql).fetchall()
    assert len(want) == len(got)
    for url, host, seq, eta in want:
        g = got[url]
        assert (g["host"], g["fetch_seq"], g["eta_sec"]) == (host, seq, eta), url


def test_crawl_schedule_semantics(spark):
    from verde_spark.operators.crawl import crawl_schedule

    frontier = _frontier(spark)
    delays = spark.createDataFrame(
        [("h0.org", 2.0)], "host string, crawl_delay double"
    )
    rows = crawl_schedule(frontier, delays, default_delay=1.0).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    for host, rs in by_host.items():
        seqs = sorted(r["fetch_seq"] for r in rs)
        assert seqs == list(range(1, len(rs) + 1)), host  # contiguous queue
        delay = 2.0 if host == "h0.org" else 1.0  # dim vs default
        for r in rs:
            assert r["eta_sec"] == (r["fetch_seq"] - 1) * delay, r


def test_crawl_schedule_cap_plans_window_group_limit(spark):
    from verde_spark.operators.crawl import crawl_schedule

    out = crawl_schedule(_frontier(spark), max_per_host=2)
    rows = out.collect()
    per_host = {}
    for r in rows:
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
    assert all(n <= 2 for n in per_host.values())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # top-k below the exchange
