"""Crawl-policy gates: robots meta directives and domain blocklists —
the two front-door filters a web corpus applies before any content
processing (you must not train on pages that opted out, and curated
domain blocklists remove whole categories cheaply).

Reference context: fatiando/verde has no web layer; this module exists
for the webtext payload (BASELINE.json north rule: Common-Crawl-style
pages at 10^12 scale), alongside urls / extract.

Spark-first shapes (both gates are scan-speed):

- :func:`meta_robots` — a pure Catalyst regexp projection parsing
  ``<meta name="robots" content=...>`` (both attribute orders) into
  ``struct(noindex, nofollow)``; :func:`robots_filter` is one codegen'd
  filter over the scan.  Zero shuffle, zero Python.
- :func:`filter_blocklist` — domain-suffix matching.  A host is blocked
  when the host itself OR any of its parent-domain suffixes is listed
  (``ads.example.com`` matches a listed ``example.com``) — the standard
  registrable-domain blocklist semantics.  For a driver-side list (the
  common case: curated blocklists are small-side by nature) the whole
  gate is ONE projection — the host's suffix array intersected with a
  literal array — zero shuffle at any corpus size.  A DataFrame
  blocklist under ``driver_threshold`` rows is collected into that same
  literal form (same documented small-side contract as the ANN probe
  sets); above the threshold it falls back to an exploded-suffix
  broadcast semi-join (corpus still never shuffled; only the matched
  url set is).

The three-engine discipline (memory: established pattern): the Catalyst
expressions here have a single-value Python reference
(:func:`reference_meta_robots`, :func:`reference_host_suffixes`) and
DuckDB SQL twins (:func:`meta_robots_sql`, :func:`blocked_sql`) built
from the SAME pattern constants, so driver oracles replay the chain
bit-for-bit.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.urls import _URL_RE

#: content of a robots meta tag, attribute order name→content; the lazy
#: [^>]*? and quote classes are the shared Java-regex / RE2 / Python
#: subset (same discipline as extract.py)
_ROBOTS_NC_RE = (
    r"""(?is)<meta\b[^>]*?name\s*=\s*["']robots["'][^>]*?"""
    r"""content\s*=\s*["']([^"'<>]*)["']"""
)
#: …and order content→name (both orders appear in the wild)
_ROBOTS_CN_RE = (
    r"""(?is)<meta\b[^>]*?content\s*=\s*["']([^"'<>]*)["'][^>]*?"""
    r"""name\s*=\s*["']robots["']"""
)


def _directives(content: Column) -> Column:
    """",noindex,nofollow," — lower-cased, whitespace-stripped, comma-
    wrapped directive list for exact token membership via LIKE/contains
    (substring matching would confuse a hypothetical "nonoindex")."""
    return F.concat(
        F.lit(","),
        F.regexp_replace(F.lower(content), r"\s+", ""),
        F.lit(","),
    )


def meta_robots(html: Column | str = "html") -> Column:
    """``struct(noindex boolean, nofollow boolean)`` parsed from the
    page's robots meta tag (absent tag → both false).  ``none`` implies
    both, per the robots meta spec.  Pure Catalyst projection."""
    h = (F.col(html) if isinstance(html, str) else html).cast("string")

    def _build(t: Column) -> Column:
        # first non-empty match across the two attribute orders
        content = F.coalesce(
            F.nullif(F.regexp_extract(t, _ROBOTS_NC_RE, 1), F.lit("")),
            F.nullif(F.regexp_extract(t, _ROBOTS_CN_RE, 1), F.lit("")),
            F.lit(""),
        )
        d = _directives(content)
        none = d.contains(",none,")
        return F.struct(
            (d.contains(",noindex,") | none).alias("noindex"),
            (d.contains(",nofollow,") | none).alias("nofollow"),
        )

    # let-bind the casted html: it feeds two regexp_extracts and
    # interpreted Catalyst has no CSE (memory: round-3 traps)
    return F.element_at(F.transform(F.array(h), _build), 1)


def robots_filter(
    pages: DataFrame, html_col: str = "html", respect_noindex: bool = True
) -> DataFrame:
    """Drop pages whose robots meta requests noindex (the pages a
    training corpus must not keep).  One codegen'd filter over the scan —
    zero shuffle, zero Python.  ``respect_noindex=False`` returns the
    input unchanged (symmetry for recipe plumbing)."""
    if not respect_noindex:
        return pages
    return pages.filter(~meta_robots(html_col)["noindex"])


def reference_meta_robots(html: bytes | str | None) -> tuple[bool, bool]:
    """Single-value Python reference for :func:`meta_robots` (validation
    twin; same patterns, same semantics)."""
    if html is None:
        return (False, False)
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    # fall-through must mirror the engines' coalesce(nullif(NC, ''),
    # nullif(CN, '')): a name→content tag with EMPTY content does not
    # stop the content→name pattern from being consulted (a bare
    # `search(NC) or search(CN)` short-circuits on the empty match)
    m_nc = re.search(_ROBOTS_NC_RE, html)
    content = m_nc.group(1) if m_nc and m_nc.group(1) else ""
    if not content:
        m_cn = re.search(_ROBOTS_CN_RE, html)
        content = m_cn.group(1) if m_cn and m_cn.group(1) else ""
    d = "," + re.sub(r"\s+", "", content.lower()) + ","
    none = ",none," in d
    return (",noindex," in d or none, ",nofollow," in d or none)


def meta_robots_sql(html_col: str) -> tuple[str, str]:
    """DuckDB twins of ``meta_robots(html).noindex`` / ``.nofollow`` over
    a string html column — same pattern constants."""
    nc = _ROBOTS_NC_RE.replace("'", "''")
    cn = _ROBOTS_CN_RE.replace("'", "''")
    content = (
        f"coalesce(nullif(regexp_extract({html_col}, '{nc}', 1), ''), "
        f"nullif(regexp_extract({html_col}, '{cn}', 1), ''), '')"
    )
    d = f"',' || regexp_replace(lower({content}), '\\s+', '', 'g') || ','"
    none = f"contains({d}, ',none,')"
    return (
        f"(contains({d}, ',noindex,') OR {none})",
        f"(contains({d}, ',nofollow,') OR {none})",
    )


# ---------------------------------------------------------------------------
# domain blocklist


def host_of(url: Column | str = "url") -> Column:
    """Lower-cased host of an absolute url, userinfo/port stripped (the
    same normalization as ``urls.domain_of``, exposed here for suffix
    matching)."""
    u = F.col(url) if isinstance(url, str) else url
    # trim BEFORE the anchored match — urls.domain_of does; without it a
    # whitespace-padded url resolves to host '' here and silently
    # bypasses the robots/blocklist gates while crawl_schedule (via
    # domain_of) still schedules the page
    auth = F.regexp_extract(F.trim(u), _URL_RE, 2)
    return F.lower(
        F.regexp_replace(F.regexp_replace(auth, "^.*@", ""), ":[0-9]*$", "")
    )


def host_suffixes(url: Column | str = "url") -> Column:
    """Array of the host's domain suffixes, most-specific first:
    ``a.b.example.com → [a.b.example.com, b.example.com, example.com,
    com]``.  Hosts have a handful of labels, so the array is tiny and
    the whole thing is one projection."""
    u = F.col(url) if isinstance(url, str) else url

    def _build(h: Column) -> Column:
        parts = F.split(h, r"\.")
        n = F.size(parts)
        return F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
        )

    # let-bind the host: it feeds split twice otherwise (no CSE)
    return F.element_at(F.transform(F.array(host_of(u)), _build), 1)


def reference_host_suffixes(url: str) -> list[str]:
    """Single-value Python reference for :func:`host_suffixes`."""
    m = re.match(_URL_RE, url or "")
    host = re.sub(r":[0-9]*$", "", re.sub(r"^.*@", "", m.group(2))).lower() if m else ""
    parts = host.split(".")
    return [".".join(parts[i:]) for i in range(len(parts))]


def _normalized_domains(domains: Sequence[str]) -> list[str]:
    return sorted({d.strip().lower().lstrip(".") for d in domains if d and d.strip()})


def blocked_expr(url: Column | str, domains: Sequence[str]) -> Column:
    """Boolean column: the url's host equals, or is a subdomain of, any
    listed domain.  A literal-array intersection — pure projection, zero
    shuffle regardless of corpus size."""
    lits = F.array(*[F.lit(d) for d in _normalized_domains(domains)])
    return F.arrays_overlap(host_suffixes(url), lits)


def blocked_sql(url_col: str, domains: Sequence[str]) -> str:
    """DuckDB twin of :func:`blocked_expr` (same normalization, same
    suffix semantics) over a string url column."""
    host = (
        "lower(regexp_replace(regexp_replace("
        f"regexp_extract({url_col}, '{_URL_RE}', 2), '^.*@', ''), ':[0-9]*$', ''))"
    )
    lits = ", ".join("'" + d.replace("'", "''") + "'" for d in _normalized_domains(domains))
    return (
        f"len(list_intersect(list_transform(range(1, len(string_split({host}, '.')) + 1), "
        f"i -> array_to_string(list_slice(string_split({host}, '.'), i, "
        f"len(string_split({host}, '.'))), '.')), [{lits}])) > 0"
    )


def filter_blocklist(
    pages: DataFrame,
    blocked: Sequence[str] | DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Drop pages whose host is on (or under) a blocked domain.

    ``blocked`` is either a sequence of domain strings or a DataFrame
    with *domain_col*.  Small-side contract: a curated blocklist is tiny
    next to the corpus, so a DataFrame under ``driver_threshold`` rows is
    collected and inlined as a literal array — the gate is then ONE
    codegen'd projection and the corpus is never shuffled at any scale.
    A larger blocklist falls back to the exploded-suffix broadcast
    semi-join: only the matched url set (≤ blocked pages) is distinct-ed
    and anti-joined back — the corpus scan side still never repartitions
    on a data column.
    """
    if not isinstance(blocked, DataFrame):
        return pages.filter(~blocked_expr(url_col, list(blocked)))
    n = blocked.count()
    if n <= driver_threshold:
        doms = [r[0] for r in blocked.select(domain_col).collect()]
        return pages.filter(~blocked_expr(url_col, doms))
    # the join path must apply the SAME normalization as the literal
    # path's _normalized_domains (lower, trim, strip leading dots, drop
    # empties) — without the lstrip a '.example.com' blocklist entry
    # silently stops blocking the moment the list crosses the threshold
    norm = (
        blocked.select(
            F.regexp_replace(
                F.lower(F.trim(F.col(domain_col))), r"^\.+", ""
            ).alias("__dom")
        )
        .filter(F.col("__dom") != "")
        .distinct()
    )
    matched = (
        pages.select(
            F.col(url_col).alias("__url"),
            F.explode(host_suffixes(url_col)).alias("__sfx"),
        )
        .join(F.broadcast(norm), F.col("__sfx") == F.col("__dom"), "left_semi")
        .select("__url")
        .distinct()
    )
    # NULL urls: the literal path's ~blocked_expr predicate is NULL for
    # them (row dropped); an anti-join would keep them — filter
    # explicitly so the outcome doesn't depend on blocklist size
    kept = pages.filter(F.col(url_col).isNotNull())
    return kept.join(
        matched, kept[url_col] == matched["__url"], "left_anti"
    )


# ---------------------------------------------------------------------------
# robots.txt (the FILE-level Robots Exclusion Protocol, RFC 9309) — the
# third crawl-policy gate, complementing the page-level meta directives
# above.  A crawl corpus carries one robots.txt per host (a dim table,
# tiny next to the pages), and the training pipeline must honor it.
#
# Spark-first shape: the parse is a SCALAR fold (``F.aggregate`` over the
# split lines) producing an ``array<struct>`` of match-ready rules — one
# projection over the robots dim table, zero shuffle, zero Python.  The
# page-side gate is a broadcast hash join on host plus ONE projection
# evaluating RFC 9309 longest-match: the corpus is never shuffled at any
# scale.  Wildcard matching compiles each rule to a SQL LIKE pattern at
# parse time (``*`` → ``%``, trailing ``$`` anchor → no trailing ``%``;
# ``%``/``_``/``\`` escaped) — LIKE is engine-native in both Spark and
# DuckDB, so the twin replays bit-for-bit and nothing recompiles regexes
# per row.
#
# Semantics implemented (documented scope):
# - groups: consecutive ``User-agent`` lines form one group header; the
#   group's rules run until the next header (RFC 9309 §2.1).  Blank
#   lines are ignored entirely; unknown fields (sitemap, crawl-delay)
#   stay inside the group but terminate the header run.
# - agent selection: if any group names ``agent`` (case-insensitive
#   exact token), ONLY those groups apply — even if they contain no
#   rules; otherwise the ``*`` groups apply (RFC 9309 §2.2.1).
# - matching: most-specific (longest raw pattern, char length) wins;
#   on a tie ``Allow`` wins; no applicable rule → allowed (§2.2.2).
# - ``Disallow:`` / ``Allow:`` with an empty value match nothing.
# - out of scope (documented): percent-encoding normalization of rule
#   vs path octets; byte (vs char) pattern lengths.  Both are noted in
#   COVERAGE.md; neither changes any fixture in the test corpus.

#: line separators accepted by the parser (CRLF / CR / LF)
_ROBOTS_EOL_RE = r"\r\n|\r|\n"
#: comment: '#' to end of line
_ROBOTS_COMMENT_RE = r"#.*"
#: field-line whitespace trim (space + tab; SQL trim() is space-only)
_ROBOTS_TRIM_RE = r"^[ \t]+|[ \t]+$"

_RULE_FIELDS = ("allow", "disallow")


def _wtrim(c: Column) -> Column:
    return F.regexp_replace(c, _ROBOTS_TRIM_RE, "")


def _empty_rules() -> Column:
    """A typed empty ``array<struct<allow,pattern>>`` (slice-of-one trick:
    ``F.array().cast`` loses field names under interpreted Catalyst)."""
    one = F.array(
        F.struct(F.lit(True).alias("allow"), F.lit("").alias("pattern"))
    )
    return F.slice(one, 1, 0)


def _like_rule(r: Column) -> Column:
    """Compile a raw (allow, pattern) rule into the match-ready struct:
    ``*`` → ``%``, a trailing ``$`` anchors (no trailing ``%``), LIKE
    metacharacters escaped with ``\\``; ``plen`` is the raw pattern's
    char length (the RFC 9309 specificity key)."""
    p = r["pattern"]
    anchored = p.endswith("$")
    body = p.substr(
        F.lit(1), F.length(p) - F.when(anchored, F.lit(1)).otherwise(F.lit(0))
    )
    e = F.replace(body, F.lit("\\"), F.lit("\\\\"))
    e = F.replace(e, F.lit("%"), F.lit("\\%"))
    e = F.replace(e, F.lit("_"), F.lit("\\_"))
    e = F.replace(e, F.lit("*"), F.lit("%"))
    like_pat = F.concat(
        e, F.when(anchored, F.lit("")).otherwise(F.lit("%"))
    )
    return F.struct(
        r["allow"].alias("allow"),
        p.alias("pattern"),
        F.length(p).alias("plen"),
        like_pat.alias("like_pat"),
    )


def robots_txt_rules(txt: Column | str = "robots_txt", agent: str = "*") -> Column:
    """Parse a robots.txt body into match-ready rules for *agent* —
    ``array<struct<allow boolean, pattern string, plen int, like_pat
    string>>``.  One scalar ``aggregate`` fold over the split lines:
    pure Catalyst projection, zero shuffle, zero Python.  NULL text →
    NULL rules (no robots.txt → everything allowed downstream).

    No let-binding here on purpose: this runs once per HOST (the dim
    table), not per page — the page-side hot path never touches it.
    """
    t = (F.col(txt) if isinstance(txt, str) else txt).cast("string")
    agent_lit = F.lit(agent.strip().lower())
    empty = _empty_rules()
    init = F.struct(
        F.lit(False).alias("sa"),   # inside a '*' group
        F.lit(False).alias("aa"),   # inside a group naming `agent`
        F.lit(False).alias("ag"),   # any group named `agent` anywhere
        F.lit(False).alias("pu"),   # previous line was a User-agent line
        empty.alias("sr"),          # rules collected under '*' groups
        empty.alias("ar"),          # rules collected under `agent` groups
    )

    def _merge(acc: Column, line: Column) -> Column:
        # bind the cleaned line once (interpreted Catalyst has no CSE;
        # the comment-strip regex would otherwise re-run per reference)
        def _with_clean(c: Column) -> Column:
            pos = F.locate(":", c)
            fld = F.lower(_wtrim(c.substr(F.lit(1), pos - 1)))
            val = _wtrim(c.substr(pos + 1, F.length(c)))
            is_ua = (pos > 0) & (fld == "user-agent")
            tok = F.lower(val)
            new_group = is_ua & ~acc["pu"]
            sa0 = F.when(new_group, F.lit(False)).otherwise(acc["sa"])
            aa0 = F.when(new_group, F.lit(False)).otherwise(acc["aa"])
            sa = F.when(is_ua, sa0 | (tok == F.lit("*"))).otherwise(acc["sa"])
            aa = F.when(is_ua, aa0 | (tok == agent_lit)).otherwise(acc["aa"])
            ag = acc["ag"] | (is_ua & (tok == agent_lit))
            is_rule = (pos > 0) & fld.isin(*_RULE_FIELDS) & (val != "")
            rule = F.struct(
                (fld == F.lit("allow")).alias("allow"), val.alias("pattern")
            )
            sr = F.when(
                is_rule & acc["sa"], F.array_append(acc["sr"], rule)
            ).otherwise(acc["sr"])
            ar = F.when(
                is_rule & acc["aa"], F.array_append(acc["ar"], rule)
            ).otherwise(acc["ar"])
            # blank lines are ignored for grouping (RFC 9309): pu holds
            pu = F.when(c == "", acc["pu"]).otherwise(is_ua)
            return F.struct(
                sa.alias("sa"), aa.alias("aa"), ag.alias("ag"),
                pu.alias("pu"), sr.alias("sr"), ar.alias("ar"),
            )

        cleaned = _wtrim(F.regexp_replace(line, _ROBOTS_COMMENT_RE, ""))
        return F.element_at(F.transform(F.array(cleaned), _with_clean), 1)

    def _finish(acc: Column) -> Column:
        raw = F.when(acc["ag"], acc["ar"]).otherwise(acc["sr"])
        return F.transform(raw, _like_rule)

    lines = F.split(t, _ROBOTS_EOL_RE)
    return F.aggregate(lines, init, _merge, _finish)


def robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    txt_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """``(host, rules)`` — the parsed per-host rule table (one projection
    over the robots dim table)."""
    return robots.select(
        F.lower(F.trim(F.col(host_col))).alias("host"),
        robots_txt_rules(txt_col, agent).alias("rules"),
    )


def robots_matchable(url: Column | str = "url") -> Column:
    """The string RFC 9309 rules match against: path plus ``?query``
    when a query is present; an empty path normalizes to ``/``."""
    u = F.col(url) if isinstance(url, str) else url

    def _build(t: Column) -> Column:
        path = F.regexp_extract(t, _URL_RE, 3)
        query = F.regexp_extract(t, _URL_RE, 4)
        p = F.when(path == "", F.lit("/")).otherwise(path)
        return F.when(query == "", p).otherwise(F.concat(p, F.lit("?"), query))

    return F.element_at(F.transform(F.array(u), _build), 1)


def robots_allowed_expr(url: Column | str, rules: Column | str) -> Column:
    """Boolean: RFC 9309 verdict of *rules* (as built by
    :func:`robots_txt_rules`) for the url — longest match wins, Allow
    wins ties, no match (or NULL rules / no robots.txt row) → allowed.
    ONE projection: a LIKE filter over the rule array plus a fold
    picking the most specific rule."""
    r = F.col(rules) if isinstance(rules, str) else rules

    def _verdict(m: Column) -> Column:
        applicable = F.filter(
            r, lambda rule: F.like(m, rule["like_pat"], F.lit("\\"))
        )
        init = F.struct(
            F.lit(True).alias("allow"), F.lit(-1).alias("plen")
        )
        best = F.aggregate(
            applicable,
            init,
            lambda acc, rule: F.when(
                (rule["plen"] > acc["plen"])
                | ((rule["plen"] == acc["plen"]) & rule["allow"] & ~acc["allow"]),
                F.struct(rule["allow"].alias("allow"), rule["plen"].alias("plen")),
            ).otherwise(acc),
        )
        return best["allow"]

    # bind the matchable string once: it feeds every LIKE in the filter
    verdict = F.element_at(
        F.transform(F.array(robots_matchable(url)), _verdict), 1
    )
    return F.coalesce(verdict, F.lit(True))


def robots_txt_filter(
    pages: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    txt_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """Drop pages a host's robots.txt disallows for *agent*.

    100 TB shape: the robots table is per-host (a dim, tiny next to the
    corpus) — parse it once (projection), BROADCAST it, left-join on
    host, evaluate the verdict as one projection.  The corpus side never
    shuffles; hosts with no robots.txt row keep all their pages.
    """
    # one rules row per host: a robots dim with duplicate host rows
    # (e.g. a recrawled robots.txt appended rather than replaced) would
    # otherwise MULTIPLY every page of that host through the left join —
    # a "filter" that increases row count.  max(robots_txt) is a
    # deterministic winner; feed a properly versioned dim for real
    # latest-wins semantics.
    robots_one = robots.groupBy(host_col).agg(
        F.max(F.col(txt_col)).alias(txt_col)
    )
    rules = robots_rules(robots_one, host_col, txt_col, agent).select(
        F.col("host").alias("__rb_host"), F.col("rules").alias("__rb_rules")
    )
    joined = pages.join(
        F.broadcast(rules),
        host_of(url_col) == F.col("__rb_host"),
        "left",
    )
    return joined.filter(
        robots_allowed_expr(url_col, F.col("__rb_rules"))
    ).drop("__rb_host", "__rb_rules")


def reference_robots_rules(
    robots_txt: str | None, agent: str = "*"
) -> list[tuple[bool, str]]:
    """Single-value Python reference for :func:`robots_txt_rules` (raw
    ``(allow, pattern)`` pairs, pre-LIKE compilation) — same grouping,
    agent-selection and trimming semantics, used as parity ground truth
    by the tests."""
    if robots_txt is None:
        return []
    if isinstance(robots_txt, (bytes, bytearray)):
        robots_txt = robots_txt.decode("utf-8", errors="replace")
    agent = agent.strip().lower()
    sa = aa = ag = pu = False
    sr: list[tuple[bool, str]] = []
    ar: list[tuple[bool, str]] = []
    for line in re.split(_ROBOTS_EOL_RE, robots_txt):
        c = re.sub(_ROBOTS_TRIM_RE, "", re.sub(_ROBOTS_COMMENT_RE, "", line))
        if c == "":
            continue  # blank lines are ignored for grouping
        pos = c.find(":")
        fld = re.sub(_ROBOTS_TRIM_RE, "", c[:pos]).lower() if pos >= 0 else ""
        val = re.sub(_ROBOTS_TRIM_RE, "", c[pos + 1 :]) if pos >= 0 else ""
        is_ua = pos >= 0 and fld == "user-agent"
        if is_ua:
            if not pu:
                sa = aa = False
            tok = val.lower()
            sa = sa or tok == "*"
            aa = aa or tok == agent
            ag = ag or tok == agent
        elif pos >= 0 and fld in _RULE_FIELDS and val != "":
            rule = (fld == "allow", val)
            if sa:
                sr.append(rule)
            if aa:
                ar.append(rule)
        pu = is_ua
    return ar if ag else sr


def reference_robots_allowed(
    robots_txt: str | None, url: str, agent: str = "*"
) -> bool:
    """Single-value Python reference for :func:`robots_allowed_expr` —
    regex-backed glob matching equivalent to the LIKE compilation
    (``fullmatch`` with ``.*`` for ``*`` reproduces LIKE's whole-string
    semantics; the implicit trailing ``%`` is the unanchored arm)."""
    m = re.match(_URL_RE, url or "")
    path = (m.group(3) if m else "") or "/"
    query = m.group(4) if m else ""
    matchable = f"{path}?{query}" if query else path
    best: tuple[int, bool] | None = None
    for allow, pattern in reference_robots_rules(robots_txt, agent):
        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        rx = ".*".join(re.escape(part) for part in body.split("*"))
        if not anchored:
            rx += ".*"
        if re.fullmatch(rx, matchable, flags=re.DOTALL) is None:
            continue
        key = (len(pattern), allow)
        if best is None or key > best:
            best = key
    return True if best is None else best[1]


def robots_rules_sql(txt: str, agent: str = "*") -> str:
    """DuckDB twin of :func:`robots_txt_rules` over a string expression
    *txt* — the same fold, expressed with ``list_reduce`` (DuckDB has no
    seeded fold, so the seed rides as a prepended state-shaped element
    whose ``line`` is NULL; real lines enter as state-shaped elements
    carrying only ``line``).

    DuckDB 1.0's ``list_reduce`` silently RESETS list-valued struct
    fields in the accumulator each step (scalars/strings accumulate
    fine — verified), so the collected rules ride as newline-delimited
    strings (``'A<pattern>'`` / ``'D<pattern>'`` records): a newline can
    never occur inside a pattern because lines were split on EOL.  The
    encoded string is split back into rule structs after the fold."""
    a = agent.strip().lower().replace("'", "''")
    state = (
        "{{'sa': false, 'aa': false, 'ag': false, 'pu': false, "
        "'sr': '', 'ar': '', 'line': {line}}}"
    )
    seed = state.format(line="NULL::VARCHAR")
    elem = state.format(line="l")
    lines = (
        f"list_transform(string_split_regex({txt}, '{_ROBOTS_EOL_RE}'), "
        f"l -> {elem})"
    )
    # the merge body, with c/pos/fld/val spelled out per reference
    # coalesce: the seed element's NULL line must behave as a blank line
    # (ignored entirely); greatest(): DuckDB substr rejects negative
    # lengths (Spark clamps), and pos = 0 on non-directive lines
    c = f"coalesce(regexp_replace(regexp_replace(x.line, '{_ROBOTS_COMMENT_RE}', ''), '{_ROBOTS_TRIM_RE}', '', 'g'), '')"
    pos = f"strpos({c}, ':')"
    fld = f"lower(regexp_replace(substr({c}, 1, greatest({pos} - 1, 0)), '{_ROBOTS_TRIM_RE}', '', 'g'))"
    val = f"regexp_replace(substr({c}, {pos} + 1), '{_ROBOTS_TRIM_RE}', '', 'g')"
    is_ua = f"({pos} > 0 AND {fld} = 'user-agent')"
    tok = f"lower({val})"
    new_group = f"({is_ua} AND NOT acc.pu)"
    sa = (
        f"CASE WHEN {is_ua} THEN "
        f"((CASE WHEN {new_group} THEN false ELSE acc.sa END) OR {tok} = '*') "
        f"ELSE acc.sa END"
    )
    aa = (
        f"CASE WHEN {is_ua} THEN "
        f"((CASE WHEN {new_group} THEN false ELSE acc.aa END) OR {tok} = '{a}') "
        f"ELSE acc.aa END"
    )
    ag = f"(acc.ag OR ({is_ua} AND {tok} = '{a}'))"
    is_rule = f"({pos} > 0 AND {fld} IN ('allow', 'disallow') AND {val} <> '')"
    rule = (
        f"(CASE WHEN {fld} = 'allow' THEN 'A' ELSE 'D' END) "
        f"|| {val} || chr(10)"
    )
    sr = f"CASE WHEN {is_rule} AND acc.sa THEN acc.sr || {rule} ELSE acc.sr END"
    ar = f"CASE WHEN {is_rule} AND acc.aa THEN acc.ar || {rule} ELSE acc.ar END"
    pu = f"CASE WHEN {c} = '' THEN acc.pu ELSE {is_ua} END"
    merged = (
        f"{{'sa': {sa}, 'aa': {aa}, 'ag': {ag}, 'pu': {pu}, "
        f"'sr': {sr}, 'ar': {ar}, 'line': NULL::VARCHAR}}"
    )
    folded = (
        f"list_reduce(list_prepend({seed}, {lines}), (acc, x) -> {merged})"
    )
    # bind the fold once (it is referenced twice) via a 1-element list,
    # then decode the newline-delimited rule records into structs
    encoded = (
        f"list_transform([{folded}], s -> "
        "CASE WHEN s.ag THEN s.ar ELSE s.sr END)[1]"
    )
    raw = (
        f"list_transform(list_filter(string_split({encoded}, chr(10)), "
        "x -> x <> ''), x -> "
        "{'allow': substr(x, 1, 1) = 'A', 'pattern': substr(x, 2)})"
    )
    # LIKE compilation (mirrors _like_rule)
    anch = "ends_with(r.pattern, '$')"
    body = f"substr(r.pattern, 1, length(r.pattern) - CASE WHEN {anch} THEN 1 ELSE 0 END)"
    esc = (
        "replace(replace(replace(replace("
        f"{body}, '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%')"
    )
    like_pat = f"{esc} || CASE WHEN {anch} THEN '' ELSE '%' END"
    compiled = (
        f"list_transform({raw}, r -> {{'allow': r.allow, 'pattern': r.pattern, "
        f"'plen': length(r.pattern)::INT, 'like_pat': {like_pat}}})"
    )
    # NULL robots_txt → NULL rules (Spark: split/aggregate propagate NULL)
    return (
        f"CASE WHEN {txt} IS NULL THEN "
        "NULL::STRUCT(allow BOOLEAN, pattern VARCHAR, plen INT, like_pat VARCHAR)[] "
        f"ELSE {compiled} END"
    )


def robots_matchable_sql(url: str) -> str:
    """DuckDB twin of :func:`robots_matchable` over a url expression."""
    path = f"regexp_extract({url}, '{_URL_RE}', 3)"
    query = f"regexp_extract({url}, '{_URL_RE}', 4)"
    p = f"CASE WHEN {path} = '' THEN '/' ELSE {path} END"
    return f"CASE WHEN {query} = '' THEN {p} ELSE {p} || '?' || {query} END"


def robots_allowed_sql(matchable: str, rules: str) -> str:
    """DuckDB twin of :func:`robots_allowed_expr` given a matchable
    string expression and a rules expression (both SQL strings)."""
    applicable = (
        f"list_filter({rules}, r -> {matchable} LIKE r.like_pat ESCAPE '\\')"
    )
    init = "{'allow': true, 'plen': -1}"
    best = (
        f"list_reduce(list_prepend({init}, "
        f"list_transform({applicable}, r -> {{'allow': r.allow, 'plen': r.plen}})), "
        "(acc, r) -> CASE WHEN r.plen > acc.plen OR "
        "(r.plen = acc.plen AND r.allow AND NOT acc.allow) THEN r ELSE acc END)"
    )
    return f"coalesce(({best}).allow, true)"


# ---------------------------------------------------------------------------
# Sitemap discovery (sitemaps.org protocol) + the two robots.txt
# discovery fields: ``Sitemap:`` (GLOBAL — independent of any group,
# per the sitemaps.org robots extension) and ``Crawl-delay:``
# (per-group de-facto extension; same agent-precedence semantics as
# Allow/Disallow).  Together with the gates above these complete the
# crawl-policy front door: a pipeline can discover each host's
# sitemaps, honor its delay, and enumerate (loc, lastmod) URL entries
# for incremental recrawl — all as pure Catalyst projections over the
# per-host robots/sitemap DIM tables; the page corpus is never touched.
#
# Scope notes (documented): sitemap <loc> values are unescaped for the
# five predefined XML entities (the protocol requires entity-escaped
# URLs); <lastmod> stays a raw W3C-datetime STRING — same-format values
# compare lexicographically, and casting is left to the caller (Spark
# and DuckDB timestamp parsers differ on zone suffixes, so a cast here
# would break the twin's bit-parity).  Crawl-delay: LAST applicable
# value wins; non-numeric → NULL (try_cast semantics in both engines).

#: one <url>…</url> (urlset) or <sitemap>…</sitemap> (index) block
_SITEMAP_BLOCK_RE = r"(?is)<{tag}\b[^>]*>(.*?)</{tag}>"
#: child element bodies inside a block ([^<]*: element content only)
_SITEMAP_LOC_RE = r"(?is)<loc[^>]*>([^<]*)</loc>"
_SITEMAP_LASTMOD_RE = r"(?is)<lastmod[^>]*>([^<]*)</lastmod>"

#: the five predefined XML entities, ampersand LAST (unescape order)
_XML_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&apos;", "'"), ("&amp;", "&"),
)


def _xml_unescape(c: Column) -> Column:
    for ent, ch in _XML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _xml_unescape_sql(expr: str) -> str:
    for ent, ch in _XML_ENTITIES:
        lit = ch.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{lit}')"
    return expr


def robots_sitemaps(txt: Column | str = "robots_txt") -> Column:
    """``array<string>`` of the Sitemap URLs a robots.txt declares.
    Sitemap lines are global (sitemaps.org robots extension): no group
    state needed — one split + per-line field extract + filter, a pure
    projection over the per-host robots dim.  NULL text → NULL."""
    t = (F.col(txt) if isinstance(txt, str) else txt).cast("string")

    def _val(line: Column) -> Column:
        # like robots_txt_rules, this runs once per HOST — no binding
        c = _wtrim(F.regexp_replace(line, _ROBOTS_COMMENT_RE, ""))
        pos = F.locate(":", c)
        fld = F.lower(_wtrim(c.substr(F.lit(1), pos - 1)))
        val = _wtrim(c.substr(pos + 1, F.length(c)))
        return F.when((pos > 0) & (fld == "sitemap"), val).otherwise(F.lit(""))

    lines = F.split(t, _ROBOTS_EOL_RE)
    return F.filter(F.transform(lines, _val), lambda v: v != "")


def robots_crawl_delay(
    txt: Column | str = "robots_txt", agent: str = "*"
) -> Column:
    """``double`` Crawl-delay for *agent*, or NULL when no applicable
    group declares one (or the last declared value is non-numeric).
    Group/agent semantics match :func:`robots_txt_rules` exactly: if
    any group names *agent*, ONLY those groups apply; within the
    applicable groups the LAST value wins.  One scalar fold — same
    shape as the rules parse, scalar accumulator fields only."""
    t = (F.col(txt) if isinstance(txt, str) else txt).cast("string")
    agent_lit = F.lit(agent.strip().lower())
    nul = F.lit(None).cast("string")
    init = F.struct(
        F.lit(False).alias("sa"), F.lit(False).alias("aa"),
        F.lit(False).alias("ag"), F.lit(False).alias("pu"),
        nul.alias("sd"), nul.alias("ad"),
    )

    def _merge(acc: Column, line: Column) -> Column:
        def _with_clean(c: Column) -> Column:
            pos = F.locate(":", c)
            fld = F.lower(_wtrim(c.substr(F.lit(1), pos - 1)))
            val = _wtrim(c.substr(pos + 1, F.length(c)))
            is_ua = (pos > 0) & (fld == "user-agent")
            tok = F.lower(val)
            new_group = is_ua & ~acc["pu"]
            sa0 = F.when(new_group, F.lit(False)).otherwise(acc["sa"])
            aa0 = F.when(new_group, F.lit(False)).otherwise(acc["aa"])
            sa = F.when(is_ua, sa0 | (tok == F.lit("*"))).otherwise(acc["sa"])
            aa = F.when(is_ua, aa0 | (tok == agent_lit)).otherwise(acc["aa"])
            ag = acc["ag"] | (is_ua & (tok == agent_lit))
            is_cd = (pos > 0) & (fld == F.lit("crawl-delay")) & (val != "")
            sd = F.when(is_cd & acc["sa"], val).otherwise(acc["sd"])
            ad = F.when(is_cd & acc["aa"], val).otherwise(acc["ad"])
            pu = F.when(c == "", acc["pu"]).otherwise(is_ua)
            return F.struct(
                sa.alias("sa"), aa.alias("aa"), ag.alias("ag"),
                pu.alias("pu"), sd.alias("sd"), ad.alias("ad"),
            )

        cleaned = _wtrim(F.regexp_replace(line, _ROBOTS_COMMENT_RE, ""))
        return F.element_at(F.transform(F.array(cleaned), _with_clean), 1)

    def _finish(acc: Column) -> Column:
        return F.when(acc["ag"], acc["ad"]).otherwise(acc["sd"]).try_cast(
            "double"
        )

    lines = F.split(t, _ROBOTS_EOL_RE)
    return F.aggregate(lines, init, _merge, _finish)


def sitemap_entries(
    xml: Column | str = "sitemap_xml", tag: str = "url"
) -> Column:
    """``array<struct<loc string, lastmod string>>`` parsed from a
    sitemap body: ``tag="url"`` reads a urlset, ``tag="sitemap"`` reads
    a sitemap INDEX (child-sitemap locs; lastmod when present).  One
    regexp_extract_all over the block tag + per-block child extracts —
    pure projection.  Blocks without a <loc> are dropped; <loc> is
    XML-entity-unescaped; <lastmod> stays a raw string (absent → '')."""
    if tag not in ("url", "sitemap"):
        raise ValueError(f"tag must be 'url' or 'sitemap', got {tag!r}")
    x = (F.col(xml) if isinstance(xml, str) else xml).cast("string")
    block_re = _SITEMAP_BLOCK_RE.format(tag=tag)

    def _entry(b: Column) -> Column:
        return F.struct(
            _xml_unescape(
                _wtrim(F.regexp_extract(b, _SITEMAP_LOC_RE, 1))
            ).alias("loc"),
            _wtrim(F.regexp_extract(b, _SITEMAP_LASTMOD_RE, 1)).alias(
                "lastmod"
            ),
        )

    blocks = F.regexp_extract_all(x, F.lit(block_re), F.lit(1))
    return F.filter(
        F.transform(blocks, _entry), lambda e: e["loc"] != ""
    )


def sitemap_urls(
    sitemaps: DataFrame,
    xml_col: str = "sitemap_xml",
    tag: str = "url",
) -> DataFrame:
    """Explode a sitemap dim table into one row per (loc, lastmod)
    entry, keeping every other column.  Projection + Generate — zero
    shuffle at any scale; the sitemap table is per-host (dim-sized)."""
    other = [c for c in sitemaps.columns if c != xml_col]
    return sitemaps.select(
        *other, F.explode(sitemap_entries(xml_col, tag)).alias("__e")
    ).select(*other, F.col("__e.loc").alias("loc"),
             F.col("__e.lastmod").alias("lastmod"))


def reference_robots_sitemaps(robots_txt: str | None) -> list[str]:
    """Single-value Python reference for :func:`robots_sitemaps`."""
    if robots_txt is None:
        return []
    if isinstance(robots_txt, (bytes, bytearray)):
        robots_txt = robots_txt.decode("utf-8", errors="replace")
    out = []
    for line in re.split(_ROBOTS_EOL_RE, robots_txt):
        c = re.sub(_ROBOTS_TRIM_RE, "", re.sub(_ROBOTS_COMMENT_RE, "", line))
        pos = c.find(":")
        if pos < 0:
            continue
        fld = re.sub(_ROBOTS_TRIM_RE, "", c[:pos]).lower()
        val = re.sub(_ROBOTS_TRIM_RE, "", c[pos + 1 :])
        if fld == "sitemap" and val != "":
            out.append(val)
    return out


def reference_robots_crawl_delay(
    robots_txt: str | None, agent: str = "*"
) -> float | None:
    """Single-value Python reference for :func:`robots_crawl_delay`."""
    if robots_txt is None:
        return None
    if isinstance(robots_txt, (bytes, bytearray)):
        robots_txt = robots_txt.decode("utf-8", errors="replace")
    agent = agent.strip().lower()
    sa = aa = ag = pu = False
    sd: str | None = None
    ad: str | None = None
    for line in re.split(_ROBOTS_EOL_RE, robots_txt):
        c = re.sub(_ROBOTS_TRIM_RE, "", re.sub(_ROBOTS_COMMENT_RE, "", line))
        if c == "":
            continue
        pos = c.find(":")
        fld = re.sub(_ROBOTS_TRIM_RE, "", c[:pos]).lower() if pos >= 0 else ""
        val = re.sub(_ROBOTS_TRIM_RE, "", c[pos + 1 :]) if pos >= 0 else ""
        is_ua = pos >= 0 and fld == "user-agent"
        if is_ua:
            if not pu:
                sa = aa = False
            tok = val.lower()
            sa = sa or tok == "*"
            aa = aa or tok == agent
            ag = ag or tok == agent
        elif pos >= 0 and fld == "crawl-delay" and val != "":
            if sa:
                sd = val
            if aa:
                ad = val
        pu = is_ua
    raw = ad if ag else sd
    if raw is None:
        return None
    try:
        return float(raw)
    except ValueError:
        return None


def reference_sitemap_entries(
    xml: str | None, tag: str = "url"
) -> list[tuple[str, str]]:
    """Single-value Python reference for :func:`sitemap_entries`."""
    if xml is None:
        return []
    if isinstance(xml, (bytes, bytearray)):
        xml = xml.decode("utf-8", errors="replace")
    out = []
    for block in re.findall(_SITEMAP_BLOCK_RE.format(tag=tag), xml):
        locs = re.findall(_SITEMAP_LOC_RE, block)
        loc = re.sub(_ROBOTS_TRIM_RE, "", locs[0]) if locs else ""
        for ent, ch in _XML_ENTITIES:
            loc = loc.replace(ent, ch)
        if loc == "":
            continue
        mods = re.findall(_SITEMAP_LASTMOD_RE, block)
        out.append((loc, re.sub(_ROBOTS_TRIM_RE, "", mods[0]) if mods else ""))
    return out


def robots_sitemaps_sql(txt: str) -> str:
    """DuckDB twin of :func:`robots_sitemaps`."""
    c = (
        f"regexp_replace(regexp_replace(l, '{_ROBOTS_COMMENT_RE}', ''), "
        f"'{_ROBOTS_TRIM_RE}', '', 'g')"
    )
    pos = f"strpos({c}, ':')"
    fld = (
        f"lower(regexp_replace(substr({c}, 1, greatest({pos} - 1, 0)), "
        f"'{_ROBOTS_TRIM_RE}', '', 'g'))"
    )
    val = f"regexp_replace(substr({c}, {pos} + 1), '{_ROBOTS_TRIM_RE}', '', 'g')"
    mapped = (
        f"list_transform(string_split_regex({txt}, '{_ROBOTS_EOL_RE}'), "
        f"l -> CASE WHEN {pos} > 0 AND {fld} = 'sitemap' THEN {val} "
        "ELSE '' END)"
    )
    return f"list_filter({mapped}, v -> v <> '')"


def robots_crawl_delay_sql(txt: str, agent: str = "*") -> str:
    """DuckDB twin of :func:`robots_crawl_delay` — same string-state
    ``list_reduce`` fold as :func:`robots_rules_sql` (scalar fields
    accumulate fine; no list-valued state needed here)."""
    a = agent.strip().lower().replace("'", "''")
    state = (
        "{{'sa': false, 'aa': false, 'ag': false, 'pu': false, "
        "'sd': NULL::VARCHAR, 'ad': NULL::VARCHAR, 'line': {line}}}"
    )
    seed = state.format(line="NULL::VARCHAR")
    elem = state.format(line="l")
    lines = (
        f"list_transform(string_split_regex({txt}, '{_ROBOTS_EOL_RE}'), "
        f"l -> {elem})"
    )
    c = (
        "coalesce(regexp_replace(regexp_replace(x.line, "
        f"'{_ROBOTS_COMMENT_RE}', ''), '{_ROBOTS_TRIM_RE}', '', 'g'), '')"
    )
    pos = f"strpos({c}, ':')"
    fld = (
        f"lower(regexp_replace(substr({c}, 1, greatest({pos} - 1, 0)), "
        f"'{_ROBOTS_TRIM_RE}', '', 'g'))"
    )
    val = f"regexp_replace(substr({c}, {pos} + 1), '{_ROBOTS_TRIM_RE}', '', 'g')"
    is_ua = f"({pos} > 0 AND {fld} = 'user-agent')"
    tok = f"lower({val})"
    new_group = f"({is_ua} AND NOT acc.pu)"
    sa = (
        f"CASE WHEN {is_ua} THEN "
        f"((CASE WHEN {new_group} THEN false ELSE acc.sa END) OR {tok} = '*') "
        f"ELSE acc.sa END"
    )
    aa = (
        f"CASE WHEN {is_ua} THEN "
        f"((CASE WHEN {new_group} THEN false ELSE acc.aa END) OR {tok} = '{a}') "
        f"ELSE acc.aa END"
    )
    ag = f"(acc.ag OR ({is_ua} AND {tok} = '{a}'))"
    is_cd = f"({pos} > 0 AND {fld} = 'crawl-delay' AND {val} <> '')"
    sd = f"CASE WHEN {is_cd} AND acc.sa THEN {val} ELSE acc.sd END"
    ad = f"CASE WHEN {is_cd} AND acc.aa THEN {val} ELSE acc.ad END"
    pu = f"CASE WHEN {c} = '' THEN acc.pu ELSE {is_ua} END"
    merged = (
        f"{{'sa': {sa}, 'aa': {aa}, 'ag': {ag}, 'pu': {pu}, "
        f"'sd': {sd}, 'ad': {ad}, 'line': NULL::VARCHAR}}"
    )
    folded = (
        f"list_reduce(list_prepend({seed}, {lines}), (acc, x) -> {merged})"
    )
    picked = (
        f"list_transform([{folded}], s -> "
        "CASE WHEN s.ag THEN s.ad ELSE s.sd END)[1]"
    )
    return f"TRY_CAST({picked} AS DOUBLE)"


def sitemap_entries_sql(xml: str, tag: str = "url") -> str:
    """DuckDB twin of :func:`sitemap_entries`."""
    if tag not in ("url", "sitemap"):
        raise ValueError(f"tag must be 'url' or 'sitemap', got {tag!r}")
    block_re = _SITEMAP_BLOCK_RE.format(tag=tag)
    loc_raw = f"regexp_extract(b, '{_SITEMAP_LOC_RE}', 1)"
    loc = _xml_unescape_sql(
        f"regexp_replace({loc_raw}, '{_ROBOTS_TRIM_RE}', '', 'g')"
    )
    mod = (
        f"regexp_replace(regexp_extract(b, '{_SITEMAP_LASTMOD_RE}', 1), "
        f"'{_ROBOTS_TRIM_RE}', '', 'g')"
    )
    entries = (
        f"list_transform(regexp_extract_all({xml}, '{block_re}', 1), "
        f"b -> {{'loc': {loc}, 'lastmod': {mod}}})"
    )
    return f"list_filter({entries}, e -> e.loc <> '')"


# -- frontier scheduling (politeness) ------------------------------------

def crawl_schedule(
    frontier: DataFrame,
    delays: DataFrame | None = None,
    *,
    url_col: str = "url",
    priority_col: str | None = None,
    default_delay: float = 1.0,
    max_per_host: int | None = None,
    hash_expr: Column | None = None,
) -> DataFrame:
    """Politeness scheduler: order a fetch frontier per host and assign
    each url its fetch slot — ``fetch_seq`` (1-based position in the
    host's queue) and ``eta_sec`` (earliest fetch offset =
    ``(fetch_seq - 1) × crawl_delay``), honoring per-host ``Crawl-delay``
    (:func:`robots_crawl_delay` builds *delays*: ``host, crawl_delay``).

    Queue order within a host: *priority_col* DESC first when given
    (NULLS LAST), then deterministic hash (default ``xxhash64(url)``;
    pass *hash_expr* for an engine-portable arithmetic rank), then url —
    a total order, so the schedule is a pure function of the frontier
    (stable under retries / parallelism, the sampling-operator
    discipline).

    Scale shape: ONE hash-partition window on host — the frontier is
    the crawl queue (≪ corpus); the *delays* dim joins BROADCAST; with
    *max_per_host* the ``row_number <= k`` filter plans as
    ``WindowGroupLimit`` (per-task top-k below the exchange), bounding
    any single host's queue before it ships.
    """
    from pyspark.sql.window import Window

    from ..functions.urls import domain_of

    h = hash_expr if hash_expr is not None else F.xxhash64(F.col(url_col))
    order = [h.asc(), F.col(url_col).asc()]
    if priority_col:
        order = [F.col(priority_col).desc_nulls_last()] + order
    out = frontier.withColumn("host", domain_of(url_col)).withColumn(
        "fetch_seq",
        F.row_number().over(Window.partitionBy("host").orderBy(*order)),
    )
    if max_per_host is not None:
        out = out.filter(F.col("fetch_seq") <= int(max_per_host))
    if delays is not None:
        dim = delays.select(
            F.col("host").alias("__dh"), F.col("crawl_delay").alias("__delay")
        )
        out = out.join(
            F.broadcast(dim), out["host"] == dim["__dh"], "left"
        ).drop("__dh")
        delay = F.coalesce(F.col("__delay"), F.lit(float(default_delay)))
        out = out.withColumn(
            "eta_sec", (F.col("fetch_seq") - 1).cast("double") * delay
        ).drop("__delay")
    else:
        out = out.withColumn(
            "eta_sec",
            (F.col("fetch_seq") - 1).cast("double") * F.lit(float(default_delay)),
        )
    return out


def crawl_schedule_sql(
    src_sql: str,
    delays_sql: str | None = None,
    *,
    url_col: str = "url",
    priority_col: str | None = None,
    default_delay: float = 1.0,
    max_per_host: int | None = None,
    hash_sql: str | None = None,
    select_cols: str | None = None,
) -> str:
    """DuckDB twin of :func:`crawl_schedule`.  DuckDB has no ``xxhash64``,
    so an engine-portable *hash_sql* must mirror the Spark call's
    *hash_expr* (the established arithmetic-rank pattern)."""
    host = (
        f"lower(regexp_replace(regexp_replace("
        f"regexp_extract(trim({url_col}), '{_URL_RE}', 2), "
        f"'^.*@', ''), ':[0-9]*$', ''))"
    )
    order = f"{hash_sql or url_col} ASC, {url_col} ASC"
    if priority_col:
        order = f"{priority_col} DESC NULLS LAST, " + order
    cap = f"WHERE fetch_seq <= {int(max_per_host)}" if max_per_host else ""
    cols = select_cols or f"{url_col}, host, fetch_seq"
    if delays_sql is None:
        eta = f"CAST(fetch_seq - 1 AS DOUBLE) * {float(default_delay)!r}"
        return f"""
            WITH src AS ({src_sql}),
            ranked AS (
              SELECT *, {host} AS host,
                     CAST(row_number() OVER (
                       PARTITION BY {host} ORDER BY {order}
                     ) AS INT) AS fetch_seq
              FROM src
            )
            SELECT {cols}, {eta} AS eta_sec FROM ranked {cap}
        """
    eta = (
        f"CAST(fetch_seq - 1 AS DOUBLE)"
        f" * COALESCE(d.crawl_delay, {float(default_delay)!r})"
    )
    return f"""
        WITH src AS ({src_sql}),
        dim AS ({delays_sql}),
        ranked AS (
          SELECT *, {host} AS host,
                 CAST(row_number() OVER (
                   PARTITION BY {host} ORDER BY {order}
                 ) AS INT) AS fetch_seq
          FROM src
        )
        SELECT {cols}, {eta} AS eta_sec
        FROM ranked LEFT JOIN dim d USING (host) {cap}
    """
