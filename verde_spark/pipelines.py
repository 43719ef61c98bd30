"""End-to-end corpus pipelines: the recipes a crawl operator actually
runs, composed from the individual operators.

``clean_corpus`` is the webtext twin of the spatial flagship
(pages → geotag → blockmean → spline): one call takes a raw page table
through the standard training-data front door —

1. url-canonical dedup (``dedup_url`` — drop recrawls/link variants;
   ONE max_by shuffle),
2. text extraction when only ``html`` is present (``extract_text`` —
   pure projection),
3. quality gates (token count, stopword ratio, repetition ratio,
   blended quality score — all pure projections, applied as one filter
   so the scan evaluates them in a single codegen stage),
4. exact content dedup (``dedup_exact`` — one hash-window shuffle),
5. optional MinHash near-dup pass (``dedup_minhash``; off by default —
   it is the only multi-join stage, and many corpora gate it behind the
   cheap passes above).

Every knob defaults to a documented, conservative value; the returned
DataFrame carries the original columns plus the computed quality
columns so downstream samplers (``hash_split`` / ``stratified_sample``)
can stratify on them.  Total physical cost without the MinHash pass:
two shuffles (url agg, content-hash window) over one codegen'd scan —
the shape you want at 10^12 pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def clean_corpus(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    html_col: str = "html",
    lang: str = "en",
    min_tokens: int = 5,
    min_stopword_ratio: float = 0.0,
    max_repetition: float = 0.5,
    min_quality: float = 0.0,
    near_dup: bool = False,
    normalize_dedup: bool = False,
    id_col: str | None = None,
    benchmark: DataFrame | None = None,
    decontam_ngram: int = 13,
    redact: bool = False,
    max_per_domain: int | None = None,
    blocklist=None,
    respect_noindex: bool = False,
    robots: DataFrame | None = None,
    robots_agent: str = "*",
    gopher: bool = False,
    gopher_thresholds: dict | None = None,
    c4: bool = False,
    c4_thresholds: dict | None = None,
    c4_badwords=None,
    max_perplexity: float | None = None,
    novel_against: DataFrame | None = None,
    lm=None,
) -> DataFrame:
    """Standard crawl-cleaning recipe; see module docstring.

    When ``text_col`` is absent from the table, text is extracted from
    ``html_col`` into a new column of that name (the stored column is
    otherwise never rewritten — byte-identity invariant).  ``near_dup``
    additionally runs the transitive MinHash pass, which needs a numeric
    id: pass ``id_col`` or one is derived as ``xxhash64(url, ts)`` (the
    recrawl-safe recipe from ``__main__``'s dedup job).

    Round-4 optional stages (each off by default):

    * ``benchmark`` — a (small) eval-set DataFrame with the same text
      column: documents sharing a ``decontam_ngram``-word gram with it
      are dropped (``operators.decontam.decontaminate``, the C4-style
      13-gram rule; broadcast join, zero extra corpus shuffles),
    * ``normalize_dedup=True`` — the exact-dedup stage keys on the
      CCNet-normalized form (``functions.normalize``: lowercase,
      accents stripped, digits zeroed, punctuation unified) instead of
      the raw bytes, so trivial variants of a page collapse to one
      representative; still one window shuffle, key computed map-side,
    * ``redact=True`` — PII scrub (emails/IPv4/phones → tokens) into a
      NEW ``<text_col>_clean`` column (``functions.pii.redact_pii``; the
      text column is never rewritten — byte-identity invariant),
    * ``max_per_domain`` — per-domain page cap for corpus balance
      (``operators.sampling.cap_per_domain``; one WindowGroupLimit
      shuffle),
    * ``blocklist`` — a sequence of domain strings (or a DataFrame with
      a ``domain`` column): pages on or under a listed domain are
      dropped before anything else runs
      (``operators.crawl.filter_blocklist``; small-side list = pure
      projection, zero shuffle),
    * ``respect_noindex=True`` — drop pages whose
      ``<meta name="robots">`` requests noindex
      (``operators.crawl.robots_filter``; pure projection — requires
      ``html_col`` to be present),
    * ``robots`` — a per-host robots.txt dim table (``host`` +
      ``robots_txt`` columns): pages the host's robots.txt disallows
      for ``robots_agent`` are dropped — the RFC 9309 file-level gate
      (``operators.crawl.robots_txt_filter``; the dim is parsed once
      and BROADCAST, the corpus side never shuffles).

    The crawl-policy gates run FIRST: they are the cheapest drops and
    the projection gates fuse into the same codegen'd scan stage as the
    quality gates — only the broadcast robots join adds an operator (on
    the dim side), never a corpus shuffle.

    ``gopher=True`` additionally applies the Gopher-rule document filter
    (``functions.text.passes_gopher`` — Rae et al. 2021 defaults;
    override individual thresholds via ``gopher_thresholds``).  Also a
    pure projection: it joins the same codegen'd gate stage.

    ``max_perplexity`` applies the CCNet-style LM quality gate: documents
    whose char-bigram perplexity under the reference LM (``lm`` — default
    the fixed ``ENGLISH_LM``; or a ``train_char_lm`` corpus model)
    exceeds the threshold are dropped.  Pure literal-fold projection, no
    added stage; texts too short to score (NULL) are kept.

    ``c4=True`` applies the C4 page rules (``functions.text.passes_c4``
    — Raffel et al. 2020 §2.2: ≥5 sentences after line cleaning, no
    "lorem ipsum", no curly brace, optional ``c4_badwords``; override
    thresholds via ``c4_thresholds``) in the same gate stage, and emits
    the line-cleaned body as a NEW ``<text_col>_c4`` column (terminal-
    punctuation + ≥3-words + no-javascript lines re-joined) — the stored
    text column is never rewritten (byte-identity invariant); dedup
    stages keep keying on the stored text.

    ``novel_against`` makes the recipe INCREMENTAL: pass the prior
    snapshot's content-hash set (``operators.dedup.seen_hashes``) and
    documents already ingested are dropped by one anti-join on the
    64-bit hash before the within-batch dedup stages (the rolling-crawl
    pattern).
    """
    if blocklist is not None:
        from .operators.crawl import filter_blocklist

        pages = filter_blocklist(pages, blocklist, url_col=url_col)
    if respect_noindex:
        from .operators.crawl import robots_filter

        pages = robots_filter(pages, html_col=html_col)
    if robots is not None:
        from .operators.crawl import robots_txt_filter

        pages = robots_txt_filter(
            pages, robots, url_col=url_col, agent=robots_agent
        )
    from .functions.text import (
        quality_score,
        repetition_ratio,
        stopword_ratio,
        token_count,
    )
    from .operators.dedup import dedup_exact, dedup_minhash

    from .functions.urls import dedup_url

    out = dedup_url(pages, url_col=url_col, ts_col=ts_col)
    if text_col not in out.columns:
        from .functions.extract import extract_text

        out = out.withColumn(text_col, extract_text(html_col))

    out = (
        out.withColumn("n_tokens", token_count(text_col))
        .withColumn("sw_ratio", stopword_ratio(text_col, lang=lang))
        .withColumn("rep_ratio", repetition_ratio(text_col))
        .withColumn("quality", quality_score(text_col))
    )
    out = out.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("sw_ratio") >= min_stopword_ratio)
        & (F.col("rep_ratio") <= max_repetition)
        & (F.col("quality") >= min_quality)
    )
    if max_perplexity is not None:
        from .functions.charlm import ENGLISH_LM, perplexity_expr

        # CCNet-shape LM gate: perplexity under a clean-text reference LM
        # (functions/charlm; default ENGLISH_LM, or pass a corpus-trained
        # CharLM via ``lm``).  Pure literal-fold projection — joins the
        # same codegen'd gate stage; short/no-gram texts score NULL and
        # are kept (no signal ≠ bad signal).
        ppl = perplexity_expr(lm or ENGLISH_LM, text_col)
        out = out.filter(ppl.isNull() | (ppl <= F.lit(float(max_perplexity))))
    if gopher:
        from .functions.text import passes_gopher

        out = out.filter(
            passes_gopher(text_col, lang=lang, **(gopher_thresholds or {}))
        )
    if c4:
        from .functions.text import C4_DEFAULTS, c4_filtered_text, passes_c4

        ct = {**C4_DEFAULTS, **(c4_thresholds or {})}
        out = out.filter(
            passes_c4(text_col, badwords=c4_badwords, **ct)
        ).withColumn(
            f"{text_col}_c4",
            c4_filtered_text(text_col, ct["min_words_per_line"]),
        )

    if benchmark is not None:
        from .operators.decontam import decontaminate

        # id for the anti join: the url is unique after dedup_url
        out = decontaminate(
            out, benchmark, id_col=url_col, text_col=text_col, n=decontam_ngram
        )

    if novel_against is not None:
        from .operators.dedup import novel_docs

        # incremental gate: drop docs whose content was in the prior
        # snapshot (seen_hashes table) — ONE anti-join on the 64-bit
        # hash before the within-batch dedup stages
        out = novel_docs(out, novel_against, text_col=text_col)
    if near_dup and id_col is None:
        id_col = "__docid"
        out = out.withColumn(id_col, F.xxhash64(url_col, ts_col))
    dedup_key = None
    if normalize_dedup:
        from .functions.normalize import normalized_fingerprint

        # CCNet rule: dedup on the normalized form (lowercase, accents
        # stripped, digits zeroed, punctuation unified) so trivial
        # variants of a page collapse — still ONE window shuffle, the
        # key computes map-side; the stored text is never rewritten
        dedup_key = normalized_fingerprint(text_col)
    out = dedup_exact(
        out, id_col=id_col or url_col, text_col=text_col, key=dedup_key
    )
    if near_dup:
        out = dedup_minhash(out, id_col=id_col, text_col=text_col)
        if id_col == "__docid":
            out = out.drop(id_col)

    if redact:
        from .functions.pii import redact_pii

        out = out.withColumn(f"{text_col}_clean", redact_pii(text_col))
    if max_per_domain is not None:
        from .operators.sampling import cap_per_domain

        out = cap_per_domain(out, max_per_domain, url_col=url_col)
    return out


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    exact_unique: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """One-pass corpus profile: per-language rows plus an ``ALL`` rollup.

    The "what does my corpus look like" front-door query: doc counts,
    token/char volume, exact-duplicate rate and mean quality score, per
    detected (or given) language and for the whole table, in ONE job.

    Physical shape at 10^12 docs: every per-doc feature (lang ID, token
    count, quality score, 64-bit content hash) is a pure codegen
    projection over the scan; ``rollup`` compiles to a single Expand +
    hash-aggregate — partial (map-side) aggregation for the algebraic
    stats, so the shuffle carries tiny per-(lang, grouping) states plus,
    for the exact unique count, one 64-bit hash per distinct text.  With
    ``exact_unique=False`` the distinct count switches to HyperLogLog++
    (``approx_count_distinct``) and the shuffle drops to constant-size
    sketches per language — the 100 TB setting; exact is the default so
    small-scale runs are value-oracle-able.

    Duplicate detection hashes the text to 64 bits first (xxhash64) so
    the shuffle key is fixed-width, never the document body — identical
    answers to ``count(DISTINCT text)`` absent a 2^-64 collision (the
    same contract as the minhash/decontamination oracles).

    Columns: ``lang | n_docs | n_tokens | n_chars | n_unique_texts |
    dup_rate | avg_quality`` with ``lang='ALL'`` on the rollup row.
    """
    from .functions.text import lang_id_expr, quality_score, token_count

    t = F.col(text_col)
    lang_expr = F.col(lang_col) if lang_col is not None else lang_id_expr(text_col)
    base = df.select(
        lang_expr.alias("lang"),
        token_count(text_col).cast("long").alias("_tokens"),
        F.length(t).cast("long").alias("_chars"),
        quality_score(text_col).alias("_quality"),
        F.xxhash64(t).alias("_h"),
    )
    uniq = (
        F.countDistinct("_h") if exact_unique else F.approx_count_distinct("_h")
    ).alias("n_unique_texts")
    rep = base.rollup("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tokens").alias("n_tokens"),
        F.sum("_chars").alias("n_chars"),
        uniq,
        F.avg("_quality").alias("_avg_q"),
        F.grouping("lang").alias("_g"),
    )
    return rep.select(
        F.when(F.col("_g") == 1, F.lit("ALL")).otherwise(F.col("lang")).alias("lang"),
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_unique_texts",
        (
            F.round(1.0 - F.col("n_unique_texts") / F.col("n_docs"), round_to)
            + F.lit(0.0)
        ).alias("dup_rate"),
        (F.round(F.col("_avg_q"), round_to) + F.lit(0.0)).alias("avg_quality"),
    )
