"""Structured Streaming ingestion of page tables.

The reference is batch-only (SURVEY §2.10), but a Common-Crawl-scale
deployment ingests WARC batches continuously; this module provides the
streaming forms of the entry-point operators:

* ``stream_pages`` — ``readStream`` over a parquet page directory (the
  same schema as sources.pages; new files = new micro-batches).
* ``streaming_cell_blockmean`` — geotag → cell index → per-cell running
  mean/count over event-time windows with a watermark for late pages.
  Means are algebraic, so state per (window, cell) is O(1) — the
  streaming agg state stays bounded by (windows in flight × occupied
  cells), independent of row count.
* ``streaming_dedup`` — drop exact duplicates across micro-batches with
  ``dropDuplicatesWithinWatermark`` on the text fingerprint.

Everything is expression-level (no UDFs), so the streaming plans use the
same codegen'd kernels as the batch plans.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_pages(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a parquet directory of pages (one file = one batch)."""
    return spark.readStream.schema(PAGE_SCHEMA).parquet(path)


def streaming_cell_blockmean(
    pages: DataFrame,
    resolution: int = 8,
    window_duration: str = "10 minutes",
    watermark: str = "5 minutes",
    value_col: Optional[str] = None,
) -> DataFrame:
    """Per-(event-time window, cell) running mean of a value column.

    value defaults to the page quality score; the geotag parse and cell
    encode are the same column expressions as the batch path, so batch
    and streaming results agree on identical input.
    """
    from .functions.cells import cell_encode
    from .functions.text import geotag_lat, geotag_lon, quality_score

    tagged = pages.withColumn("lon", geotag_lon("text")).withColumn("lat", geotag_lat("text"))
    value = F.col(value_col) if value_col else quality_score("text")
    cells = tagged.filter(F.col("lon").isNotNull()).select(
        F.col("warc_ts"),
        cell_encode("lon", "lat", resolution).alias("cell"),
        value.alias("value"),
    )
    return (
        cells.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window_duration).alias("win"), F.col("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.avg("value").alias("mean_value"),
        )
    )


def streaming_dedup(pages: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Exact dedup across micro-batches: fingerprint the text and drop
    duplicates within the watermark horizon (bounded state)."""
    from .functions.text import fingerprint

    return (
        pages.withColumn("text_hash", fingerprint("text"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def streaming_dedup_url(
    pages: DataFrame,
    watermark: str = "10 minutes",
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """URL-keyed dedup across micro-batches: canonicalize the url
    (scheme/host case, default ports, fragments, tracking params — see
    ``functions.urls.canonical_url``) and keep the first arrival per
    canonical url within the watermark horizon.  The canonical key is a
    pure projection, so state size is the only cost — bounded by the
    watermark exactly as :func:`streaming_dedup`."""
    from .functions.urls import canonical_url

    return (
        pages.withColumn("curl", canonical_url(url_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["curl"])
    )


def streaming_clean_corpus(
    pages: DataFrame,
    watermark: str = "10 minutes",
    lang: str = "en",
    min_tokens: int = 5,
    min_stopword_ratio: float = 0.0,
    max_repetition: float = 0.5,
    min_quality: float = 0.0,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    html_col: str = "html",
    benchmark: DataFrame | None = None,
    redact: bool = False,
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
    lm=None,
    novel_against: DataFrame | None = None,
    normalize_dedup: bool = False,
) -> DataFrame:
    """The crawl-cleaning recipe as a continuous query — the streaming
    twin of :func:`verde_spark.pipelines.clean_corpus` for WARC batches
    arriving over time.

    ``normalize_dedup=True`` mirrors the batch recipe: the exact-dedup
    state keys on the CCNet-normalized fingerprint
    (``functions.normalize``) instead of the raw-text hash — still one
    stateful operator, the key computes statelessly per row.

    The quality gates are stateless projections (stream-safe as-is);
    dedup becomes two chained ``dropDuplicatesWithinWatermark`` stages
    (canonical url, then exact text hash — Spark 4 supports multiple
    stateful operators in append mode), each with state bounded by the
    watermark horizon.  Streaming semantics keep the FIRST arrival per
    key (the batch recipe keeps the latest crawl / min-id
    representative) — same survivor count, possibly different
    representatives; documented, not hidden.

    Round-4 optional stages, mirroring the batch recipe: *benchmark*
    decontamination runs as a STATELESS projection filter
    (``operators.decontam.contamination_filter`` — the small benchmark
    gram set becomes one array literal, so no stream-static join or
    extra state), and ``redact=True`` appends the PII-scrubbed
    ``<text_col>_clean`` column (pure projection).

    The crawl-policy gates also mirror the batch recipe and run FIRST:
    ``blocklist`` (a domain sequence, or a small static DataFrame with a
    ``domain`` column — collected at composition time into the literal
    suffix-match form, so the STREAM side needs no join or state) and
    ``respect_noindex=True`` (robots meta parse of ``html_col`` — pure
    projection).  A blocklist too large to inline must be applied
    upstream in batch; the streaming twin deliberately has no
    stream-side join path.  ``robots`` (a STATIC per-host robots.txt
    dim) applies the RFC 9309 file-level gate as a stream-static
    broadcast join — stateless and append-safe; the dim is parsed once
    at composition time, the stream side never shuffles.
    """
    if blocklist is not None:
        from .operators.crawl import blocked_expr

        if isinstance(blocklist, DataFrame):
            doms = [r[0] for r in blocklist.select("domain").collect()]
        else:
            doms = list(blocklist)
        pages = pages.filter(~blocked_expr(url_col, doms))
    if respect_noindex:
        from .operators.crawl import robots_filter

        pages = robots_filter(pages, html_col=html_col)
    if robots is not None:
        from .operators.crawl import robots_txt_filter

        pages = robots_txt_filter(
            pages, robots, url_col=url_col, agent=robots_agent
        )
    from .functions.text import (
        fingerprint,
        quality_score,
        repetition_ratio,
        stopword_ratio,
        token_count,
    )
    from .functions.urls import canonical_url

    gated = (
        pages.withColumn("n_tokens", token_count(text_col))
        .withColumn("sw_ratio", stopword_ratio(text_col, lang=lang))
        .withColumn("rep_ratio", repetition_ratio(text_col))
        .withColumn("quality", quality_score(text_col))
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("sw_ratio") >= min_stopword_ratio)
            & (F.col("rep_ratio") <= max_repetition)
            & (F.col("quality") >= min_quality)
        )
    )
    if max_perplexity is not None:
        from .functions.charlm import ENGLISH_LM, perplexity_expr

        # stateless literal-fold projection, same as the batch recipe's
        # LM gate (NULL-scoring short texts are kept)
        ppl = perplexity_expr(lm or ENGLISH_LM, text_col)
        gated = gated.filter(
            ppl.isNull() | (ppl <= F.lit(float(max_perplexity)))
        )
    if gopher:
        from .functions.text import passes_gopher

        # stateless projection, same as the batch recipe's gopher stage
        gated = gated.filter(
            passes_gopher(text_col, lang=lang, **(gopher_thresholds or {}))
        )
    if c4:
        from .functions.text import C4_DEFAULTS, c4_filtered_text, passes_c4

        # stateless gate + line-cleaned NEW column, same as the batch
        # recipe's c4 stage (byte-identity: text_col never rewritten)
        ct = {**C4_DEFAULTS, **(c4_thresholds or {})}
        gated = gated.filter(
            passes_c4(text_col, badwords=c4_badwords, **ct)
        ).withColumn(
            f"{text_col}_c4",
            c4_filtered_text(text_col, ct["min_words_per_line"]),
        )
    if benchmark is not None:
        from .operators.decontam import contamination_filter

        gated = gated.filter(~contamination_filter(benchmark, text_col=text_col))
    if novel_against is not None:
        from .operators.dedup import novel_docs

        # incremental gate vs a STATIC prior-snapshot hash set
        # (dedup.seen_hashes): a stream-static LEFT-ANTI join on the
        # 64-bit content hash — stateless and append-safe; pages already
        # ingested by earlier runs never re-enter the sink
        gated = novel_docs(gated, novel_against, text_col=text_col)
    # ``text_hash`` is ALWAYS xxhash64 of the raw text — interchangeable
    # with ``dedup.seen_hashes`` output, so a later run can feed this
    # sink back as ``novel_against``.  With ``normalize_dedup`` the
    # CCNet-normalized fingerprint is a SEPARATE ``norm_hash`` column and
    # only the dedup state keys on it (ADVICE r4: a prior sink's
    # text_hash must keep matching novel_docs' raw-hash probe).
    out = (
        gated.withColumn("curl", canonical_url(url_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["curl"])
        .withColumn("text_hash", fingerprint(text_col))
    )
    if normalize_dedup:
        from .functions.normalize import normalized_fingerprint

        out = out.withColumn(
            "norm_hash", normalized_fingerprint(text_col)
        ).dropDuplicatesWithinWatermark(["norm_hash"])
    else:
        out = out.dropDuplicatesWithinWatermark(["text_hash"])
    if redact:
        from .functions.pii import redact_pii

        out = out.withColumn(f"{text_col}_clean", redact_pii(text_col))
    return out


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "update"):
    """availableNow trigger → in-memory table; returns the finished query.

    Test/demo helper: processes everything currently in the source and
    stops (the batch-equivalence harness).
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_cell_reservoir(
    pages: DataFrame,
    k: int = 32,
    resolution: int = 8,
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): a bounded
    per-cell reservoir sample of geotagged points across micro-batches.

    This is the streaming form of decimation-for-gridding: downstream
    spline/kNN fits need a *bounded, representative* point set per cell,
    and "keep k representative points forever" is not expressible with
    built-in streaming aggregates — it needs explicit keyed state.  State
    per cell is O(k) (arrays of lon/lat/value + a row counter), so total
    state is bounded by (occupied cells × k) regardless of stream length.

    Replacement uses Algorithm R with a *deterministic* per-row hash of
    the url (computed JVM-side via ``xxhash64`` — the Python body only
    does NumPy array work, honoring the no-per-row-Python contract: the
    fill phase is a slice, and the replacement phase touches only the
    ~k·ln(n/k) accepted rows) so results are reproducible and independent
    of micro-batch partitioning given the same arrival order.

    Output (update semantics): one row per (cell, slot) holding the
    current reservoir contents after each batch.
    """
    import numpy as np
    import pandas as pd

    from .functions.cells import cell_encode
    from .functions.text import geotag_lat, geotag_lon, quality_score

    tagged = pages.withColumn("lon", geotag_lon("text")).withColumn("lat", geotag_lat("text"))
    # url null-guard: xxhash64(NULL) = NULL would reach the state fn as
    # NaN and crash the whole query at to_numpy("int64"); a page with no
    # url has no deterministic replacement hash, so it cannot enter the
    # reservoir
    cells = tagged.filter(
        F.col("lon").isNotNull() & F.col("url").isNotNull()
    ).select(
        cell_encode("lon", "lat", resolution).alias("cell"),
        (F.abs(F.xxhash64("url")) % F.lit(2**62)).alias("h"),
        F.col("lon"),
        F.col("lat"),
        quality_score("text").alias("value"),
    )

    out_schema = "cell long, slot int, lon double, lat double, value double, seen long"
    state_schema = "seen long, lons array<double>, lats array<double>, vals array<double>"

    def update(key, pdf_iter, state):
        if state.exists:
            seen, lons, lats, vals = state.get
            lons, lats, vals = list(lons), list(lats), list(vals)
        else:
            seen, lons, lats, vals = 0, [], [], []
        for pdf in pdf_iter:
            h = pdf["h"].to_numpy("int64")
            lon = pdf["lon"].to_numpy("float64")
            lat = pdf["lat"].to_numpy("float64")
            val = pdf["value"].to_numpy("float64")
            n = len(h)
            fill = max(0, min(k - seen, n))
            # .tolist(): state must hold plain python floats (JVM pickler)
            lons.extend(lon[:fill].tolist())
            lats.extend(lat[:fill].tolist())
            vals.extend(val[:fill].tolist())
            if fill < n:
                idx = seen + np.arange(fill, n)          # global per-cell index
                j = h[fill:] % (idx + 1)                 # Algorithm R draw
                accept = np.nonzero(j < k)[0]            # ~k·ln growth, tiny
                for a in accept:                         # order matters
                    s = int(j[a])
                    lons[s] = float(lon[fill + a])
                    lats[s] = float(lat[fill + a])
                    vals[s] = float(val[fill + a])
            seen += n
        state.update((seen, lons, lats, vals))
        yield pd.DataFrame(
            {
                "cell": [key[0]] * len(lons),
                "slot": range(len(lons)),
                "lon": lons,
                "lat": lats,
                "value": vals,
                "seen": [seen] * len(lons),
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return cells.groupBy("cell").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_to_tile_store(
    stream_df: DataFrame,
    path: str,
    checkpoint_location: str,
    partition_cols=("cell",),
    mode: str = "update",
    trigger_available_now: bool = True,
):
    """Continuously materialize a streaming aggregate as a partitioned
    parquet store (the streaming counterpart of ``TileCheckpoint``).

    ``foreachBatch`` + **dynamic partition overwrite**: each micro-batch
    of an update-mode aggregate contains exactly the group rows whose
    values changed, and ``partitionOverwriteMode=dynamic`` replaces ONLY
    those groups' directories — untouched groups are never rewritten or
    read, so batch cost is O(changed groups), the same incremental
    contract as ``TileCheckpoint.write``.  Readers see a plain
    partitioned parquet table with partition pruning on *partition_cols*,
    and the stream's ``checkpointLocation`` makes the sink resumable (a
    restarted query replays only unprocessed source files).

    CORRECTNESS REQUIREMENT: *partition_cols* must cover the aggregate's
    FULL grouping key (e.g. ``("win_start", "cell")`` for a windowed
    per-cell mean with the window start flattened to a column).  Dynamic
    overwrite deletes everything in a replaced directory, so with a
    coarser partitioning an update to one group would silently drop its
    unchanged siblings in the same directory.  The writer raises if a
    partition column is missing from the stream's schema.
    """
    partition_cols = list(partition_cols)
    missing = [c for c in partition_cols if c not in stream_df.columns]
    if missing:
        raise ValueError(f"partition_cols not in stream schema: {missing}")
    # guard the module's own flagship shape: a windowed aggregate
    # (streaming_cell_blockmean emits `win`; flattened forms emit
    # `win_start`) partitioned only by cell would let dynamic overwrite
    # DELETE a cell's sibling-window rows on every update — flatten the
    # window start to a column and include it in partition_cols
    window_like = [c for c in ("win", "win_start") if c in stream_df.columns]
    uncovered = [c for c in window_like if c not in partition_cols]
    if uncovered:
        raise ValueError(
            f"stream has window column(s) {uncovered} not covered by "
            f"partition_cols={partition_cols}: dynamic partition "
            "overwrite would silently drop sibling-window rows of a "
            "replaced group; partition by the FULL grouping key (e.g. "
            "('win_start', 'cell') after flattening win.start)"
        )

    def write_batch(batch_df: DataFrame, _batch_id: int):
        # DataFrame-native emptiness probe: .rdd.isEmpty() would rebuild the
        # plan as an RDD and deserialize a row through Python per micro-batch
        if not batch_df.isEmpty():
            (
                batch_df.write.option("partitionOverwriteMode", "dynamic")
                .partitionBy(*partition_cols)
                .mode("overwrite")
                .parquet(path)
            )

    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_location)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
