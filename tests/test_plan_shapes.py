"""Physical-plan regression tests: the 100 TB properties PLANS.md audits,
enforced continuously.

Each test asserts the *shape* of the executed/optimized plan — pushdown,
map-side partial aggregation, absence of Python evaluation in hot paths,
join strategies, partial top-k — so a refactor that silently degrades a
plan (e.g. drops a pushed filter or introduces a BatchEvalPython node)
fails CI instead of surfacing as a 100× slowdown at scale.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from verde_spark.sources.pages import synthesize_pages

    path = str(tmp_path_factory.mktemp("pages_plan") / "data")
    synthesize_pages(spark, 2000, seed=5).write.parquet(path)
    return path


def test_block_reduce_partial_agg_and_no_python(spark, pages_parquet):
    from verde_spark import block_mean
    from verde_spark.sources.pages import geotagged

    pts = geotagged(spark.read.parquet(pages_parquet)).select(
        F.col("lon").alias("easting"), F.col("lat").alias("northing")
    ).withColumn("scalars", F.col("easting") + F.col("northing"))
    dec, _ = block_mean(pts, spacing=1.0, region=(-5, 0, 5, 10), sort=False)
    plan = _plan(dec)
    assert "partial_avg" in plan  # map-side combine before the exchange
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pages_scan_column_pruning(spark, pages_parquet):
    from verde_spark.sources.pages import geotagged

    out = geotagged(spark.read.parquet(pages_parquet)).select("lon", "lat")
    plan = _plan(out)
    # a lon/lat pipeline must read ONLY the text column of the 5-col table
    assert "ReadSchema: struct<text:string>" in plan


def test_polygon_join_no_python_node(spark):
    from verde_spark.operators.polygons import point_in_polygon

    pts = spark.createDataFrame(
        pd.DataFrame({"easting": [0.5, 2.0], "northing": [0.5, 2.0]})
    )
    poly = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    out = point_in_polygon(pts, poly)
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zonal_stats_one_arrow_kernel(spark):
    from verde_spark.operators.polygons import zonal_stats

    rng = np.random.RandomState(2)
    pts = spark.createDataFrame(
        pd.DataFrame({"easting": rng.uniform(0, 10, 200), "northing": rng.uniform(0, 10, 200),
                      "v": rng.normal(size=200)})
    )
    polys = spark.createDataFrame(
        [(i, [{"x": x0, "y": 1.0}, {"x": x0 + 3.0, "y": 1.0}, {"x": x0 + 1.0, "y": 6.0}])
         for i, x0 in enumerate([0.0, 2.0, 5.0])],
        "poly_id long, vertices array<struct<x:double,y:double>>",
    )
    plan = _plan(zonal_stats(pts, polys, "v"))
    # a small polygon side is a broadcast kernel: the coordinates pass
    # through one Arrow UDF, its hits meet the polygon frame in a
    # broadcast hash join, and the only shuffle is the aggregate's
    assert plan.count("ArrowEvalPython") == 1
    for node in ("BatchEvalPython", "BroadcastNestedLoopJoin", "SortMergeJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1


def test_hash_split_no_exchange(spark):
    from verde_spark.operators.sampling import hash_split

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert "Exchange" not in _plan(hash_split(docs, "doc_id"))


def test_deterministic_sample_take_ordered(spark):
    from verde_spark.operators.sampling import deterministic_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert "TakeOrderedAndProject" in _plan(deterministic_sample(docs, 10))


def test_stratified_sample_partial_top_k(spark):
    from verde_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _plan(stratified_sample(docs, "lang", 5))
    # WindowGroupLimit below the exchange = per-partition partial top-k
    assert "WindowGroupLimit" in plan


def test_cosine_topk_partial_top_k_and_no_corpus_shuffle(spark):
    from verde_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(cosine_topk(emb, queries, k=3))
    assert "WindowGroupLimit" in plan
    # exactly ONE exchange: the tiny (queries×k×partitions) partial-topk
    # output — the corpus itself is never shuffled
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivf_probe_broadcast_join(spark):
    from verde_spark.operators.similarity import ivf_topk, train_ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = train_ivf_centroids(emb, n_centroids=4, sample_size=500)
    plan = _plan(ivf_topk(emb, queries, k=3, centroids=cents, n_probe=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_inside_filter_pushdown(spark):
    from verde_spark import inside

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    pts = ev.select(
        (F.col("event_id") % 100 / 10.0 - 5.0).alias("easting"),
        (F.col("event_id") % 97 / 10.0 + 5.0).alias("northing"),
    )
    # derived-column predicate can't reach parquet, but a direct-column
    # one must: filter on a stored column shows up in PushedFilters
    direct = ev.filter(F.col("event_id") > 50).select("event_id")
    assert "PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,50)]" in _plan(direct)
    # and the region predicate stays a codegen'd Filter, not a Python node
    plan = _plan(pts.filter(inside((-3.0, -1.0, 6.0, 8.0))))
    assert "BatchEvalPython" not in plan


def test_knn_cell_join_is_equijoin(spark):
    from verde_spark.operators.neighbors import knn_join

    rng = np.random.RandomState(0)
    data = spark.createDataFrame(
        pd.DataFrame(
            {"easting": rng.uniform(0, 10, 400), "northing": rng.uniform(0, 10, 400),
             "scalars": rng.normal(size=400)}
        )
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"easting": [1.0, 5.0], "northing": [1.0, 5.0], "__qid": [0, 1]})
    )
    out = knn_join(data, queries, k=3, broadcast_threshold=0)
    plan = _plan(out)
    # the returned (lazy) plan unions the per-round checkpointed top-k
    # blocks; no cartesian/nested-loop join may appear (the bounded
    # brute-force tail only exists when rounds are exhausted) and no
    # Python node anywhere
    assert "Scan ExistingRDD" in plan  # localCheckpoint-ed round results
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_broadcast_is_one_map_over_queries(spark):
    from verde_spark.operators.neighbors import knn_join

    rng = np.random.RandomState(0)
    data = spark.createDataFrame(
        pd.DataFrame({"easting": rng.uniform(0, 10, 400), "northing": rng.uniform(0, 10, 400)})
    )
    queries = spark.range(50).select(
        (F.col("id") % 10).cast("double").alias("easting"),
        (F.col("id") / 5.0).alias("northing"),
        F.col("id").alias("__qid"),
    )
    plan = _plan(knn_join(data, queries, k=3))
    # a small data side is a broadcast index: the queries stream through
    # one Arrow map, with no shuffle, join, window or checkpoint
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan
    assert "Scan ExistingRDD" not in plan


def test_spline_solve_grid_one_grouped_pass(spark):
    from verde_spark.operators.spline import spline_solve_grid

    rng = np.random.RandomState(1)
    data = spark.createDataFrame(
        pd.DataFrame(
            {
                "easting": rng.uniform(0, 10, 200),
                "northing": rng.uniform(0, 10, 200),
                "scalars": rng.normal(size=200),
            }
        )
    )
    plan = _plan(
        spline_solve_grid(data, region=(0, 10, 0, 10), shape=(20, 20), tile_spacing=5.0)
    )
    # the kernel makes its tile's grid nodes: the points (plus one
    # sentinel row per tile) reach Python in ONE grouped pass, with no
    # node table to shuffle and cogroup
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "FlatMapCoGroupsInPandas" not in plan


def test_cv_fold_prediction_one_grouped_pass(spark):
    from verde_spark import BlockKFold, Spline

    rng = np.random.RandomState(2)
    data = spark.createDataFrame(
        pd.DataFrame(
            {
                "easting": rng.uniform(0, 10, 200),
                "northing": rng.uniform(0, 10, 200),
                "scalars": rng.normal(size=200),
            }
        )
    )
    cv = BlockKFold(spacing=2.5, n_splits=2, shuffle=True, random_state=0)
    train, test, region = next(cv._split_regions(data))
    pred = Spline(tile_spacing=5.0)._fit_predict(
        train, test, "scalars", None, "easting", "northing", region
    )
    # the fold's train points and test rows meet in ONE grouped pass: no
    # force table between a fit stage and a predict cogroup
    plan = _plan(pred)
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "FlatMapCoGroupsInPandas" not in plan


def test_text_scoring_single_stage_no_python(spark, pages_parquet):
    """lang_id_expr / quality_score / token counts are pure Catalyst
    projections: no exchange, no Python eval — one codegen'd scan stage."""
    from verde_spark.functions.text import (
        bpe_ish_token_count,
        lang_id_expr,
        quality_score,
        token_count,
    )

    docs = spark.read.parquet(pages_parquet).select(
        lang_id_expr("text").alias("lang_guess"),
        quality_score("text"),
        token_count("text").alias("tokens"),
        bpe_ish_token_count("text").alias("bpe"),
    )
    plan = _plan(docs)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # '*(1)' prefix = the whole projection fused into codegen stage 1
    assert plan.startswith("*(1) Project")


def test_connected_components_small_graph_driver_path(spark):
    """The adaptive small-graph path returns a LocalTableScan plan (driver
    union-find result) — no iterative join stages for tiny edge lists."""
    from verde_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]})
    )
    out = connected_components(edges)
    plan = _plan(out)
    # a driver-materialized row scan — no joins, exchanges, or agg stages
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert "Join" not in plan and "Exchange" not in plan


def test_text_pipeline_single_exchange(spark):
    """The crawl front door — extract_text(html) → geotag → canonical-url
    dedup — is pure codegen'd projections plus exactly ONE shuffle
    (dedup_url's max_by agg).  No Python nodes anywhere."""
    from pyspark.sql import functions as F

    from verde_spark.functions.urls import dedup_url
    from verde_spark.sources.pages import geotagged, synthesize_pages

    pages = synthesize_pages(spark, 100)
    out = geotagged(dedup_url(pages), from_html=True).filter(
        F.col("lon").isNotNull()
    )
    plan = _plan(out)
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_drop_duplicate_paragraphs_plan(spark):
    """Three exchanges (hash window, doc-group rebuild, join-back), no
    Python, no cartesian — the documented shape."""
    from verde_spark.operators.dedup import drop_duplicate_paragraphs

    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a\nb"]}))
    plan = _plan(drop_duplicate_paragraphs(df))
    assert plan.count("Exchange") <= 3
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_decontaminate_broadcast_join_no_corpus_shuffle(spark):
    """Decontamination: the benchmark gram set joins as a BROADCAST hash
    join (the corpus's exploded gram stream is never exchanged for the
    probe), the per-doc count agg is the only shuffle on the stats path,
    and nothing drops to Python."""
    from verde_spark.operators.decontam import contaminated_ids, contamination_stats

    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["word " * 20, "other " * 20]})
    )
    bench = spark.createDataFrame(pd.DataFrame({"text": ["word " * 13]}))
    plan = _plan(contaminated_ids(corpus, bench))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    splan = _plan(contamination_stats(corpus, bench))
    assert "BroadcastHashJoin" in splan
    # one partial_sum agg below the exchange: per-doc partials, not grams
    assert "partial_sum" in splan.lower() or "partial" in splan
    assert "BatchEvalPython" not in splan and "ArrowEvalPython" not in splan


def test_redact_pii_fuses_into_scan_projection(spark, pages_parquet):
    """PII redaction over a parquet scan stays ONE codegen'd projection:
    zero exchanges, zero Python, and column pruning still reaches the
    scan (only the text-bearing column is read)."""
    from verde_spark.functions.pii import pii_counts, redact_pii

    pages = spark.read.parquet(pages_parquet)
    out = pages.select(
        redact_pii(F.col("html").cast("string")).alias("clean"),
        pii_counts(F.col("html").cast("string")).alias("c"),
    )
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ReadSchema" in plan and "url" not in plan.split("ReadSchema")[1][:200]


def test_cap_per_domain_window_group_limit(spark):
    """cap_per_domain plans the stratified_sample shape: a
    WindowGroupLimit partial top-k below the single exchange."""
    from verde_spark.operators.sampling import cap_per_domain

    df = spark.createDataFrame(
        pd.DataFrame({"url": [f"https://s{i%3}.com/p{i}" for i in range(30)]})
    )
    plan = _plan(cap_per_domain(df, 2))
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_crawl_gates_fuse_into_scan(spark, pages_parquet):
    """robots_filter + literal blocklist over a parquet scan: both gates
    are pure projections — zero Exchange, zero Python — and column
    pruning still reaches the scan (the gates read only url/html)."""
    from verde_spark.operators.crawl import filter_blocklist, robots_filter

    pages = spark.read.parquet(pages_parquet)
    out = robots_filter(filter_blocklist(pages, ["bad.com", "ads.net"])).select(
        "url"
    )
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ReadSchema: struct<url:string,html:binary>" in plan


def test_gopher_and_c4_gates_fuse_into_scan(spark, pages_parquet):
    """passes_gopher + passes_c4 + c4_filtered_text over a parquet scan:
    the full quality-rule stack is pure Catalyst — zero Exchange, zero
    Python — and column pruning still reaches the scan (only the text
    column is read).  The gates add signal computation, never a stage."""
    from verde_spark.functions.text import c4_filtered_text, passes_c4, passes_gopher

    pages = spark.read.parquet(pages_parquet)
    out = (
        pages.filter(passes_gopher("text") & passes_c4("text"))
        .select("text", c4_filtered_text("text").alias("text_c4"))
    )
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ReadSchema: struct<text:string>" in plan
