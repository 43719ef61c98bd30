"""verde_spark — a PySpark-native spatial gridding + tiling engine.

A from-scratch distributed re-expression of the capabilities of
fatiando/verde (reference: /root/reference, BSD-3): block aggregation
(BlockReduce/BlockMean), biharmonic-spline and kNN gridding, region
predicates and masks, blocked train/test splitting and cross-validation —
plus the web-scale layer (hierarchical cell index, geotag extraction,
dedup / similarity / text-quality operators) needed to run the same
pipelines over Common-Crawl-style page tables at 10^12-row scale.

Design: everything is a DataFrame-in / DataFrame-out operator built on
pyspark.sql builtin expressions (Catalyst-optimizable, whole-stage
codegen); NumPy enters only inside Arrow-vectorized pandas UDFs for the
dense per-tile solves. No RDDs, no per-row Python.
"""

from .geometry import (
    check_region,
    get_region,
    inside,
    pad_region,
    project_region,
    shape_to_spacing,
    spacing_to_size,
)
from .coordinates import (
    BlockGrid,
    block_split,
    grid_coordinates,
    line_coordinates,
    longitude_continuity,
    profile_coordinates,
    scatter_points,
)
from .synthetic import CheckerBoard, checkerboard_expr
from .operators.blockreduce import (
    BlockMean,
    BlockReduce,
    block_mean,
    block_reduce,
    variance_to_weights,
)
from .operators.trend import Trend, trend_fit, trend_predict_expr
from .operators.spline import Spline
from .operators.neighbors import KNeighbors, knn_join
from .operators.masks import convex_hull, convexhull_mask, distance_mask, inside_hull_expr
from .operators.chain import Chain
from .operators.cubic import Cubic
from .operators.linear import Linear
from .operators.scipygridder import ScipyGridder
from .operators.vector import Vector, VectorSpline2D
from .operators.splinecv import SplineCV
from .operators.polygons import point_in_polygon, polygon_join, rasterize, zonal_stats
from .functions.extract import extract_text, reference_extract_text
from .operators.projections import project_grid, project_points
from .checkpoint import TileCheckpoint, run_resumable
from .operators.windows import expanding_window, rolling_window
from .operators.neighbors import median_distance
from .sources.grid_io import grid_to_table, load_surfer, table_to_grid
from .utils import maxabs, minmax
from . import datasets, synthetic

# reference name for table_to_grid (verde utils.py:373-522)
make_xarray_grid = table_to_grid
from .model_selection import (
    BlockKFold,
    BlockShuffleSplit,
    KFoldRows,
    cross_val_score,
    r2_score,
    r2_score_multi,
    train_test_split,
)

__version__ = "0.1.0"

from .session import RECOMMENDED_CONF, make_session

# The web-text stack (urls, dedup, crawl, LMs, corpus pipelines) loads
# on first attribute access, so a Python worker that unpickles a spline
# or mask UDF imports only the spatial engine.
_LAZY = {
    "canonical_url": "functions.urls",
    "dedup_url": "functions.urls",
    "domain_of": "functions.urls",
    "top_domains": "functions.urls",
    "pii_counts": "functions.pii",
    "redact_pii": "functions.pii",
    "reference_redact_pii": "functions.pii",
    "passes_c4": "functions.text",
    "passes_gopher": "functions.text",
    "contamination_stats": "operators.decontam",
    "decontaminate": "operators.decontam",
    "drop_duplicate_paragraphs": "operators.dedup",
    "drop_duplicate_spans": "operators.dedup",
    "cap_per_domain": "operators.sampling",
    "perplexity_buckets": "operators.mixing",
    "repeat_weighted": "operators.mixing",
    "sample_to_mix": "operators.mixing",
    "temperature_mix": "operators.mixing",
    "temperature_targets": "operators.mixing",
    "bloom_might_contain": "operators.bloom",
    "bloom_parameters": "operators.bloom",
    "build_bloom": "operators.bloom",
    "normalize_text": "functions.normalize",
    "normalized_fingerprint": "functions.normalize",
    "novel_docs": "operators.dedup",
    "seen_hashes": "operators.dedup",
    "semantic_dedup": "operators.dedup",
    "semantic_dup_pairs": "operators.dedup",
    "crawl_schedule": "operators.crawl",
    "kmeans_fit": "operators.clustering",
    "ENGLISH_LM": "functions.charlm",
    "perplexity_expr": "functions.charlm",
    "train_char_lm": "functions.charlm",
    "clean_corpus": "pipelines",
    "corpus_report": "pipelines",
    "filter_blocklist": "operators.crawl",
    "meta_robots": "operators.crawl",
    "reference_meta_robots": "operators.crawl",
    "reference_robots_allowed": "operators.crawl",
    "reference_robots_crawl_delay": "operators.crawl",
    "reference_robots_rules": "operators.crawl",
    "reference_robots_sitemaps": "operators.crawl",
    "reference_sitemap_entries": "operators.crawl",
    "robots_allowed_expr": "operators.crawl",
    "robots_crawl_delay": "operators.crawl",
    "robots_filter": "operators.crawl",
    "robots_matchable": "operators.crawl",
    "robots_rules": "operators.crawl",
    "robots_sitemaps": "operators.crawl",
    "robots_txt_filter": "operators.crawl",
    "robots_txt_rules": "operators.crawl",
    "sitemap_entries": "operators.crawl",
    "sitemap_urls": "operators.crawl",
}


def __getattr__(name):
    module = _LAZY.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    value = getattr(importlib.import_module(f".{module}", __name__), name)
    globals()[name] = value
    return value


__all__ = [
    "RECOMMENDED_CONF",
    "make_session",
    "BlockGrid",
    "BlockKFold",
    "BlockMean",
    "BlockReduce",
    "BlockShuffleSplit",
    "Chain",
    "CheckerBoard",
    "KNeighbors",
    "Cubic",
    "Linear",
    "canonical_url",
    "cap_per_domain",
    "drop_duplicate_paragraphs",
    "drop_duplicate_spans",
    "passes_c4",
    "passes_gopher",
    "repeat_weighted",
    "sample_to_mix",
    "perplexity_buckets",
    "temperature_mix",
    "temperature_targets",
    "bloom_parameters",
    "build_bloom",
    "bloom_might_contain",
    "normalize_text",
    "normalized_fingerprint",
    "novel_docs",
    "seen_hashes",
    "semantic_dedup",
    "semantic_dup_pairs",
    "crawl_schedule",
    "kmeans_fit",
    "ENGLISH_LM",
    "perplexity_expr",
    "train_char_lm",
    "clean_corpus",
    "corpus_report",
    "contamination_stats",
    "decontaminate",
    "dedup_url",
    "domain_of",
    "pii_counts",
    "redact_pii",
    "reference_redact_pii",
    "filter_blocklist",
    "meta_robots",
    "reference_meta_robots",
    "robots_filter",
    "reference_robots_allowed",
    "reference_robots_rules",
    "robots_allowed_expr",
    "robots_matchable",
    "robots_rules",
    "robots_txt_filter",
    "robots_txt_rules",
    "reference_robots_crawl_delay",
    "reference_robots_sitemaps",
    "reference_sitemap_entries",
    "robots_crawl_delay",
    "robots_sitemaps",
    "sitemap_entries",
    "sitemap_urls",
    "extract_text",
    "point_in_polygon",
    "polygon_join",
    "rasterize",
    "top_domains",
    "reference_extract_text",
    "zonal_stats",
    "ScipyGridder",
    "Spline",
    "SplineCV",
    "TileCheckpoint",
    "Trend",
    "Vector",
    "VectorSpline2D",
    "block_mean",
    "expanding_window",
    "rolling_window",
    "median_distance",
    "grid_to_table",
    "load_surfer",
    "table_to_grid",
    "make_xarray_grid",
    "maxabs",
    "minmax",
    "block_reduce",
    "block_split",
    "check_region",
    "checkerboard_expr",
    "convex_hull",
    "convexhull_mask",
    "cross_val_score",
    "distance_mask",
    "get_region",
    "grid_coordinates",
    "inside",
    "inside_hull_expr",
    "knn_join",
    "line_coordinates",
    "longitude_continuity",
    "pad_region",
    "profile_coordinates",
    "project_region",
    "r2_score",
    "scatter_points",
    "shape_to_spacing",
    "spacing_to_size",
    "train_test_split",
    "trend_fit",
    "trend_predict_expr",
]


def test(doctest: bool = False, verbose: bool = False, coverage: bool = False):
    """Run the test suite with pytest (reference ``verde.test``,
    __init__.py:43-100; the ``figures`` option has no counterpart — no
    plotting stack here)."""
    import os

    import pytest as _pytest

    args = []
    if verbose:
        args.append("-vv")
    if coverage:
        args += ["--cov=verde_spark", "--cov-report=term-missing"]
    if doctest:
        args.append("--doctest-modules")
    args.append(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
    )
    status = _pytest.main(args)
    if status != 0:
        raise AssertionError(f"pytest returned {status}")
