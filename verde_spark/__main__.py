"""spark-submit entrypoint for the flagship pipeline (north rule: "run via
spark-submit --py-files on a multi-executor cluster").

Usage:
    spark-submit --py-files verde_spark.zip -m verde_spark ... # or
    spark-submit --py-files verde_spark.zip path/to/repo/verde_spark/__main__.py \\
        --input /data/pages_parquet        # or --synthesize N
        --output /data/grid_out            \\
        --spacing 0.05 --tile 1.0 --halo 0.5 --shape 400x400 \\
        --checkpoint /data/ckpt            # optional: resumable per-tile run

Reads the Common-Crawl-style page table (url, warc_ts, html, text, lang),
geotags from ``text`` (the column itself passes through byte-identically),
block-mean decimates per cell, solves the tiled biharmonic spline, writes
the regular grid as parquet, and prints one JSON metrics line.

The session is created with ``verde_spark.session.RECOMMENDED_CONF``
applied on top of whatever spark-submit provides (existing conf wins for
cluster-level settings; the AQE minPartitionSize fix is always set — see
PLANS.md §7).  It does not set ``spark.python.daemon.module``: the
executors' daemon starts before ``--py-files`` reach ``sys.path``, so the
``verde_spark_daemon`` entry that ``make_session`` uses on local masters
would not be importable there.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="verde_spark")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet dir of the page table")
    src.add_argument("--synthesize", type=int, help="generate N deterministic pages instead")
    ap.add_argument("--output", required=True, help="parquet dir for the output grid")
    ap.add_argument("--region", default=None, help="W,E,S,N (default: data bbox)")
    ap.add_argument("--spacing", type=float, default=0.05, help="block-mean decimation spacing")
    ap.add_argument("--tile", type=float, default=1.0, help="spline tile spacing")
    ap.add_argument("--halo", type=float, default=0.5, help="halo pad distance")
    ap.add_argument("--damping", type=float, default=1e-6)
    ap.add_argument("--shape", default="400x400", help="grid shape ROWSxCOLS")
    ap.add_argument("--checkpoint", default=None, help="per-tile checkpoint dir (resumable)")
    ap.add_argument(
        "--job", default="grid",
        choices=("grid", "dedup", "ivf-index", "clean", "frontier"),
        help="grid: flagship gridding pipeline (default); "
             "dedup: exact + transitive-MinHash dedup of the page table; "
             "ivf-index: build a cluster-partitioned ANN index from an "
             "embeddings parquet (--input must carry vec_id + embedding); "
             "clean: the full training-data front door "
             "(pipelines.clean_corpus: url dedup + quality gates + "
             "content dedup) written as parquet; "
             "frontier: crawl policy gates, incremental novelty and a "
             "politeness schedule over the page urls",
    )
    ap.add_argument("--threshold", type=float, default=0.8, help="dedup Jaccard threshold")
    ap.add_argument("--min-tokens", type=int, default=5, help="clean job: minimum token count gate")
    ap.add_argument("--max-repetition", type=float, default=0.5, help="clean job: maximum duplicated-bigram fraction")
    ap.add_argument("--benchmark", default=None, help="clean job: parquet dir of an eval set; docs sharing a 13-gram with it are dropped (decontamination)")
    ap.add_argument("--redact-pii", action="store_true", help="clean job: write a text_clean column with emails/IPs/phones replaced by tokens")
    ap.add_argument("--max-per-domain", type=int, default=None, help="clean job: cap pages per domain (corpus balance)")
    ap.add_argument(
        "--from-html", action="store_true",
        help="geotag from extract_text(html) instead of the stored text "
             "column (the north star's full extracted-text chain; both are "
             "pure projections and byte-equivalent on well-formed tables)",
    )
    ap.add_argument("--centroids", type=int, default=64, help="ivf-index centroid count")
    ap.add_argument("--max-perplexity", type=float, default=None, help="clean job: drop docs above this char-LM perplexity (CCNet-style gate)")
    ap.add_argument("--robots", default=None, help="frontier job: parquet dir of a per-host robots dim (host, robots_txt)")
    ap.add_argument("--blocklist-file", default=None, help="frontier job: text file of blocked domains, one per line")
    ap.add_argument("--seen", default=None, help="frontier job: parquet dir of previously fetched pages; their urls are dropped via a Bloom-prefiltered anti-join")
    ap.add_argument("--bloom-bits", type=int, default=None, help="frontier job: Bloom prefilter size in bits (default: auto — ~16 bits per seen url, floor 2^20, cap 2^34)")
    ap.add_argument("--max-per-host", type=int, default=None, help="frontier job: cap queued urls per host (politeness bound)")
    ap.add_argument("--agent", default="*", help="frontier job: user-agent token for robots.txt groups")
    ap.add_argument("--default-delay", type=float, default=1.0, help="frontier job: crawl delay (sec) for hosts without a Crawl-delay rule")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from verde_spark import block_mean
    from verde_spark.geometry import get_region
    from verde_spark.session import RECOMMENDED_CONF
    from verde_spark.sources.pages import geotagged, synthesize_pages

    builder = SparkSession.builder.appName("verde_spark-flagship")
    for k, v in RECOMMENDED_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    t0 = time.time()
    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        pages = synthesize_pages(spark, args.synthesize)

    if args.job == "dedup":
        from verde_spark.operators.dedup import dedup_exact, dedup_minhash

        before = pages.count()
        # transitive closure needs a NUMERIC id (decimal-sum convergence);
        # hash (url, warc_ts) into one — url alone would collapse recrawls
        # of the same page into a single id and the final left_anti would
        # then drop ALL of a url's rows.  64-bit ids can birthday-collide
        # around ~2^32 distinct docs, which silently merges unrelated rows
        # into one dedup decision; acceptable for dedup (a false merge
        # drops one extra near-random row), but pipelines needing exact
        # lineage should carry their own unique numeric id column.
        hashed = pages.withColumn("__docid", F.xxhash64("url", "warc_ts"))
        kept = dedup_minhash(
            dedup_exact(hashed, id_col="__docid", text_col="text"),
            id_col="__docid", text_col="text", threshold=args.threshold,
        ).drop("__docid")
        kept.write.mode("overwrite").parquet(args.output)
        after = spark.read.parquet(args.output).count()
        print(json.dumps({
            "job": "dedup", "rows_in": before, "rows_out": after,
            "dropped": before - after, "sec": round(time.time() - t0, 3),
        }))
        return 0

    if args.job == "clean":
        from verde_spark.pipelines import clean_corpus

        before = pages.count()
        bench = (
            spark.read.parquet(args.benchmark) if args.benchmark else None
        )
        cleaned = clean_corpus(
            pages, near_dup=args.threshold < 1.0,
            min_tokens=args.min_tokens, max_repetition=args.max_repetition,
            benchmark=bench, redact=args.redact_pii,
            max_per_domain=args.max_per_domain,
            max_perplexity=args.max_perplexity,
        )
        cleaned.write.mode("overwrite").parquet(args.output)
        after = spark.read.parquet(args.output).count()
        print(json.dumps({
            "job": "clean", "rows_in": before, "rows_out": after,
            "dropped": before - after, "sec": round(time.time() - t0, 3),
        }))
        return 0

    if args.job == "frontier":
        # the composed crawl front door: policy gates → incremental
        # novelty → politeness schedule.  Every stage keeps the
        # corpus-side-never-shuffles discipline of its operator
        # (COVERAGE.md r4 crawl rows); the only exchange is the one
        # per-host window in crawl_schedule.
        from verde_spark.operators.crawl import (
            crawl_schedule,
            filter_blocklist,
            robots_crawl_delay,
            robots_txt_filter,
        )
        from verde_spark.operators.dedup import novel_docs, seen_hashes

        frontier = pages
        before = frontier.count()
        delays = None
        if args.robots:
            robots = spark.read.parquet(args.robots)
            frontier = robots_txt_filter(
                frontier, robots, url_col="url", agent=args.agent
            )
            delays = robots.select(
                "host", robots_crawl_delay("robots_txt", args.agent).alias(
                    "crawl_delay"
                ),
            ).filter(F.col("crawl_delay").isNotNull())
        if args.blocklist_file:
            with open(args.blocklist_file) as fh:
                doms = [ln.strip() for ln in fh if ln.strip()]
            if doms:
                frontier = filter_blocklist(frontier, doms, url_col="url")
        if args.seen:
            seen_pages = spark.read.parquet(args.seen)
            seen = seen_hashes(seen_pages, text_col="url")
            # size the Bloom prefilter to the seen set: a fixed 2^20
            # bits saturates (FPR → 1) beyond ~10^5 seen urls, turning
            # the prefilter into pure overhead; ~16 bits/key keeps FPR
            # well under 1% at the default hash count
            bits = args.bloom_bits or max(
                1 << 20, 1 << (16 * seen_pages.count()).bit_length()
            )
            frontier = novel_docs(
                frontier, seen, text_col="url",
                bloom_num_bits=min(bits, 1 << 34),
            )
        sched = crawl_schedule(
            frontier.select("url"), delays,
            default_delay=args.default_delay,
            max_per_host=args.max_per_host,
        )
        sched.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        after = out.count()
        n_hosts = out.select("host").distinct().count()
        print(json.dumps({
            "job": "frontier", "urls_in": before, "urls_scheduled": after,
            "dropped": before - after, "hosts": n_hosts,
            "sec": round(time.time() - t0, 3),
        }))
        return 0

    if args.job == "ivf-index":
        from verde_spark.operators.similarity import (
            build_ivf_index,
            train_ivf_centroids,
        )

        cents = train_ivf_centroids(pages, n_centroids=args.centroids)
        build_ivf_index(pages, args.output, cents)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({
            "job": "ivf-index", "rows": n, "n_centroids": int(cents.shape[0]),
            "dim": int(cents.shape[1]), "sec": round(time.time() - t0, 3),
        }))
        return 0
    pts = geotagged(pages, from_html=args.from_html).select(
        F.col("lon").alias("easting"), F.col("lat").alias("northing")
    )
    # flagship field: checkerboard of the geotag (deterministic, verifiable)
    pts = pts.withColumn(
        "scalars",
        F.lit(1000.0)
        * F.sin(F.lit(2 * 3.141592653589793 / 2.5) * F.col("easting"))
        * F.cos(F.lit(2 * 3.141592653589793 / 2.5) * F.col("northing")),
    )
    region = (
        tuple(float(x) for x in args.region.split(","))
        if args.region
        else get_region(pts)
    )
    shape = tuple(int(x) for x in args.shape.lower().split("x"))
    dec, _ = block_mean(pts, spacing=args.spacing, region=region, sort=False)

    if args.checkpoint:
        from verde_spark.operators.spline import spline_solve_grid_resumable

        grid = spline_solve_grid_resumable(
            dec, region=region, shape=shape, tile_spacing=args.tile,
            checkpoint_path=args.checkpoint,
            halo=args.halo, damping=args.damping,
            weight_col="weight_scalars", output_col="prediction",
        )
    else:
        from verde_spark.operators.spline import spline_solve_grid

        grid = spline_solve_grid(
            dec, region=region, shape=shape, tile_spacing=args.tile,
            halo=args.halo, damping=args.damping,
            weight_col="weight_scalars", output_col="prediction",
        )
    grid.write.mode("overwrite").parquet(args.output)
    n_nodes = spark.read.parquet(args.output).count()
    dt = time.time() - t0
    print(json.dumps({
        "grid_nodes": n_nodes,
        "region": list(region),
        "shape": list(shape),
        "sec": round(dt, 3),
        "executors": spark.sparkContext.defaultParallelism,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
