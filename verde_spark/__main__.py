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


def _fold_redacted(df, redact: bool, text_col: str = "text"):
    """Make the redacted text THE text: downstream vocab/token/layout
    stages (and language routing) must train on the scrubbed column, not
    just carry it along — a ``--redact-pii`` run that still packs raw
    emails/IPs into the training shards would silently break the flag's
    promise."""
    from pyspark.sql import functions as F

    clean = f"{text_col}_clean"
    if redact and clean in df.columns:
        df = df.withColumn(text_col, F.col(clean)).drop(clean)
    return df


def _vocab_tokens_layout(spark, df, args, extra_cols=()):
    """Shared tail of the encode/pretrain jobs: frequency vocab →
    token-id arrays → packed fixed-length layout, written as three
    parquet tables under ``--output`` (vocab/, tokens/, layout/).
    Returns ``(vocab_count, enc_stored, n_sequences, n_shards)``."""
    from pyspark.sql import functions as F

    from verde_spark.functions.vocab import build_vocab, encode_tokens
    from verde_spark.operators.packing import pack_sequences, packing_stats

    vocab = build_vocab(df, size=args.vocab_size)
    vocab.write.mode("overwrite").parquet(f"{args.output}/vocab")
    vocab = spark.read.parquet(f"{args.output}/vocab")  # re-read: one vocab job
    # literal-map engine inlines comfortably to ~64k entries; beyond
    # that the broadcast-join engine keeps the plan size bounded
    method = "map" if args.vocab_size <= 65536 else "join"
    enc = encode_tokens(
        df, vocab, id_col="__docid", method=method, unk_id=-1
    ).withColumn("n_ids", F.size("token_ids"))
    enc.select(
        "url", "warc_ts", F.col("__docid").alias("doc_id"),
        *extra_cols, "token_ids", "n_ids",
    ).write.mode("overwrite").parquet(f"{args.output}/tokens")
    enc_stored = spark.read.parquet(f"{args.output}/tokens")
    layout = pack_sequences(
        enc_stored, seq_len=args.seq_len, id_col="doc_id",
        n_shards=args.n_shards, tokens_col="n_ids",
    )
    layout.write.mode("overwrite").parquet(f"{args.output}/layout")
    stats = packing_stats(
        spark.read.parquet(f"{args.output}/layout"), seq_len=args.seq_len
    ).collect()
    n_seqs = sum(int(r["n_sequences"]) for r in stats)
    return vocab.count(), enc_stored, n_seqs, len(stats)


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
        choices=(
            "grid", "dedup", "ivf-index", "clean", "encode", "frontier",
            "pretrain",
        ),
        help="grid: flagship gridding pipeline (default); "
             "dedup: exact + transitive-MinHash dedup of the page table; "
             "ivf-index: build a cluster-partitioned ANN index from an "
             "embeddings parquet (--input must carry vec_id + embedding); "
             "clean: the full training-data front door "
             "(pipelines.clean_corpus: url dedup + quality gates + "
             "content dedup) written as parquet; "
             "encode: clean → frequency vocab → token-id arrays → packed "
             "fixed-length sequence layout, written as three parquet "
             "tables under --output (vocab/, tokens/, layout/); "
             "pretrain: the full recipe — clean → char-n-gram language "
             "routing (--langs) → optional α-temperature rebalance "
             "(--mix-total) → vocab → token ids → packed layout, four "
             "parquet tables under --output (routed/, vocab/, tokens/, "
             "layout/)",
    )
    ap.add_argument("--threshold", type=float, default=0.8, help="dedup Jaccard threshold")
    ap.add_argument("--min-tokens", type=int, default=5, help="clean job: minimum token count gate")
    ap.add_argument("--max-repetition", type=float, default=0.5, help="clean job: maximum duplicated-bigram fraction")
    ap.add_argument("--benchmark", default=None, help="clean job: parquet dir of an eval set; docs sharing a 13-gram with it are dropped (decontamination)")
    ap.add_argument("--redact-pii", action="store_true", help="clean job: write a text_clean column with emails/IPs/phones replaced by tokens; encode/pretrain jobs: the redacted text REPLACES text before vocab/token/layout, so the training shards are scrubbed")
    ap.add_argument("--max-per-domain", type=int, default=None, help="clean job: cap pages per domain (corpus balance)")
    ap.add_argument(
        "--snapshot-store", action="store_true",
        help="clean job: commit the output to a SnapshotStore at --output "
             "instead of overwriting plain parquet — each run appends an "
             "atomic, time-travelable snapshot (incremental corpus builds)",
    )
    ap.add_argument(
        "--rows-per-file", type=int, default=None,
        help="clean job with --snapshot-store: target rows per output file "
             "(maxRecordsPerFile; uniform file sizes at scale)",
    )
    ap.add_argument(
        "--from-html", action="store_true",
        help="geotag from extract_text(html) instead of the stored text "
             "column (the north star's full extracted-text chain; both are "
             "pure projections and byte-equivalent on well-formed tables)",
    )
    ap.add_argument("--centroids", type=int, default=64, help="ivf-index centroid count")
    ap.add_argument("--vocab-size", type=int, default=32768, help="encode job: vocabulary size")
    ap.add_argument("--seq-len", type=int, default=2048, help="encode job: packed sequence length")
    ap.add_argument("--n-shards", type=int, default=64, help="encode job: independent packing streams")
    ap.add_argument("--max-perplexity", type=float, default=None, help="clean/encode jobs: drop docs above this char-LM perplexity (CCNet-style gate)")
    ap.add_argument("--robots", default=None, help="frontier job: parquet dir of a per-host robots dim (host, robots_txt)")
    ap.add_argument("--blocklist-file", default=None, help="frontier job: text file of blocked domains, one per line")
    ap.add_argument("--seen", default=None, help="frontier job: parquet dir of previously fetched pages; their urls are dropped via a Bloom-prefiltered anti-join")
    ap.add_argument("--bloom-bits", type=int, default=None, help="frontier job: Bloom prefilter size in bits (default: auto — ~16 bits per seen url, floor 2^20, cap 2^34)")
    ap.add_argument("--max-per-host", type=int, default=None, help="frontier job: cap queued urls per host (politeness bound)")
    ap.add_argument("--agent", default="*", help="frontier job: user-agent token for robots.txt groups")
    ap.add_argument("--default-delay", type=float, default=1.0, help="frontier job: crawl delay (sec) for hosts without a Crawl-delay rule")
    ap.add_argument("--langs", default="en", help="pretrain job: comma-separated language codes to keep (char-n-gram profile routing; docs predicted outside the list — incl. 'und' — are dropped)")
    ap.add_argument("--mix-total", type=int, default=None, help="pretrain job: rebalance the routed corpus to this many docs with α-temperature language sampling (default: keep everything)")
    ap.add_argument("--mix-alpha", type=float, default=0.3, help="pretrain job: temperature α for --mix-total (1 = proportional, 0 = uniform)")
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
        if args.snapshot_store:
            from verde_spark.sources.snapshots import SnapshotStore

            store = SnapshotStore(args.output)
            version = store.append(
                cleaned, target_rows_per_file=args.rows_per_file
            )
            # row counts come from the committed manifest — no extra job
            snap = store._snapshot(version)
            after = snap["added_rows"]
            print(json.dumps({
                "job": "clean", "rows_in": before, "rows_out": after,
                "dropped": before - after, "sec": round(time.time() - t0, 3),
                "snapshot_version": version,
                "table_rows": sum(e["rows"] for e in snap["files"]),
            }))
            return 0
        cleaned.write.mode("overwrite").parquet(args.output)
        after = spark.read.parquet(args.output).count()
        print(json.dumps({
            "job": "clean", "rows_in": before, "rows_out": after,
            "dropped": before - after, "sec": round(time.time() - t0, 3),
        }))
        return 0

    if args.job == "pretrain":
        # round-5 capstone: the one-command pretraining-data recipe.
        # clean (url dedup + token/repetition/perplexity/decontam/PII/
        # domain-cap gates) → language ROUTING on the production Arrow
        # char-n-gram kernel (functions/langid.lang_id_ngram_udf; the
        # Catalyst fold twin stays the driver-attested oracle engine —
        # prediction agreement pinned in tests/test_langid.py) →
        # optional α-temperature language rebalance (operators/mixing)
        # → frequency vocab → token ids → packed fixed-length layout.
        # Pure composition of oracle-gated operators: no new shuffle
        # beyond the stages' own (the dedup/cap/mix windows, the
        # bounded vocab agg, the per-shard packing cumsum).
        from verde_spark.functions.langid import lang_id_ngram_udf
        from verde_spark.pipelines import clean_corpus

        before = pages.count()
        bench = (
            spark.read.parquet(args.benchmark) if args.benchmark else None
        )
        cleaned = _fold_redacted(
            clean_corpus(
                pages, min_tokens=args.min_tokens,
                max_repetition=args.max_repetition,
                benchmark=bench, redact=args.redact_pii,
                max_per_domain=args.max_per_domain,
                max_perplexity=args.max_perplexity,
            ),
            args.redact_pii,
        )
        langs = [s.strip() for s in args.langs.split(",") if s.strip()]
        routed = (
            cleaned.withColumn("lang", lang_id_ngram_udf()("text"))
            .filter(F.col("lang").isin(langs))
            .withColumn("__docid", F.xxhash64("url", "warc_ts"))
        )
        if args.mix_total is not None:
            from verde_spark.operators.mixing import temperature_mix

            routed = temperature_mix(
                routed, "lang", args.mix_total,
                alpha=args.mix_alpha, id_col="__docid",
            )
        routed.write.mode("overwrite").parquet(f"{args.output}/routed")
        routed = spark.read.parquet(f"{args.output}/routed")
        per_lang = {
            r["lang"]: int(r["n"])
            for r in routed.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_vocab, _enc, n_seqs, n_shards = _vocab_tokens_layout(
            spark, routed, args, extra_cols=("lang",)
        )
        print(json.dumps({
            "job": "pretrain", "rows_in": before,
            "rows_routed": sum(per_lang.values()), "per_lang": per_lang,
            "vocab_size": n_vocab, "seq_len": args.seq_len,
            "sequences": n_seqs, "shards": n_shards,
            "sec": round(time.time() - t0, 3),
        }))
        return 0

    if args.job == "encode":
        # the full text→training-shards path: clean → vocab → ids → layout
        from verde_spark.pipelines import clean_corpus

        before = pages.count()
        cleaned = _fold_redacted(
            clean_corpus(
                pages, min_tokens=args.min_tokens,
                max_repetition=args.max_repetition,
                max_perplexity=args.max_perplexity,
                redact=args.redact_pii,
            ),
            args.redact_pii,
        ).withColumn("__docid", F.xxhash64("url", "warc_ts"))
        n_vocab, enc_stored, n_seqs, n_shards = _vocab_tokens_layout(
            spark, cleaned, args
        )
        print(json.dumps({
            "job": "encode", "rows_in": before,
            "rows_kept": enc_stored.count(),
            "vocab_size": n_vocab, "seq_len": args.seq_len,
            "sequences": n_seqs, "shards": n_shards,
            "sec": round(time.time() - t0, 3),
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
