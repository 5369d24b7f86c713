#!/usr/bin/env python3
"""spark-submit entry point — the reference CLI (src/chunk_pdf_cli.cpp)
re-expressed for a cluster run (S7).

    spark-submit --py-files fast_pdf_parser_spark.zip tools/run_pipeline.py \
        --input  <documents parquet dir> \
        --output <result dir> \
        --run-id nightly-2026-08-16 --num-buckets 64 \
        --max-tokens 512 --min-tokens 150 --overlap-tokens 0 \
        [--page-limit N] [--format parquet|json] [--quiet]

Checkpointed execution in bucket waves with resume (plans/checkpoint.py);
re-running the same command after a failure continues from the last durable
wave. ``--quiet`` prints the reference's parseable one-liner
(``SUCCESS|<input>|<pages>|<chunks>|<ms>`` — src/chunk_pdf_cli.cpp:342-345).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default="run")
    p.add_argument("--num-buckets", type=int, default=64)
    # chunker options w/ reference defaults (hierarchical_chunker.h:11-16)
    p.add_argument("--max-tokens", type=int, default=512)
    p.add_argument("--min-tokens", type=int, default=150)
    p.add_argument("--overlap-tokens", type=int, default=0)
    p.add_argument("--page-limit", type=int, default=0)
    p.add_argument("--format", choices=["parquet", "json"], default="parquet")
    p.add_argument("--arrow-batch", type=int, default=64,
                   help="docs the fold converts and folds per slice of "
                        "each Arrow input batch (the reference's "
                        "batch_size); 0 = whole batches")
    p.add_argument("--concurrent-buckets", type=int, default=0,
                   help="buckets per commit job; 0 = auto")
    p.add_argument("--quiet", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession, functions as F

    from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions
    from fast_pdf_parser_spark.operators.sinks import write_results
    from fast_pdf_parser_spark.plans.checkpoint import (
        lineage,
        run_with_checkpoint,
    )
    from fast_pdf_parser_spark.util import ship_package

    chunk_opts = ChunkOptions(
        max_tokens=args.max_tokens, min_tokens=args.min_tokens,
        overlap_tokens=args.overlap_tokens, page_limit=args.page_limit,
    )
    chunk_opts.validate()  # CLI validation (src/chunk_pdf_cli.cpp:142-156)
    parse_opts = ParseOptions(arrow_max_records_per_batch=args.arrow_batch)

    spark = (
        SparkSession.builder.appName("fast_pdf_parser_spark")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)

    t0 = time.time()
    df = spark.read.parquet(args.input)
    result = run_with_checkpoint(
        spark, df, args.output, run_id=args.run_id,
        num_buckets=args.num_buckets,
        chunk_options=chunk_opts, parse_options=parse_opts,
        max_concurrent_buckets=args.concurrent_buckets,
    )
    if args.format == "json":
        write_results(result, os.path.join(args.output, "docling_json"),
                      fmt="json")

    rows = lineage(spark, args.output).filter(
        F.col("run_id") == args.run_id).collect()
    docs = sum(r.docs_parsed for r in rows)
    fails = sum(r.parse_failures for r in rows)
    ms = int((time.time() - t0) * 1000)
    chunks = result.filter(F.col("kind") == "chunk").count()

    if args.quiet:
        print(f"SUCCESS|{args.input}|{docs}|{chunks}|{ms}")
    else:
        print(f"docs={docs} chunks={chunks} parse_failures={fails} "
              f"buckets={len(rows)} wall_ms={ms} output={args.output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
