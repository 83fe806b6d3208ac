"""spark-submit entry point for the batch extraction job.

Cluster:
    python tools/package.py                      # builds dist/engine.zip
    spark-submit --master <cluster> \
        --py-files dist/engine.zip \
        scripts/run_job.py \
        --input  <transcripts parquet/Iceberg path> \
        --output <output dir> \
        --model  <config_map.json> \
        --chunks 20000 --waves 64 --salt 64

Sandbox smoke:
    spark-submit --master local[8] --py-files dist/engine.zip \
        scripts/run_job.py --input /tmp/synth/transcripts.parquet \
        --output /tmp/out --streaming false

The model JSON must be reachable from the driver (ship with --files or a
shared filesystem); it is broadcast from the driver, never read on
executors.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="transcripts parquet path")
    ap.add_argument("--input-table", default=None,
                    help="catalog table name (Iceberg production source) instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--model", default=None,
                    help="classifier model JSON; omit for the model packaged with the engine")
    ap.add_argument("--chunks", type=int, default=256)
    ap.add_argument("--waves", type=int, default=8)
    ap.add_argument("--salt", type=int, default=None,
                    help="salt buckets; omit to derive from the sampled skew sketch")
    ap.add_argument("--golden", default=None, help="golden parquet for per-chunk extraction_acc lineage")
    ap.add_argument("--dedup-payloads", default="false",
                    help="extract once per distinct payload and join back (duplicate-heavy corpora)")
    ap.add_argument("--roles", default=None,
                    help="comma-separated role filter (e.g. user,assistant); works on "
                         "direct, table and staged inputs")
    ap.add_argument("--quality-filter", default="false",
                    help="drop payloads that fail the ink/line quality gate BELOW the "
                         "kernel (dirty corpora skip kernel+shuffle cost on junk)")
    ap.add_argument("--streaming", default="false")
    ap.add_argument("--stage-to", default=None,
                    help="stage the input wave-partitioned at this path first, then run "
                         "from it (one scan+write; every wave's read is then pruned to 1/W)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from arabic_ocr_spark.job import ExtractionJobConfig, run_extraction, stage_chunked
    from arabic_ocr_spark.streaming.stream_job import run_streaming_extraction

    spark = SparkSession.builder.appName("arabic-ocr-extract").getOrCreate()
    cfg = ExtractionJobConfig(
        num_chunks=args.chunks,
        num_waves=args.waves,
        salt_buckets=args.salt,
        model_path=args.model,
        golden_path=args.golden,
        dedup_payloads=args.dedup_payloads.lower() == "true",
        payload_roles=tuple(r for r in (args.roles or "").split(",") if r),
        quality_filter=args.quality_filter.lower() == "true",
    )
    if args.streaming.lower() == "true":
        if args.input_table or not args.input:
            raise SystemExit("--streaming requires --input (a file-stream directory); "
                             "--input-table is batch-only")
        run_streaming_extraction(spark, args.input, args.output, cfg)
        print(json.dumps({"mode": "streaming", "output": args.output}))
    else:
        input_path, input_table = args.input, args.input_table
        if args.stage_to:
            src = spark.table(input_table) if input_table else spark.read.parquet(input_path)
            input_path, input_table = stage_chunked(spark, src, cfg, args.stage_to), None
        stats = run_extraction(spark, input_path, args.output, cfg,
                               input_table=input_table)
        print(json.dumps({"mode": "batch", **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
