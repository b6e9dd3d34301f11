"""spark-submit entry point for the CDC ingest engine.

The north rule's launch surface (SURVEY.md §3.2: the reference's Flask
job API maps to spark-submit; job state lives in the ledger, not a
process):

    # package the engine
    python tools/package.py              # -> dist/gene_etl_spark.zip

    # batch ingest (resumes from the ledger automatically)
    spark-submit --py-files dist/gene_etl_spark.zip jobs/ingest_job.py \
        --events-path /data/binlog --warehouse /data/warehouse \
        [--num-buckets 256] [--slice-width 10000000] [--max-batches 8]

    # streaming ingest (availableNow drain)
    spark-submit --py-files dist/gene_etl_spark.zip jobs/ingest_job.py \
        --events-path /data/binlog --warehouse /data/warehouse --streaming

On a real cluster, drop the --cores flag and let the cluster manager
size executors; all engine parallelism derives from
spark.sql.shuffle.partitions and the bucket count.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="CDC ingest: binlog tail -> lake upsert")
    ap.add_argument("--events-path", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--slice-width", type=int, default=1_000_000)
    ap.add_argument("--merge-mode", choices=["cow", "mor"], default="cow")
    ap.add_argument(
        "--compact-delta-files", type=int, default=None,
        help="MoR: compact any bucket holding more than this many delta files",
    )
    ap.add_argument("--max-batches", type=int, default=None)
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--cores", type=int, default=None, help="local mode only")
    args = ap.parse_args()

    from gene_etl_spark.config import IngestConfig
    from gene_etl_spark.session import get_spark

    cfg = IngestConfig(
        lake_path=os.path.join(args.warehouse, "transcripts"),
        events_path=args.events_path,
        ledger_path=os.path.join(args.warehouse, "ingest_ledger"),
        metrics_path=os.path.join(args.warehouse, "ingest_metrics"),
        validation_path=os.path.join(args.warehouse, "validation_log"),
        num_buckets=args.num_buckets,
        slice_lsn_width=args.slice_width,
        merge_mode=args.merge_mode,
        compact_delta_files_per_bucket=args.compact_delta_files,
        max_batches=args.max_batches,
    )
    spark = get_spark(app_name="cdc-ingest", cores=args.cores)

    if args.streaming:
        from gene_etl_spark.streaming.stream import ingest_stream

        summary = ingest_stream(
            spark, cfg, checkpoint_dir=os.path.join(args.warehouse, "_stream_ckpt")
        )
    else:
        from gene_etl_spark.runner import CdcIngestRunner

        summary = CdcIngestRunner(spark, cfg).run()
        summary.pop("batches", None)
    print(json.dumps(summary, default=str))


if __name__ == "__main__":
    main()
