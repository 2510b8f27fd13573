#!/usr/bin/env python
"""spark-submit entry point for the extraction job.

Cluster usage (north rule: ships via --py-files to N / 4N executors):

    scripts/make_pyfiles.sh                      # → dist/libpdf_spark.zip
    spark-submit \\
        --py-files dist/libpdf_spark.zip \\
        --driver-memory 8g \\
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
        scripts/submit_extract.py \\
        --input  <transcripts parquet/Iceberg path> \\
        --output <output dir> \\
        --n-buckets 256 --chunk-size 16

Re-running the same command RESUMES from the lineage table (only
pending buckets run). Local smoke: add ``--master local[8]``.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet path")
    ap.add_argument("--output", required=True, help="output dir (data/ + lineage/)")
    ap.add_argument("--n-buckets", type=int, default=256)
    ap.add_argument("--chunk-size", type=int, default=16)
    ap.add_argument("--smart-page-crop", action="store_true")
    ap.add_argument("--pdf-password", default="",
                    help="document password for encrypted PDFs")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from libpdf_spark.config import ExtractConfig
    from libpdf_spark.lineage import read_lineage, run_resumable
    from libpdf_spark.pipeline import configure_session, read_transcripts

    spark = configure_session(SparkSession.builder.appName("libpdf-extract")).getOrCreate()
    cfg = ExtractConfig(
        smart_page_crop=args.smart_page_crop,
        pdf_password=args.pdf_password,
    )
    transcripts = read_transcripts(spark, args.input)
    summary = run_resumable(
        spark,
        transcripts,
        args.output,
        cfg,
        n_buckets=args.n_buckets,
        chunk_size=args.chunk_size,
    )
    print(f"run_id={summary['run_id']} committed={summary['committed_chunks']}")
    lineage = read_lineage(spark, args.output)
    lineage.groupBy("status").count().show()
    spark.stop()


if __name__ == "__main__":
    main()
