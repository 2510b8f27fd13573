"""Checkpointed, resumable extraction runs with per-partition lineage.

North-rule requirement: progress tracked per partition with lineage +
metrics tables enabling EXACT resume.

Design (no custom Catalyst work — idempotent partition overwrites):

* the corpus is bucketed by ``pmod(hash(conv_id), n_buckets)``
  (``pipeline.conv_bucket``);
* buckets are processed in CHUNKS; each chunk is one unsalted
  extraction whose only exchange is on ``bucket``, and its output lands
  in ``<out>/data/bucket=<k>/`` via dynamic partition overwrite —
  re-running a chunk replaces exactly its partitions (idempotent);
* after each chunk commits, one lineage row per bucket is appended to
  ``<out>/lineage`` with the ``pipeline.extraction_metrics`` sums of
  its written rows (turns, docs, parse failures, elements, bytes) and
  wall time;
* resume = run again: the pending buckets are the bucket universe minus
  the buckets of the ``done`` lineage rows (a set difference on the
  driver) — a killed run restarts at the first uncommitted chunk,
  never re-doing committed work and never producing duplicates.

On Iceberg the same structure maps to ``overwrite ... where bucket=k``
snapshots; parquet dynamic partition overwrite is the sandbox
equivalent.
"""

from __future__ import annotations

import time
import uuid

from libpdf_spark.config import DEFAULT_CONFIG, ExtractConfig

LINEAGE_SCHEMA = (
    "bucket int, status string, run_id string, n_turns bigint, "
    "n_docs bigint, n_parse_failures bigint, n_elements bigint, "
    "bytes_in bigint, wall_sec double, finished_at timestamp"
)


def _lineage_path(output_dir: str) -> str:
    # NOT "_lineage": Spark's file listing treats "_"-prefixed paths as
    # hidden metadata and (inconsistently) ignores them on read
    return f"{output_dir}/lineage"


def _data_path(output_dir: str) -> str:
    return f"{output_dir}/data"


def read_lineage(spark, output_dir: str):
    from pyspark.errors import AnalysisException

    path = _lineage_path(output_dir)
    try:
        # drop any cached file listing — appends from this same session
        # are otherwise intermittently invisible to the next read
        spark.catalog.refreshByPath(path)
        return spark.read.parquet(path)
    except AnalysisException:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def completed_buckets(spark, output_dir: str) -> set[int]:
    rows = (
        read_lineage(spark, output_dir)
        .filter("status = 'done'")
        .select("bucket")
        .collect()
    )
    return {r.bucket for r in rows}


def run_resumable(
    spark,
    transcripts,
    output_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_buckets: int = 16,
    chunk_size: int = 4,
    max_chunks: int | None = None,
) -> dict:
    """Run (or resume) the extraction job over ``transcripts``.

    Returns a summary dict. ``max_chunks`` bounds how many chunks this
    invocation commits (useful to simulate interruption in tests).
    """
    from pyspark.sql import functions as F

    from libpdf_spark.pipeline import conv_bucket, extract_turns, extraction_metrics

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    run_id = uuid.uuid4().hex[:12]

    done = completed_buckets(spark, output_dir)
    pending = [b for b in range(n_buckets) if b not in done]
    chunks = [
        pending[i : i + chunk_size] for i in range(0, len(pending), chunk_size)
    ]
    if max_chunks is not None:
        chunks = chunks[:max_chunks]

    bucketed = transcripts.withColumn("bucket", conv_bucket(n_buckets))

    committed = []
    for chunk in chunks:
        t0 = time.time()
        part = bucketed.filter(F.col("bucket").isin(chunk))
        # unsalted: the bucket exchange below is the only one, and it
        # already decides which task writes each row
        extracted = extract_turns(part, cfg, salted=False).withColumn(
            "bucket", conv_bucket(n_buckets)
        )
        (
            extracted.repartition("bucket")
            .sortWithinPartitions("conv_id", "turn_idx")  # stable ordering
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(_data_path(output_dir))
        )
        wall = time.time() - t0

        # metrics per bucket from the just-written data (reading back
        # keeps lineage consistent with what is actually on disk); a
        # bucket with no rows still gets a lineage row, of zeros
        spark.catalog.refreshByPath(_data_path(output_dir))
        written = spark.read.parquet(_data_path(output_dir)).filter(
            F.col("bucket").isin(chunk)
        )
        metrics = extraction_metrics(written, n_buckets).select(
            "bucket", "turns", "docs", "parse_failures", "elements", "bytes_in"
        )
        counts = {r[0]: tuple(r[1:]) for r in metrics.collect()}
        rows = [
            (b, "done", run_id, *counts.get(b, (0, 0, 0, 0, 0)), float(wall), None)
            for b in chunk
        ]
        (
            spark.createDataFrame(rows, LINEAGE_SCHEMA)
            .withColumn("finished_at", F.current_timestamp())
            .write.mode("append")
            .parquet(_lineage_path(output_dir))
        )
        committed.append(chunk)

    done_now = {b for ch in committed for b in ch}
    return {
        "run_id": run_id,
        "committed_chunks": committed,
        "pending_before": pending,
        "remaining": [b for b in pending if b not in done_now],
    }
