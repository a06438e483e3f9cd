"""Exactly-once resumable execution with per-partition lineage + metrics.

North rule (BASELINE.json): "writes per-partition lineage and extraction
metrics to a checkpoint table for exactly-once resumability".

Design (SURVEY §3.4, §4.2 "Exactly-once resume"):

- the corpus is split into ``n_buckets`` **conv_id buckets**
  (``pmod(xxhash64(conv_id), n_buckets)``) — the unit of restart.  On a real
  deployment these align with the Iceberg table's conv_id bucket partitioning
  so each wave prunes to whole data files.
- buckets are processed in **waves** (``buckets_per_wave`` buckets per Spark
  job).  Each wave writes its output under ``out/bucket=K/`` directories
  (idempotent per-bucket overwrite) and only then appends one lineage row per
  bucket to the checkpoint table: ``(bucket, input_rows, output_nodes,
  parse_errors, wall_ms, checksum)``.
- on restart, completed buckets are read from the checkpoint table and
  anti-joined away; a wave that died mid-write is simply re-run — its
  partial ``bucket=K`` dirs are overwritten before its checkpoint rows ever
  existed, so the output can never double-count (exactly-once at the bucket
  level).
- the checksum is an order-insensitive ``bit_xor`` of a row hash, so two runs
  of the same bucket can be compared cheaply for determinism.

With Iceberg, the wave write + checkpoint append would be a single atomic
snapshot commit; on plain parquet (this sandbox) the wave is the atomicity
unit and the checkpoint append happens strictly after the wave's output is
fully written (write-ahead ordering: output first, checkpoint last).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from open_parse_spark.spark.pipeline import parse_transcripts

CHECKPOINT_SCHEMA = (
    "bucket INT, input_rows LONG, output_nodes LONG, parse_errors LONG, "
    "wall_ms LONG, checksum LONG, run_id STRING, n_buckets INT"
)


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


@dataclass
class ResumableResult:
    processed_buckets: List[int]
    skipped_buckets: List[int]
    out_path: str
    checkpoint_path: str


def _completed_buckets(
    spark: SparkSession, checkpoint_path: str, n_buckets: int
) -> set:
    if not os.path.exists(checkpoint_path):
        return set()
    # schema-pinned, one job: an unreadable checkpoint raises instead of
    # looking empty (which would re-parse every bucket), and a checkpoint
    # written before n_buckets was recorded reads it as null
    rows = (
        spark.read.schema(CHECKPOINT_SCHEMA)
        .parquet(checkpoint_path)
        .select("bucket", "n_buckets")
        .distinct()
        .collect()
    )
    bad = {r["n_buckets"] for r in rows} - {n_buckets, None}
    if bad:
        # resuming with a different bucket count would re-parse
        # conversations into NEW bucket dirs while the old dirs survive —
        # silent double counting (review finding); refuse loudly instead
        raise ValueError(
            f"checkpoint at {checkpoint_path} was written with "
            f"n_buckets={sorted(bad)}, resume requested n_buckets={n_buckets}"
        )
    return {r["bucket"] for r in rows}


def _row_checksum(nodes: DataFrame) -> DataFrame:
    """Order-insensitive content checksum per bucket."""
    return nodes.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rows_total"),
        F.sum(F.when(F.col("node_idx") >= 0, 1).otherwise(0)).alias("output_nodes"),
        F.sum(F.when(F.col("node_idx") < 0, 1).otherwise(0)).alias("parse_errors"),
        F.bit_xor(
            F.xxhash64(
                F.col("conv_id"), F.col("turn_idx"), F.col("node_idx"), F.col("text")
            )
        ).alias("checksum"),
    )


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_path: str,
    checkpoint_path: str,
    n_buckets: int = 16,
    buckets_per_wave: int = 4,
    run_id: str = "run",
    max_waves: Optional[int] = None,
) -> ResumableResult:
    """Process all not-yet-checkpointed conv_id buckets, wave by wave.

    ``max_waves`` lets tests simulate a mid-job kill: stop after k waves,
    call again to resume.  Each wave parses with
    ``repartition_for_skew=False``, a pure map: the under-split probe would
    add a partition-count job to every wave.
    """
    done = _completed_buckets(spark, checkpoint_path, n_buckets)
    pending = [b for b in range(n_buckets) if b not in done]
    processed: List[int] = []

    wave_no = 0
    while pending:
        if max_waves is not None and wave_no >= max_waves:
            break
        wave = pending[:buckets_per_wave]
        pending = pending[buckets_per_wave:]
        wave_no += 1

        t0 = time.monotonic()
        wave_input = transcripts.withColumn("bucket", bucket_expr(n_buckets)).where(
            F.col("bucket").isin(wave)
        )
        input_rows_by_bucket = {
            r["bucket"]: r["cnt"]
            for r in wave_input.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

        nodes = parse_transcripts(
            wave_input.drop("bucket"), repartition_for_skew=False
        ).withColumn("bucket", bucket_expr(n_buckets))

        # idempotent per-bucket overwrite: output first ...
        (
            nodes.write.mode("overwrite")
            .partitionBy("bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_path)
        )
        wall_ms = int((time.monotonic() - t0) * 1000)

        # ... checkpoint rows strictly after (write-ahead ordering).
        # schema-pinned read: an all-empty wave leaves only _SUCCESS in
        # out_path and a bare parquet read would fail schema inference,
        # wedging resume permanently (review finding)
        stats = (
            spark.read.schema(nodes.schema)
            .parquet(out_path)
            .where(F.col("bucket").isin(wave))
        )
        lineage = (
            _row_checksum(stats)
            .withColumn("wall_ms", F.lit(wall_ms))
            .withColumn("run_id", F.lit(run_id))
        )
        lineage_rows = lineage.collect()
        lineage_pdf = spark.createDataFrame(
            [
                (
                    r["bucket"],
                    int(input_rows_by_bucket.get(r["bucket"], 0)),
                    r["output_nodes"],
                    r["parse_errors"],
                    r["wall_ms"],
                    r["checksum"],
                    r["run_id"],
                    n_buckets,
                )
                for r in lineage_rows
            ]
            + [
                # buckets that produced zero nodes still need a lineage row
                (
                    b,
                    int(input_rows_by_bucket.get(b, 0)),
                    0,
                    0,
                    wall_ms,
                    0,
                    run_id,
                    n_buckets,
                )
                for b in wave
                if b not in {r["bucket"] for r in lineage_rows}
            ],
            schema=CHECKPOINT_SCHEMA,
        )
        lineage_pdf.write.mode("append").parquet(checkpoint_path)
        processed.extend(wave)

    return ResumableResult(
        processed_buckets=processed,
        skipped_buckets=sorted(done),
        out_path=out_path,
        checkpoint_path=checkpoint_path,
    )
