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
  parse_errors, wall_ms, checksum)``.  The lineage is observed on the wave's
  one write (``Observation``s on its input and its node rows), which is exact
  because that write is a single result stage with no exchange.
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

import time
from dataclasses import dataclass
from typing import List, Optional

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

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


def _completed_buckets(
    spark: SparkSession, checkpoint_path: str, n_buckets: int
) -> set:
    # schema-pinned, one job: an unreadable checkpoint raises instead of
    # looking empty (which would re-parse every bucket), and a checkpoint
    # written before n_buckets was recorded reads it as null.  Only a path
    # that does not exist (through its own file system, so URIs count too)
    # means "no bucket done".
    try:
        ck = spark.read.schema(CHECKPOINT_SCHEMA).parquet(checkpoint_path)
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        return set()
    rows = ck.select("bucket", "n_buckets").distinct().collect()
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


def _checkpoint_rows(spark: SparkSession, rows: list) -> DataFrame:
    """``rows`` (tuples in ``CHECKPOINT_SCHEMA`` order) as a one-partition
    frame over a JVM local relation, so their append is one JVM task writing
    one file.  A plain-list ``createDataFrame`` would scan a parallelized
    Python RDD instead: python tasks and a file per slice."""
    return spark.createDataFrame(pd.DataFrame(rows), schema=CHECKPOINT_SCHEMA).coalesce(1)


def _per_bucket(wave: List[int], **metrics) -> list:
    """One observed metric ``<name>_<b>`` per bucket ``b`` of the wave for
    each ``name=(agg, col)``: ``agg`` of ``col`` over that bucket's rows, 0
    when the bucket has none."""
    return [
        F.coalesce(agg(F.when(F.col("bucket") == b, col)), F.lit(0)).alias(
            f"{name}_{b}"
        )
        for b in wave
        for name, (agg, col) in metrics.items()
    ]


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
    add a partition-count job to every wave, and its exchange would make the
    observed lineage inexact.  A checkpoint row's ``wall_ms`` times the
    wave's parse write alone (it once also held a separate input count job).
    """
    done = _completed_buckets(spark, checkpoint_path, n_buckets)
    pending = [b for b in range(n_buckets) if b not in done]
    waves = [
        pending[i : i + buckets_per_wave]
        for i in range(0, len(pending), buckets_per_wave)
    ]
    processed: List[int] = []
    for wave in waves[:max_waves]:
        # Lineage is observed on the wave's one write, not computed by extra
        # jobs.  Exact only while that write is a single result stage (no
        # exchange, hence repartition_for_skew=False): Spark applies a result
        # task's accumulator updates once per partition, so a retried task
        # neither double counts nor XOR-cancels the checksum.
        seen_in, seen_out = Observation(), Observation()
        wave_input = (
            transcripts.withColumn("bucket", bucket_expr(n_buckets))
            .where(F.col("bucket").isin(wave))
            .observe(seen_in, *_per_bucket(wave, input_rows=(F.count, F.lit(1))))
        )
        nodes = (
            parse_transcripts(wave_input.drop("bucket"), repartition_for_skew=False)
            .withColumn("bucket", bucket_expr(n_buckets))
            .observe(
                seen_out,
                *_per_bucket(
                    wave,
                    output_nodes=(F.sum, (F.col("node_idx") >= 0).cast("long")),
                    parse_errors=(F.sum, (F.col("node_idx") < 0).cast("long")),
                    checksum=(
                        F.bit_xor,
                        F.xxhash64("conv_id", "turn_idx", "node_idx", "text"),
                    ),
                ),
            )
        )

        # idempotent per-bucket overwrite: output first ...
        t0 = time.monotonic()
        (
            nodes.write.mode("overwrite")
            .partitionBy("bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_path)
        )
        wall_ms = int((time.monotonic() - t0) * 1000)

        # ... checkpoint rows strictly after (write-ahead ordering)
        got = {**seen_in.get, **seen_out.get}
        rows = [
            (b, got[f"input_rows_{b}"], got[f"output_nodes_{b}"],
             got[f"parse_errors_{b}"], wall_ms, got[f"checksum_{b}"],
             run_id, n_buckets)
            for b in wave
        ]
        _checkpoint_rows(spark, rows).write.mode("append").parquet(checkpoint_path)
        processed.extend(wave)

    return ResumableResult(processed_buckets=processed, skipped_buckets=sorted(done))
