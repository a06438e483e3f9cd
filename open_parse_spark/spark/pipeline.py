"""The distributed parse pipeline — transcripts in, content nodes out.

Spark-first design (SURVEY §3.4, §7.0):

- the per-turn parse (extraction + the order-dependent node pipeline) is a
  pure Python function over a turn's payload — inherently sequential *within*
  a turn, embarrassingly parallel *across* turns.  It runs inside an Arrow
  ``mapInPandas`` UDF: batched Arrow transfer, zero per-row (Spark-level)
  Python UDF calls.
- skew handling is explicit: a payload-size histogram (approx quantiles of
  ``length(text)+length(tool)``) sizes the map parallelism, and the
  repartition key is a *turn-level* hash — the finest salting possible, so a
  single giant conv_id can never pin a partition (north rule: "salted,
  skew-aware map over conv_id-bucketed partitions with explicit
  repartitioning by payload-size histograms").
- Arrow batches are bounded (``spark.sql.execution.arrow.maxRecordsPerBatch``)
  so the heavy tail of payload sizes cannot blow executor memory.

Scale notes (100 TB / 1000 executors):
- the job is a pure map: no shuffle at all unless ``repartition_for_skew``
  is enabled (one round-robin-by-hash shuffle, fully parallel, no hot keys
  by construction).  At 100 TB you keep it on: the scan's natural file
  splits correlate with conv_id (Iceberg bucketed layout), and payload skew
  would otherwise produce straggler tasks.
- per-executor state (the tokenizer) is a process-global initialized once
  per Python worker, mirroring the reference's module-import model loading
  (``tables/table_transformers/ml.py:58-86``).
"""

from __future__ import annotations

from operator import attrgetter
from typing import Iterator, List, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BBOX_TYPE = StructType(
    [
        StructField("page", IntegerType()),
        StructField("page_height", DoubleType()),
        StructField("page_width", DoubleType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
    ]
)

ELEMENT_TYPE = StructType(
    [
        StructField("variant", StringType()),
        StructField("text", StringType()),
        StructField("bbox", BBOX_TYPE),
        StructField("image_mimetype", StringType()),
    ]
)

NODE_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("node_idx", IntegerType(), False),
        StructField("text", StringType(), True),
        StructField("tokens", LongType(), True),
        StructField("variant", ArrayType(StringType()), True),
        StructField("num_pages", IntegerType(), True),
        StructField("start_page", IntegerType(), True),
        StructField("end_page", IntegerType(), True),
        StructField("bbox", ArrayType(BBOX_TYPE), True),
        StructField("elements", ArrayType(ELEMENT_TYPE), True),
        StructField("parse_error", StringType(), True),
    ]
)

INPUT_COLS = ["conv_id", "turn_idx", "text", "tool"]


# the identity columns every node row carries; they come from the turn, the
# rest of NODE_SCHEMA from the parsed Node
_REQUIRED_OUTPUT = ("conv_id", "turn_idx", "node_idx")


_bbox_tuple = attrgetter("page", "page_height", "page_width", "x0", "y0", "x1", "y1")


def _element_tuples(n) -> list:
    return [
        (e.variant, e.text, _bbox_tuple(e.bbox), getattr(e, "image_mimetype", None))
        for e in n.elements
    ]


# per-column (node accessor, error-row value).  Rows are built straight off
# the Node objects: node_to_record's dict round-trip (nested dicts, then
# Arrow tuples) was ~11% of the parse body.  The values equal
# node_to_record's, which the oracle-equality tests pin.  An error row's
# parse_error is the exception message, filled in by the body.
_NODE_COLUMNS = {
    "text": (attrgetter("text"), None),
    "tokens": (attrgetter("tokens"), 0),
    "variant": (lambda n: sorted(n.variant), ["error"]),
    "num_pages": (attrgetter("num_pages"), 0),
    "start_page": (attrgetter("start_page"), 0),
    "end_page": (attrgetter("end_page"), 0),
    "bbox": (lambda n: [_bbox_tuple(b) for b in n.bbox], []),
    "elements": (_element_tuples, []),
    "parse_error": (lambda n: None, None),
}


def _node_rows(columns=None, transforms=None):
    """mapInPandas body factory: one Arrow batch of turns -> node rows.

    ``columns`` is any subset of NODE_SCHEMA that includes
    ``_REQUIRED_OUTPUT`` (default: all of it); projection pruning cannot reach
    inside a Python UDF, so a narrow query never builds the columns it drops.
    ``transforms`` is passed to ``parse_turn`` (default: the stock pipeline).
    A turn whose parse raises becomes one ``node_idx = -1`` row carrying the
    exception in ``parse_error`` — lineage: never lose a turn silently.
    """
    names = tuple(columns or NODE_SCHEMA.fieldNames())
    extra = [(c, *_NODE_COLUMNS[c]) for c in names if c not in _REQUIRED_OUTPUT]

    def node_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # imported on the worker; the tokenizer cache in core.tokens is
        # process-global per worker (initialized once, reused across batches)
        from open_parse_spark.core.parse import parse_turn

        for pdf in batches:
            out = {c: [] for c in names}
            o_conv, o_turn, o_nidx = (out[c].append for c in _REQUIRED_OUTPUT)
            sinks = [(out[c].append, get, default) for c, get, default in extra]
            turns = zip(*(pdf[c].values for c in INPUT_COLS))
            for conv_id, turn_idx, text, tool in turns:
                turn_idx = int(turn_idx)
                try:
                    nodes = parse_turn(text, tool, transforms)
                except Exception as exc:
                    o_conv(conv_id)
                    o_turn(turn_idx)
                    o_nidx(-1)
                    for append, _get, default in sinks:
                        append(default)
                    if "parse_error" in out:
                        out["parse_error"][-1] = f"{type(exc).__name__}: {exc}"[:500]
                    continue
                for i, node in enumerate(nodes):
                    o_conv(conv_id)
                    o_turn(turn_idx)
                    o_nidx(i)
                    for append, get, _default in sinks:
                        append(get(node))
            if out["conv_id"]:
                yield pd.DataFrame(out)
            # else: every turn in this batch parsed to zero nodes — yield
            # NOTHING.  pandas 2.x types an all-empty column float64, and
            # Arrow refuses float64 -> list<string> (variant/bbox/elements),
            # so an empty yield kills the whole job on exactly the batches
            # a hostile corpus produces (pinned by
            # tests/test_spark_pipeline.py::test_all_empty_turn_batches).

    return node_rows


# spark.sql.files.maxPartitionBytes values from before the first auto-mode
# parse lowered them, keyed by session identity (None = conf was unset)
_PRIOR_SPLIT_CONF: dict = {}


def _session_key(spark) -> str:
    # applicationId is stable for a session's lifetime and never reused the
    # way id(spark) can be after GC (review finding: a recycled address
    # could restore a dead session's stale conf onto a new session)
    return spark.sparkContext.applicationId


def restore_split_conf(spark) -> None:
    """Restore ``spark.sql.files.maxPartitionBytes`` to its pre-parse value.

    Auto skew mode lowers the session conf so the (lazy) parse job gets
    enough scan splits; the lowered value must survive until the job's
    terminal action runs, so the parse itself cannot restore it.  Call this
    after the action completes (run_resumable does) so unrelated later
    queries in the same session don't inherit tiny splits."""
    prior = _PRIOR_SPLIT_CONF.pop(_session_key(spark), _MISSING)
    if prior is _MISSING:
        return
    if prior is None:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    else:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prior)


_MISSING = object()


def _input_file_bytes(df: DataFrame) -> int:
    """Total input bytes from file metadata (no data is read)."""
    import os

    total = 0
    try:
        for f in df.inputFiles():
            if f.startswith("file:"):
                f = f[len("file:") :]
            try:
                total += os.stat(f).st_size
            except OSError:
                return 0
    except Exception:
        return 0
    return total


def _input_row_groups(df: DataFrame) -> int:
    """Total parquet row groups across the source files (footer metadata
    only, no data read).  Byte-ranged splits cannot spread rows across more
    tasks than there are row groups — a 1-row-group file parses on ONE core
    no matter how many splits the scan conf plans — so the effective scan
    parallelism is ``min(n_splits, n_row_groups)``.  Only called when the
    split count is already below ~3x the core count, so the file list (and
    the footer reads) are small by construction."""
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in df.inputFiles():
            if f.startswith("file:"):
                f = f[len("file:") :]
            if not f.endswith(".parquet"):
                return 1 << 30  # non-parquet: assume freely splittable
            total += pq.ParquetFile(f).metadata.num_row_groups
        return total
    except Exception:
        return 1 << 30  # metadata unavailable: keep the prior behavior


def payload_size_histogram(
    df: DataFrame,
    probabilities: Tuple[float, ...] = (0.5, 0.9, 0.99, 1.0),
    sample_fraction: Optional[float] = None,
) -> dict:
    """Approximate payload-size histogram used to size the map parallelism.

    One pass over just the two length expressions (column-pruned scan);
    approxQuantile is a driver-side sketch merge, no full shuffle.  At scale,
    sample: the histogram only needs ~1e4 rows to plan partitioning (at
    100 TB you would read it off Iceberg column stats instead).
    """
    scale = 1.0
    if sample_fraction is not None and 0 < sample_fraction < 1:
        df = df.sample(fraction=sample_fraction, seed=42)
        scale = 1.0 / sample_fraction
    sized = df.select(
        (
            F.coalesce(F.length("text"), F.lit(0))
            + F.coalesce(F.length("tool"), F.lit(0))
        ).alias("payload_len")
    )
    quantiles = sized.stat.approxQuantile("payload_len", list(probabilities), 0.01)
    agg = sized.agg(
        F.sum("payload_len").alias("total_bytes"),
        F.count(F.lit(1)).alias("rows"),
    ).collect()[0]
    return {
        "quantiles": dict(zip(probabilities, quantiles)),
        "total_bytes": int((agg["total_bytes"] or 0) * scale),
        "rows": int(agg["rows"] * scale),
    }


def plan_partitions(
    hist: dict,
    default_parallelism: int,
    target_bytes_per_partition: int = 64 * 1024 * 1024,
) -> int:
    """Histogram -> partition count.  At least 2x cores (pipelining/straggler
    slack), at most what keeps partitions under the byte target assuming the
    p99 tail dominates."""
    by_bytes = int(hist["total_bytes"] / max(1, target_bytes_per_partition)) + 1
    return max(2 * default_parallelism, by_bytes)


def parse_transcripts(
    df: DataFrame,
    repartition_for_skew: "bool | str" = "auto",
    num_partitions: Optional[int] = None,
    target_bytes_per_partition: int = 64 * 1024 * 1024,
    histogram_sample: Optional[float] = 0.01,
    drop_errors: bool = False,
    output_columns: Optional[list] = None,
) -> DataFrame:
    """transcripts (conv_id, turn_idx, role, text, tool, ts) -> node rows.

    Column pruning happens here (only INPUT_COLS reach the scan).

    ``repartition_for_skew``:
    - ``False``: pure map over the scan's natural splits (zero shuffle).
    - ``True``: always shuffle on a *turn-level* hash (the finest salt — no
      conv_id, however large, can dominate a partition).  Needed only for
      non-splittable / conv-clustered sources; shuffling fat string rows is
      GC-heavy, so prefer ``auto``.
    - ``"auto"`` (default): use the payload-size histogram to size the scan
      splits themselves (``spark.sql.files.maxPartitionBytes``) — balancing
      at the scan, moving zero bytes.  Turns are independent, so there is no
      algorithmic need for co-location; byte-ranged parquet/Iceberg splits
      are inherently size-balanced even under conv_id clustering.  Falls
      back to the salted shuffle only when the source is not file-split
      (e.g. an in-memory DataFrame) and remains under-split.

    ``output_columns``: any subset of NODE_SCHEMA that includes conv_id,
    turn_idx and node_idx (default: all of it); the UDF builds only these.
    """
    cols = list(NODE_SCHEMA.fieldNames() if output_columns is None else output_columns)
    missing = [c for c in _REQUIRED_OUTPUT if c not in cols]
    if missing:
        raise ValueError(f"output_columns must include {missing}")
    unknown = [c for c in cols if c not in NODE_SCHEMA.fieldNames()]
    if unknown:
        raise ValueError(f"unknown output columns {unknown}")
    spark = df.sparkSession
    pruned = df.select(*INPUT_COLS)
    parallelism = spark.sparkContext.defaultParallelism
    if repartition_for_skew is True:
        planned = num_partitions
        if planned is None:
            hist = payload_size_histogram(pruned, sample_fraction=histogram_sample)
            planned = plan_partitions(hist, parallelism, target_bytes_per_partition)
        # turn-level salt: uniform by construction, no hot conv_id keys
        salted = pruned.withColumn(
            "_salt", F.xxhash64(F.col("conv_id"), F.col("turn_idx"))
        )
        pruned = salted.repartition(planned, "_salt").drop("_salt")
    elif repartition_for_skew == "auto":
        n_splits = pruned.rdd.getNumPartitions()
        total_bytes = 0
        # target ~3 waves per core, not just >=1: per-task parse time varies
        # with payload mix, so a 1-2 wave schedule is straggler-ragged; at
        # 100 TB natural splits vastly exceed this and the conf is untouched
        if n_splits < 3 * parallelism:
            # re-split the scan from file-size metadata (no data scan):
            # target ~3 waves per core, >=1 MiB splits
            total_bytes = _input_file_bytes(df)
            if total_bytes > 0:
                split_bytes = max(
                    1 << 18,  # 256 KiB floor: a split below one row group is
                    # harmless (empty splits schedule in microseconds), and
                    # small inputs need sub-MiB splits to reach 3 waves
                    min(
                        target_bytes_per_partition,
                        total_bytes // (3 * parallelism) or 1 << 18,
                    ),
                )
                # session-level conf (it must still be set at execution
                # time, so it cannot be scoped to this call — Spark reads it
                # lazily when the action runs); only lower it when the input
                # is big enough that re-splitting matters, record the prior
                # value, and let a terminal operation call
                # restore_split_conf() once its actions finish (run_resumable
                # does)
                if total_bytes >= 8 * (1 << 20):
                    key = _session_key(spark)
                    if key not in _PRIOR_SPLIT_CONF:
                        _PRIOR_SPLIT_CONF[key] = spark.conf.get(
                            "spark.sql.files.maxPartitionBytes", None
                        )
                    spark.conf.set(
                        "spark.sql.files.maxPartitionBytes", str(split_bytes)
                    )
                    # re-probe a FRESH projection: DataFrame.rdd is cached,
                    # so pruned.rdd would still report the pre-lowering count
                    n_splits = df.select(*INPUT_COLS).rdd.getNumPartitions()
        # a big file-backed source is already size-balanced by byte-ranged
        # splits.  But splits only parallelize down to ROW GROUPS: a small
        # source (one tiny file, or files written as single row groups)
        # stays effectively under-split however low the split conf goes,
        # and the parse is CPU-bound — leaving cores idle costs seconds
        # while moving the source's bytes once costs milliseconds.  So the
        # salted-shuffle fallback now covers ANY source whose effective
        # parallelism (splits capped by row groups) is below the core
        # count, not just non-file sources (r6: parse_flagship ran its
        # whole 5k-doc parse on one core at 32).
        effective = n_splits
        if total_bytes > 0:
            # only reached when the initial split count was < 3x cores, so
            # the file list is small and the footer reads are cheap
            effective = min(n_splits, _input_row_groups(df))
        if effective < parallelism:
            planned = num_partitions
            if planned is None and total_bytes > 0:
                # size known from metadata: plan directly, no histogram jobs
                planned = max(
                    2 * parallelism,
                    total_bytes // target_bytes_per_partition + 1,
                )
            elif planned is None:
                # non-file source: payload-size-histogram partition plan
                hist = payload_size_histogram(
                    pruned, sample_fraction=histogram_sample
                )
                planned = plan_partitions(
                    hist, parallelism, target_bytes_per_partition
                )
            salted = pruned.withColumn(
                "_salt", F.xxhash64(F.col("conv_id"), F.col("turn_idx"))
            )
            pruned = salted.repartition(planned, "_salt").drop("_salt")
    nodes = pruned.mapInPandas(
        _node_rows(cols), schema=StructType([NODE_SCHEMA[c] for c in cols])
    )
    if drop_errors:
        nodes = nodes.where(F.col("node_idx") >= 0)
    return nodes


def nodes_output(nodes: DataFrame) -> DataFrame:
    """Stable output ordering for consumers/tests: (conv_id, turn_idx, node_idx)."""
    return nodes.orderBy("conv_id", "turn_idx", "node_idx")


def parse_quality_metrics(nodes: DataFrame) -> DataFrame:
    """Extraction metrics per conversation (lineage companion)."""
    return nodes.groupBy("conv_id").agg(
        F.count_distinct("turn_idx").alias("turns"),
        F.sum(F.when(F.col("node_idx") >= 0, 1).otherwise(0)).alias("nodes"),
        F.sum(F.when(F.col("node_idx") < 0, 1).otherwise(0)).alias("parse_errors"),
        F.sum("tokens").alias("tokens"),
    )


def run_turns_oracle(pdf: pd.DataFrame) -> pd.DataFrame:
    """Single-threaded oracle over a pandas transcripts frame: the same
    per-turn code path, no Spark.  Used by the equality tests."""
    from open_parse_spark.core.parse import parse_turn_records

    rows: List[dict] = []
    for conv_id, turn_idx, text, tool in zip(
        pdf["conv_id"], pdf["turn_idx"], pdf["text"], pdf["tool"]
    ):
        for rec in parse_turn_records(text, tool):
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": int(turn_idx),
                    "node_idx": rec["node_idx"],
                    "text": rec["text"],
                    "tokens": rec["tokens"],
                }
            )
    return (
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "node_idx", "text", "tokens"])
        .sort_values(["conv_id", "turn_idx", "node_idx"], kind="stable")
        .reset_index(drop=True)
    )
