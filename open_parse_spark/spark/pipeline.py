"""The distributed parse pipeline — transcripts in, content nodes out.

``parse_transcripts`` is the one builder of node rows: the batch queries,
``spark/checkpoint.py:run_resumable``, ``streaming/jobs.py:streaming_parse``,
``DocumentParser.parse_table`` and ``q_parse_semantic`` all call it, so the
column pruning, the under-split rule, the output validation and the schema
are the same on every path.

Spark-first design (SURVEY §3.4, §7.0):

- the per-turn parse (extraction + the order-dependent node pipeline) is a
  pure Python function over a turn's payload — inherently sequential *within*
  a turn, embarrassingly parallel *across* turns.  It runs inside an Arrow
  ``mapInPandas`` UDF: batched Arrow transfer, zero per-row (Spark-level)
  Python UDF calls.
- skew handling is explicit and has ONE rule, ``spark/scan.py``'s
  ``ensure_parallelism``: when the scan's effective partitions (splits
  capped by parquet row groups) are fewer than the cores, one hash exchange
  on the *turn-level* key ``(conv_id, turn_idx)`` — the finest salt
  possible, so a single giant conv_id can never pin a partition — spreads
  the turns over 2x cores tasks.  The session's split conf is never
  touched.
- Arrow batches are bounded (``spark.sql.execution.arrow.maxRecordsPerBatch``)
  so the heavy tail of payload sizes cannot blow executor memory.

Scale notes (100 TB / 1000 executors):
- the job is a pure map: byte-ranged parquet/Iceberg splits vastly
  outnumber the cores, so no shuffle happens.  The exchange fires only for
  small or unsplittable inputs, where moving the bytes once costs far less
  than parsing them on one core.
- per-executor state (the tokenizer) is a process-global initialized once
  per Python worker, mirroring the reference's module-import model loading
  (``tables/table_transformers/ml.py:58-86``).
"""

from __future__ import annotations

from operator import attrgetter
from typing import Iterator, List, Optional

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

from open_parse_spark.spark.scan import ensure_parallelism

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


def _node_rows(columns, transforms):
    """mapInPandas body factory: one Arrow batch of turns -> node rows.

    ``columns`` is any subset of NODE_SCHEMA that includes
    ``_REQUIRED_OUTPUT``; projection pruning cannot reach inside a Python
    UDF, so a narrow query never builds the columns it drops.
    ``transforms`` is passed to ``parse_turn`` (``None``: the stock pipeline;
    ``[]``: no transforms).
    A turn whose parse raises becomes one ``node_idx = -1`` row carrying the
    exception in ``parse_error`` — lineage: never lose a turn silently.
    """
    names = tuple(columns)
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


def parse_transcripts(
    df: DataFrame,
    repartition_for_skew: bool = True,
    output_columns: Optional[list] = None,
    transforms: Optional[list] = None,
) -> DataFrame:
    """transcripts (conv_id, turn_idx, role, text, tool, ts) -> node rows.

    Column pruning happens here (only INPUT_COLS reach the scan).

    ``repartition_for_skew``:
    - ``True`` (default): ``ensure_parallelism`` — when the scan's effective
      partitions (splits capped by parquet row groups) are fewer than the
      cores, one hash exchange on ``(conv_id, turn_idx)`` spreads the turns
      over 2x cores tasks (a turn-level key: no conv_id, however large, can
      pin a partition); otherwise a pure map over the scan's splits.
    - ``False``: always the pure map (zero shuffle).
    A streaming frame is always the pure map.

    ``output_columns``: any subset of NODE_SCHEMA that includes conv_id,
    turn_idx and node_idx (default: all of it); the UDF builds only these.

    ``transforms``: the node pipeline run on each turn, passed through
    unchanged (``None``: the stock pipeline; ``[]``: no transforms).
    """
    cols = list(NODE_SCHEMA.fieldNames() if output_columns is None else output_columns)
    missing = [c for c in _REQUIRED_OUTPUT if c not in cols]
    if missing:
        raise ValueError(f"output_columns must include {missing}")
    unknown = [c for c in cols if c not in NODE_SCHEMA.fieldNames()]
    if unknown:
        raise ValueError(f"unknown output columns {unknown}")
    pruned = df.select(*INPUT_COLS)
    if repartition_for_skew:
        pruned = ensure_parallelism(pruned, "conv_id", "turn_idx", factor=2)
    return pruned.mapInPandas(
        _node_rows(cols, transforms), schema=StructType([NODE_SCHEMA[c] for c in cols])
    )


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
