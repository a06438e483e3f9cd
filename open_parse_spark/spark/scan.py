"""The one under-split rule: ``ensure_parallelism``.

Byte-ranged parquet splits parallelize down to ROW GROUPS, not rows: a
small table written as a single row group scans as ONE task no matter what
``spark.sql.files.maxPartitionBytes`` says, and every CPU-heavy map stage
above it (the per-turn parse, regex n-gram expansion, per-word hashing,
Arrow UDF batches) serializes on one core while the rest of the cluster
idles.  The bytes are tiny exactly when this happens, so moving them once is
milliseconds while the serialized compute is seconds (guide §2.5: input
skew / unsplittable input).  ``parse_transcripts`` and every CPU-heavy
operator take this rule; none of them touches the session's split conf.

``ensure_parallelism`` is a no-op whenever the plan already has at least
the session's core count of effective partitions — at real corpus scale the
natural splits vastly exceed it and nothing is shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _effective_partitions(df: DataFrame, cores: int) -> int:
    """Scan splits, capped by parquet row groups: each row group is read by
    exactly one split, so a source cannot run on more busy tasks than it has
    row groups."""
    n = df.rdd.getNumPartitions()
    if n < cores:
        return n
    # the JVM array's length is one call; its paths cross only when few
    files = df._jdf.inputFiles()
    if len(files) >= cores:
        # every non-empty parquet file has a row group: the cap cannot fire
        return n
    paths = list(files)
    if not paths or not all(p.endswith(".parquet") for p in paths):
        # in-memory or non-parquet source: byte splits are the parallelism
        return n
    import pyarrow.parquet as pq

    # footer metadata only, no data read
    return min(n, sum(pq.read_metadata(p).num_row_groups for p in paths))


def ensure_parallelism(df: DataFrame, *key_cols: str, factor: int = 1) -> DataFrame:
    """Repartition ``df`` to ``factor x defaultParallelism`` partitions when
    its effective partition count (scan splits capped by parquet row groups)
    is below ``defaultParallelism`` — otherwise return it untouched.
    ``key_cols`` (together unique per row) make the exchange a deterministic
    hash partitioning; without them a round-robin repartition is used
    (deterministic under retries via Spark's sort-before-repartition
    default).  A streaming frame is returned as is: it has no partition
    count to probe."""
    if df.isStreaming:
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    if _effective_partitions(df, cores) >= cores:
        return df
    return df.repartition(factor * cores, *key_cols)
