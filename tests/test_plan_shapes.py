"""Physical-plan regression guards: the scale properties PLANS.md documents
(zero-shuffle parse, broadcast dimension joins, map-only ops) asserted as
plan SHAPE so a refactor can't silently reintroduce a shuffle or a cartesian
product.  String-matching the physical plan is deliberately coarse — these
tests pin structure, not cosmetics."""

import os
import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _bench_transcripts() -> str:
    # BENCH/bench_transcripts is gitignored bench-generated data; regenerate
    # it (cached by bench.py's config stamp) so the suite is self-contained
    # after a clean checkout.
    import bench

    return bench._ensure_bench_transcripts()


SPLIT_CONF = "spark.sql.files.maxPartitionBytes"


def test_parse_is_zero_shuffle(spark):
    """The 32-file bench corpus has more splits than cores: the default
    parse is a pure map and leaves the session's split conf alone."""
    from open_parse_spark.spark.pipeline import parse_transcripts

    prior = spark.conf.get(SPLIT_CONF)
    t = spark.read.parquet(_bench_transcripts())
    plan = _plan(parse_transcripts(t))
    assert "Exchange" not in plan, plan
    assert "CartesianProduct" not in plan
    assert spark.conf.get(SPLIT_CONF) == prior


def test_single_file_under_split_takes_one_hash_exchange(spark, tmp_path):
    """One ~11 MB file with 256-row row groups plans 3 splits on local[4]:
    the parse takes exactly one hash exchange on the turn key, and the
    session's split conf is unchanged."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_parse_spark.data.synth import gen_transcripts
    from open_parse_spark.spark.pipeline import parse_transcripts

    base = gen_transcripts(n_convs=400, avg_turns=6, seed=3)
    pdf = pd.concat(
        [base.assign(conv_id=base.conv_id + f"-{k}") for k in range(9)],
        ignore_index=True,
    )
    path = str(tmp_path / "transcripts.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        path,
        row_group_size=256,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    size = os.path.getsize(path)
    assert 8 << 20 <= size < 16 << 20, size
    prior = spark.conf.get(SPLIT_CONF)
    t = spark.read.parquet(path)
    assert t.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    plan = _plan(parse_transcripts(t))
    assert plan.count("Exchange") == 1, plan
    assert re.search(r"Exchange hashpartitioning\(conv_id#\w+, turn_idx#\w+, ", plan), plan
    assert spark.conf.get(SPLIT_CONF) == prior


def test_row_group_cap_repartitions_single_row_group(spark, tmp_path):
    """A one-row-group file read with at least one split per core still
    runs on ONE busy task (each row group is read by one split), so
    ensure_parallelism — and the parse through it — must add exactly one
    hash exchange."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_parse_spark.data.synth import gen_transcripts
    from open_parse_spark.spark.pipeline import parse_transcripts
    from open_parse_spark.spark.scan import ensure_parallelism

    pdf = gen_transcripts(n_convs=40, avg_turns=6, seed=7)
    pdf["doc_id"] = range(len(pdf))
    path = str(tmp_path / "one_row_group.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        path,
        row_group_size=len(pdf),
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    cores = spark.sparkContext.defaultParallelism
    prior = spark.conf.get(SPLIT_CONF)
    spark.conf.set(SPLIT_CONF, str(max(1, os.path.getsize(path) // (2 * cores))))
    try:
        t = spark.read.parquet(path)
        assert t.rdd.getNumPartitions() >= cores
        plan = _plan(ensure_parallelism(t, "doc_id"))
        assert plan.count("Exchange") == 1, plan
        assert re.search(
            r"Exchange hashpartitioning\(doc_id#\w+, \d+\), REPARTITION_BY_NUM", plan
        ), plan
        assert _plan(parse_transcripts(t)).count("Exchange") == 1
    finally:
        spark.conf.set(SPLIT_CONF, prior)


def test_decontaminate_broadcasts_benchmark(spark):
    from open_parse_spark.plans.queries import q_decontaminate

    plan = _plan(q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_bloom_decontaminate_broadcasts_bit_table(spark):
    from open_parse_spark.plans.queries import q_decontaminate_bloom

    plan = _plan(q_decontaminate_bloom(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_sample_stratified_single_exchange(spark):
    from open_parse_spark.plans.queries import q_sample_stratified

    plan = _plan(q_sample_stratified(spark, SF))
    assert plan.count("Exchange") <= 2, plan  # 1 hash exchange (+AQE read)
    assert "CartesianProduct" not in plan


def test_map_only_ops_have_no_exchange(spark):
    from open_parse_spark.plans.queries import (
        q_multimodal_meta,
        q_pii_scrub,
        q_text_quality,
    )

    for q in (q_text_quality, q_pii_scrub, q_multimodal_meta):
        plan = _plan(q(spark, SF))
        assert "Exchange" not in plan, (q.__name__, plan)


def test_spatial_anti_join_is_broadcast(spark):
    from open_parse_spark.plans.queries import q_op_spatial_anti_join

    plan = _plan(q_op_spatial_anti_join(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_no_cartesian_products_anywhere(spark):
    """crossJoins exist only against broadcast sides (queries/centroids);
    a CartesianProduct node anywhere is a scale bug."""
    from open_parse_spark.plans.queries import REGISTRY

    skip = set()  # every query must satisfy this
    for name, (fn, _sql) in REGISTRY.items():
        if name in skip:
            continue
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_lsh_topk_dedup_exchange_carries_ids_only(spark):
    """The candidate (query_id, neighbor_id) distinct must run BEFORE the
    vectors join back: at a fat embedding dim, a dedup exchange still
    carrying qv/cv ships avoidable array payloads (VERDICT r3)."""
    import re

    from open_parse_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(lsh_topk(emb, emb.where(F.col("vec_id") < 5), k=3))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "neighbor_id" in line:
            assert not re.search(r"\b[qc]v\b", line), line


def _unpartitioned_windows(df):
    """Logical Window nodes with an empty partitionSpec (the optimized plan
    is walked because AQE hides the physical tree behind
    AdaptiveSparkPlanExec)."""
    out = []

    def walk(node):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            out.append(node.simpleString(120))
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


# Queries ALLOWED to carry an unpartitioned window, each bounded by a
# parameter or a value domain — never by the corpus (VERDICT r4 ask #9):
#   vocab_coverage   — row_number over the top-K=200 terms (post TakeOrdered)
#   domain_pagerank  — rank_pos over the top-k=100 domains (post limit)
#   quality_lm       — the oracle twin pins cutoffs="window" (exact
#                      rank-tercile semantics); the OPERATOR default is the
#                      window-free histogram path (test below)
#   search_bm25 / search_hybrid — query mining qpos over <= 10 df-midpoint
#                      terms (post limit); appears once per bm25 leg
BOUNDED_WINDOW_QUERIES = {
    "vocab_coverage",
    "domain_pagerank",
    "quality_lm",
    "search_bm25",
    "search_hybrid",
}


def test_no_unpartitioned_windows_outside_documented_bounded_cases(spark):
    """No registry query may sort the corpus through a single partition: an
    unpartitioned Window is allowed only in the documented <= K-row cases
    above.  A new query that global-sorts fails here, not in review."""
    from open_parse_spark.plans.queries import REGISTRY

    offenders = {}
    for name, (fn, _sql) in REGISTRY.items():
        ws = _unpartitioned_windows(fn(spark, SF))
        if ws and name not in BOUNDED_WINDOW_QUERIES:
            offenders[name] = ws
    assert not offenders, offenders


def test_lm_score_default_is_window_free(spark):
    """The operator DEFAULT (cutoffs="histogram") must never global-sort:
    no Window node of any kind in the plan — the tercile cutoffs come from
    the bounded score-domain histogram folded via higher-order aggregate
    (VERDICT r4 ask #2)."""
    from open_parse_spark.operators.lm import lm_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = lm_score(docs)
    ws = []

    def walk(node):
        if node.nodeName() == "Window":
            ws.append(node.simpleString(120))
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    assert not ws, ws
    # and the cutoffs broadcast back onto the scored docs
    assert "BroadcastNestedLoopJoin" in _plan(df) or "BroadcastExchange" in _plan(df)


def test_pagerank_rank_pos_is_top_k_not_global_sort(spark):
    """rank_pos comes from TakeOrderedAndProject(limit=k) + a window over
    <= k rows — not a global sort of the node set (VERDICT r4 ask #3)."""
    from open_parse_spark.plans.queries import q_domain_pagerank

    plan = _plan(q_domain_pagerank(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_chunk_merge_explicit_exchanges_only(spark):
    """merge_chunks_semantic's fold is Python-CPU-bound: its exchange must
    be the user-specified repartition (exempt from AQE byte-based
    coalescing, which serialized the fold to ~2 tasks after the r5 column
    pruning shrank the shuffle), and the groupBy must reuse that
    partitioning rather than add its own shuffle.  Since r6 an under-split
    source additionally gets the scan-parallelizing doc_id repartition
    BEFORE the tokenization (ensure_parallelism), so the plan may carry
    one or two hash exchanges — every one of them must be an explicit
    REPARTITION_BY_NUM on doc_id, never an implicit aggregate exchange."""
    from open_parse_spark.operators.chunking import merge_chunks_semantic

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(merge_chunks_semantic(docs))
    n_hash = plan.count("Exchange hashpartitioning")
    assert 1 <= n_hash <= 2, plan
    assert plan.count("REPARTITION_BY_NUM") == n_hash, plan
    # and the pruned fold exchange carries no chunk_text / span offsets
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "chunk_text" not in line and "span_start" not in line, line
            assert "doc_id" in line, line
