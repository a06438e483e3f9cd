"""Schema + invariant coverage for the debug/eval sinks (K3): the bbox debug
table and the extraction-metrics relation are registry rows-only queries
(reference ``src/evals/run_evals.py:10-27`` is visual-only), so without these
tests they could silently rot."""

import pytest
from pyspark.sql import functions as F

from open_parse_spark.data.synth import gen_transcripts
from open_parse_spark.plans.evals import (
    extraction_metrics,
    outlier_turns,
    variant_mix,
)
from open_parse_spark.plans.exports import nodes_bbox_debug
from open_parse_spark.spark.pipeline import parse_transcripts


@pytest.fixture(scope="module")
def nodes(spark):
    df = spark.createDataFrame(gen_transcripts(n_convs=20, avg_turns=4, seed=7))
    return parse_transcripts(df, repartition_for_skew=False).cache()


def test_bbox_debug_schema_and_explode(nodes):
    dbg = nodes_bbox_debug(nodes)
    assert [f.name for f in dbg.schema.fields] == [
        "conv_id", "turn_idx", "node_idx", "page",
        "x0", "y0", "x1", "y1", "text_prefix", "tokens",
    ]
    rows = dbg.collect()
    assert rows, "debug sink produced no rows on a normal corpus"
    # one debug row per (node, page-bbox): explode total == sum of bbox sizes
    n_bboxes = nodes.select(F.sum(F.size("bbox"))).first()[0]
    assert len(rows) == n_bboxes
    for r in rows:
        assert r["x1"] >= r["x0"] and r["y1"] >= r["y0"]
        assert r["page"] >= 0
        assert r["text_prefix"] is None or len(r["text_prefix"]) <= 60


def test_extraction_metrics_invariants(nodes):
    m = extraction_metrics(nodes).collect()
    assert len(m) == 1
    row = m[0]
    n_turns = nodes.select("conv_id", "turn_idx").distinct().count()
    n_nodes = nodes.where("node_idx >= 0").count()
    assert row["turns"] == n_turns
    assert row["nodes"] == n_nodes
    assert row["parse_errors"] == 0 and row["turns_with_only_errors"] == 0
    assert row["tokens"] == nodes.select(F.sum("tokens")).first()[0]
    assert row["p50_nodes_per_turn"] <= row["p99_nodes_per_turn"]
    assert abs(row["avg_nodes_per_turn"] - n_nodes / n_turns) < 1e-3


def test_variant_mix_partitions_nodes(nodes):
    mix = variant_mix(nodes).collect()
    assert sum(r["n_nodes"] for r in mix) == nodes.where("node_idx >= 0").count()
    assert all(r["variant_mix"] for r in mix)


def test_outlier_turns_flags_errors_and_giants(spark, nodes):
    # normal corpus: no outliers at the default threshold
    assert outlier_turns(nodes).count() == 0
    # force both flag kinds with a tiny threshold + a crafted error row
    giants = outlier_turns(nodes, max_tokens_per_node=1).collect()
    assert giants and all(r["flag"] == "giant_node" for r in giants)
    err = spark.createDataFrame(
        [("c1", 0, -1, 0, "boom")],
        "conv_id string, turn_idx int, node_idx int, tokens long, parse_error string",
    )
    flagged = outlier_turns(err).collect()
    assert len(flagged) == 1 and flagged[0]["flag"] == "parse_error"


def test_metrics_check_twins_true_and_falsifiable(spark, monkeypatch):
    """The parse_metrics_check / eval_metrics_check invariant twins
    (VERDICT r3 #6) must (a) hold on real data and (b) actually FLIP when
    the bookkeeping regresses — otherwise the oracle's all-true expectation
    is vacuous."""
    import open_parse_spark.plans.queries as Q
    from open_parse_spark.plans.queries import (
        q_eval_metrics_check,
        q_parse_metrics_check,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_parse_metrics_check(spark, sf).collect()
    assert len(rows) == 64
    flags = ["counts_consistent", "tokens_consistent", "turns_match", "turns_bounded"]
    assert all(r[c] for r in rows for c in flags)
    (erow,) = q_eval_metrics_check(spark, sf).collect()
    assert all(erow[c] for c in erow.asDict())

    # regression injection: metrics that over-count nodes by 1 per conv
    real = Q.parse_quality_metrics

    def broken(nodes):
        from pyspark.sql import functions as F

        return real(nodes).withColumn("nodes", F.col("nodes") + 1)

    # patched where the twins look it up (the queries module's import)
    monkeypatch.setattr(Q, "parse_quality_metrics", broken)
    bad = q_parse_metrics_check(spark, sf).collect()
    n_false = sum(1 for r in bad if not r["counts_consistent"])
    assert n_false > 0, "counts_consistent never flipped under a broken rollup"
    (ebad,) = q_eval_metrics_check(spark, sf).collect()
    assert not ebad["nodes_match"]
