"""User-facing API parity: DocumentParser / pipelines / append_transform
(reference doc_parser.py:52-126, processing/ingest.py:25-62)."""

import json

from open_parse_spark import (
    BasicIngestionPipeline,
    DocumentParser,
    NoOpIngestionPipeline,
    SemanticIngestionPipeline,
)


def _payload():
    def line(y, text, bold=False, size=11.0):
        return {
            "bbox": [72, y - 12, 540, y],
            "spans": [
                {"text": text, "is_bold": bold, "is_italic": False, "size": size}
            ],
        }

    return json.dumps(
        {
            "pages": [
                {
                    "page": 0,
                    "width": 612.0,
                    "height": 792.0,
                    "elements": [
                        {"kind": "text", "lines": [line(700, "MOCK LEASE AGREEMENT", bold=True, size=18.0)]},
                        {
                            "kind": "text",
                            "lines": [
                                line(640 - i * 14, f"body paragraph sentence {i} " * 4)
                                for i in range(8)
                            ],
                        },
                    ],
                }
            ]
        }
    )


def test_default_parser_runs_basic_pipeline():
    doc = DocumentParser().parse(_payload(), filename="lease.json")
    assert doc.filename == "lease.json"
    assert doc.num_pages == 1
    assert doc.nodes[0].text.startswith("**MOCK LEASE AGREEMENT**")


def test_noop_pipeline_keeps_raw_nodes():
    doc = DocumentParser(NoOpIngestionPipeline()).parse(_payload())
    # no heading merge, no stub removal: one node per element
    assert len(doc.nodes) == 2


def test_append_transform_extension_point():
    pipeline = BasicIngestionPipeline()

    def drop_everything(nodes):
        return []

    pipeline.append_transform(drop_everything)
    doc = DocumentParser(pipeline).parse(_payload())
    assert doc.nodes == []


def test_semantic_pipeline_class():
    doc = DocumentParser(SemanticIngestionPipeline(min_tokens=10)).parse(_payload())
    assert doc.nodes and doc.nodes[0].text.startswith("**MOCK LEASE AGREEMENT**")


def test_parse_table_distributed(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1"],
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["user", "assistant"],
            "text": [_payload(), "plain prose " * 100],
            "tool": ["", ""],
            "ts": pd.to_datetime(["2020-01-01", "2020-01-01"]),
        }
    )
    df = spark.createDataFrame(pdf)
    out = DocumentParser().parse_table(df).orderBy("turn_idx", "node_idx").toPandas()
    assert out.iloc[0]["text"].startswith("**MOCK LEASE AGREEMENT**")
    # distributed result equals local parse
    local = DocumentParser().parse(_payload())
    assert out[out.turn_idx == 0]["text"].tolist() == [n.text for n in local.nodes]


def test_parse_table_custom_pipeline_emits_error_rows(spark):
    """A malformed payload in the custom-pipeline path becomes a node_idx=-1
    parse_error row (same lineage contract as the stock path), never a
    failed Spark job."""
    import pandas as pd

    pipeline = BasicIngestionPipeline()

    def explode_on_marker(nodes):
        if any("BOOM" in (n.text or "") for n in nodes):
            raise ValueError("marker payload")
        return nodes

    pipeline.append_transform(explode_on_marker)
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1"],
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["user", "assistant"],
            "text": ["BOOM " * 60, "plain prose " * 100],
            "tool": ["", ""],
            "ts": pd.to_datetime(["2020-01-01", "2020-01-01"]),
        }
    )
    out = (
        DocumentParser(pipeline)
        .parse_table(spark.createDataFrame(pdf))
        .orderBy("turn_idx", "node_idx")
        .toPandas()
    )
    errs = out[out.node_idx == -1]
    assert len(errs) == 1
    assert errs.iloc[0]["turn_idx"] == 0
    assert "ValueError" in errs.iloc[0]["parse_error"]
    # the healthy turn still parsed
    assert (out[out.turn_idx == 1].node_idx >= 0).all()


def test_parse_table_custom_branch_equals_parse_transcripts(spark):
    """A pipeline built from fresh stock transforms gives the same node
    relation as parse_transcripts, nested bbox/elements included, in full
    and under a narrow output_columns."""
    import pandas as pd

    from open_parse_spark.core.transforms import basic_pipeline_transforms
    from open_parse_spark.data.synth import gen_transcripts
    from open_parse_spark.spark.pipeline import parse_transcripts

    pipeline = BasicIngestionPipeline()
    pipeline.transformations = basic_pipeline_transforms()
    df = spark.createDataFrame(gen_transcripts(n_convs=12, avg_turns=5, seed=5))
    key = ["conv_id", "turn_idx", "node_idx"]
    for cols in (None, key + ["text", "elements"]):
        opts = {} if cols is None else {"output_columns": cols}
        custom = DocumentParser(pipeline).parse_table(df, **opts)
        stock = parse_transcripts(df, repartition_for_skew=False, **opts)
        assert custom.schema == stock.schema
        got = custom.orderBy(*key).toPandas()
        assert len(got) > 0
        pd.testing.assert_frame_equal(got, stock.orderBy(*key).toPandas())


def test_parse_table_custom_pipeline_takes_parse_options(spark):
    """A custom pipeline runs through parse_transcripts: on under-split input
    it takes the one hash exchange on the turn key, and it accepts
    output_columns."""
    import re

    from open_parse_spark.data.synth import gen_transcripts

    pipeline = BasicIngestionPipeline()
    pipeline.append_transform(lambda nodes: nodes)
    parser = DocumentParser(pipeline)
    df = spark.createDataFrame(gen_transcripts(n_convs=12, avg_turns=5, seed=5)).coalesce(1)

    plan = parser.parse_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert re.search(r"Exchange hashpartitioning\(conv_id#\w+, turn_idx#\w+, ", plan), plan

    cols = ["conv_id", "turn_idx", "node_idx", "text"]
    narrow = parser.parse_table(df, output_columns=cols)
    assert narrow.columns == cols
    assert narrow.count() > 0


def test_parse_table_noop_pipeline_equals_local_parse(spark):
    """An empty transform list means no transforms, not the stock pipeline:
    the distributed NoOp parse gives the local NoOp parse's nodes per turn."""
    import pandas as pd

    parser = DocumentParser(NoOpIngestionPipeline())
    texts = [_payload(), "plain prose " * 100]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1"],
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["user", "assistant"],
            "text": texts,
            "tool": ["", ""],
            "ts": pd.to_datetime(["2020-01-01", "2020-01-01"]),
        }
    )
    out = (
        parser.parse_table(spark.createDataFrame(pdf))
        .orderBy("turn_idx", "node_idx")
        .toPandas()
    )
    for turn_idx, text in enumerate(texts):
        local = [n.text for n in parser.parse(text, "").nodes]
        assert out[out.turn_idx == turn_idx]["text"].tolist() == local
    # the raw payload keeps its heading and body as two nodes; the stock
    # pipeline would merge them
    assert len(out[out.turn_idx == 0]) == 2
