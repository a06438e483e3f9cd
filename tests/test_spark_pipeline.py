"""Spark-level correctness: the distributed pipeline must produce exactly the
single-threaded oracle's output (per-turn text equality under stable
(conv_id, turn_idx, node_idx) ordering — the BASELINE.json invariant), be
deterministic across runs, and resume exactly-once from the checkpoint table.
"""

import shutil

import pandas as pd
import pytest

from open_parse_spark.data.synth import gen_transcripts
from open_parse_spark.spark.pipeline import (
    nodes_output,
    parse_transcripts,
    run_turns_oracle,
)


@pytest.fixture(scope="module")
def transcripts_pdf():
    return gen_transcripts(n_convs=40, avg_turns=6, seed=42)


@pytest.fixture(scope="module")
def transcripts_df(spark, transcripts_pdf):
    return spark.createDataFrame(transcripts_pdf).cache()


def _spark_nodes_pdf(df) -> pd.DataFrame:
    # one partition is under-split on the local[4] test session, so the
    # default mode takes its hash exchange: the oracle and determinism
    # checks run through it
    out = nodes_output(parse_transcripts(df.coalesce(1)))
    pdf = out.select("conv_id", "turn_idx", "node_idx", "text", "tokens").toPandas()
    return pdf.reset_index(drop=True)


def test_per_turn_text_equality_vs_oracle(transcripts_df, transcripts_pdf):
    """The flagship invariant: distributed output == single-threaded oracle,
    byte-for-byte, in stable order."""
    expected = run_turns_oracle(transcripts_pdf)
    actual = _spark_nodes_pdf(transcripts_df)
    assert len(actual) == len(expected), (
        f"row count {len(actual)} != oracle {len(expected)}"
    )
    assert actual["text"].tolist() == expected["text"].tolist()
    assert actual["tokens"].tolist() == expected["tokens"].tolist()
    assert actual["conv_id"].tolist() == expected["conv_id"].tolist()
    assert actual["turn_idx"].tolist() == expected["turn_idx"].tolist()
    assert actual["node_idx"].tolist() == expected["node_idx"].tolist()


def test_no_parse_errors_on_synth(transcripts_df):
    nodes = parse_transcripts(transcripts_df, repartition_for_skew=False)
    errs = nodes.where("node_idx < 0").count()
    assert errs == 0


def test_determinism_two_runs(transcripts_df):
    a = _spark_nodes_pdf(transcripts_df)
    b = _spark_nodes_pdf(transcripts_df)
    pd.testing.assert_frame_equal(a, b)


def test_resume_exactly_once(spark, transcripts_df, tmp_path):
    from open_parse_spark.spark.checkpoint import run_resumable

    out = str(tmp_path / "nodes")
    ckpt = str(tmp_path / "ckpt")

    # simulate a kill after 2 waves of 4 buckets
    r1 = run_resumable(
        spark,
        transcripts_df,
        out,
        ckpt,
        n_buckets=16,
        buckets_per_wave=4,
        max_waves=2,
        run_id="r1",
    )
    assert len(r1.processed_buckets) == 8

    # resume: must process only the remaining buckets
    r2 = run_resumable(
        spark,
        transcripts_df,
        out,
        ckpt,
        n_buckets=16,
        buckets_per_wave=4,
        run_id="r2",
    )
    assert set(r2.skipped_buckets) == set(r1.processed_buckets)
    assert set(r2.processed_buckets).isdisjoint(r1.processed_buckets)
    assert len(r1.processed_buckets) + len(r2.processed_buckets) == 16

    # no dupes, no gaps: output == a clean full run
    resumed = (
        spark.read.parquet(out)
        .select("conv_id", "turn_idx", "node_idx", "text")
        .orderBy("conv_id", "turn_idx", "node_idx")
        .toPandas()
    )
    clean_out = str(tmp_path / "nodes_clean")
    clean_ckpt = str(tmp_path / "ckpt_clean")
    run_resumable(
        spark,
        transcripts_df,
        clean_out,
        clean_ckpt,
        n_buckets=16,
        buckets_per_wave=16,
        run_id="clean",
    )
    clean = (
        spark.read.parquet(clean_out)
        .select("conv_id", "turn_idx", "node_idx", "text")
        .orderBy("conv_id", "turn_idx", "node_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(resumed, clean)

    # checksums: same bucket content -> same checksum across runs
    ck = spark.read.parquet(ckpt).toPandas().set_index("bucket")["checksum"]
    ck_clean = (
        spark.read.parquet(clean_ckpt).toPandas().set_index("bucket")["checksum"]
    )
    assert ck.sort_index().tolist() == ck_clean.sort_index().tolist()

    # lineage metrics present for every bucket
    lineage = spark.read.parquet(ckpt).toPandas()
    assert set(lineage["bucket"]) == set(range(16))
    assert (lineage["input_rows"] >= 0).all()

    shutil.rmtree(tmp_path, ignore_errors=True)


def test_narrow_output_columns_equal_full(spark, transcripts_df):
    """output_columns produces exactly the full pipeline's values for the
    requested columns (same parse, skipped construction of the rest) — for
    scalar, list and nested columns alike."""
    from open_parse_spark.spark.pipeline import NODE_SCHEMA

    key = ["conv_id", "turn_idx", "node_idx"]
    full = parse_transcripts(transcripts_df, repartition_for_skew=False)
    for extra in (
        ["text", "tokens"],
        ["variant"],
        ["bbox"],
        ["elements"],
        ["parse_error"],
        [c for c in NODE_SCHEMA.fieldNames() if c not in key],
    ):
        cols = key + extra
        narrow = parse_transcripts(
            transcripts_df, repartition_for_skew=False, output_columns=cols
        )
        assert narrow.schema == full.select(*cols).schema, extra
        pd.testing.assert_frame_equal(
            full.select(*cols).orderBy(*key).toPandas(),
            narrow.orderBy(*key).toPandas(),
        )


def test_narrow_output_columns_validation(spark, transcripts_df):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_transcripts(transcripts_df, output_columns=["conv_id", "text"])
    with _pytest.raises(ValueError, match="unknown"):
        parse_transcripts(
            transcripts_df,
            output_columns=["conv_id", "turn_idx", "node_idx", "no_such_col"],
        )


def test_narrow_output_error_rows(spark):
    """Narrow path keeps the node_idx=-1 error-row lineage contract."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"],
            "text": ['{"pages": [{"elements": [{"kind": "bogus-kind"}]}]}'],
            "tool": [""],
            "ts": pd.to_datetime(["2020-01-01"]),
        }
    )
    df = spark.createDataFrame(pdf)
    out = parse_transcripts(
        df,
        repartition_for_skew=False,
        output_columns=["conv_id", "turn_idx", "node_idx", "parse_error"],
    ).toPandas()
    # either the payload parses (no error rows) or errors carry lineage;
    # force an error via a non-dict payload root instead
    pdf2 = pdf.assign(text=['{"pages": 42}'])
    out2 = parse_transcripts(
        spark.createDataFrame(pdf2),
        repartition_for_skew=False,
        output_columns=["conv_id", "turn_idx", "node_idx", "parse_error"],
    ).toPandas()
    errs = pd.concat([out[out.node_idx == -1], out2[out2.node_idx == -1]])
    if len(errs):
        assert errs["parse_error"].notna().all()


def test_resume_overwrites_partial_wave_output(spark, transcripts_df, tmp_path):
    """A wave that dies mid-write leaves bucket=K output with NO checkpoint
    row; resume must overwrite it, never double-count (write-ahead ordering:
    output first, checkpoint last)."""
    import os

    from open_parse_spark.spark.checkpoint import run_resumable

    out = str(tmp_path / "nodes")
    ckpt = str(tmp_path / "ckpt")

    r1 = run_resumable(
        spark, transcripts_df, out, ckpt,
        n_buckets=8, buckets_per_wave=4, max_waves=1, run_id="r1",
    )
    assert len(r1.processed_buckets) == 4

    # simulate the next wave dying mid-write: plant garbage partial output
    # for a NOT-yet-checkpointed bucket
    victim = next(b for b in range(8) if b not in r1.processed_buckets)
    part_dir = os.path.join(out, f"bucket={victim}")
    os.makedirs(part_dir, exist_ok=True)
    # duplicate rows stolen from a completed bucket = worst-case garbage
    done_dir = os.path.join(out, f"bucket={r1.processed_buckets[0]}")
    src = next(f for f in os.listdir(done_dir) if f.endswith(".parquet"))
    import shutil

    shutil.copy(os.path.join(done_dir, src), os.path.join(part_dir, src))
    n_garbage = spark.read.parquet(part_dir).count()
    assert n_garbage > 0

    r2 = run_resumable(
        spark, transcripts_df, out, ckpt,
        n_buckets=8, buckets_per_wave=8, run_id="r2",
    )
    assert victim in r2.processed_buckets

    # output must equal a clean run: the garbage was overwritten, not merged
    import pandas as pd

    resumed = (
        spark.read.parquet(out)
        .select("conv_id", "turn_idx", "node_idx", "text")
        .orderBy("conv_id", "turn_idx", "node_idx")
        .toPandas()
    )
    clean_out, clean_ckpt = str(tmp_path / "clean"), str(tmp_path / "cckpt")
    run_resumable(
        spark, transcripts_df, clean_out, clean_ckpt,
        n_buckets=8, buckets_per_wave=8, run_id="c",
    )
    clean = (
        spark.read.parquet(clean_out)
        .select("conv_id", "turn_idx", "node_idx", "text")
        .orderBy("conv_id", "turn_idx", "node_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(resumed, clean)


def test_resume_survives_empty_first_wave(spark, tmp_path):
    """A wave whose buckets hold no conversations (or an empty corpus) must
    checkpoint zero-row lineage and let later runs proceed — the bare
    parquet readback used to fail schema inference and wedge resume."""
    import pandas as pd

    from open_parse_spark.spark.checkpoint import run_resumable

    empty = spark.createDataFrame(
        [],
        schema=(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        ),
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    res = run_resumable(
        spark, empty, out, ckpt, n_buckets=4, buckets_per_wave=2, run_id="r"
    )
    assert sorted(res.processed_buckets) == [0, 1, 2, 3]
    ck = spark.read.parquet(ckpt)
    assert ck.count() == 4
    assert ck.where("output_nodes != 0").count() == 0
    # second call: everything already checkpointed
    res2 = run_resumable(
        spark, empty, out, ckpt, n_buckets=4, buckets_per_wave=2, run_id="r2"
    )
    assert res2.processed_buckets == []
    assert sorted(res2.skipped_buckets) == [0, 1, 2, 3]


def test_resume_refuses_changed_n_buckets(spark, tmp_path, transcripts_df):
    """Resuming with a different n_buckets would re-parse conversations into
    new bucket dirs alongside the old ones (double counting) — must raise."""
    import pytest as _pytest

    from open_parse_spark.spark.checkpoint import run_resumable

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_resumable(
        spark, transcripts_df, out, ckpt, n_buckets=8, buckets_per_wave=8,
        run_id="r",
    )
    with _pytest.raises(ValueError, match="n_buckets"):
        run_resumable(
            spark, transcripts_df, out, ckpt, n_buckets=16,
            buckets_per_wave=8, run_id="r2",
        )


def test_all_empty_turn_batches(spark, tmp_path):
    """A batch whose every turn parses to ZERO nodes must yield nothing —
    not an empty DataFrame: pandas 2.x types all-empty columns float64 and
    Arrow refuses float64 -> list<string> for variant/bbox/elements, which
    killed the job on exactly the batches a hostile corpus produces
    (latent until local[*] made tiny all-empty batches likely; found r5 via
    shard-order flakiness, root-caused to the empty-yield dtype trap)."""
    import pandas as pd

    from open_parse_spark.spark.checkpoint import run_resumable
    from open_parse_spark.spark.pipeline import parse_transcripts

    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(40)],
            "turn_idx": list(range(40)),
            "role": ["user"] * 40,
            "text": [""] * 20 + [None] * 20,  # every turn -> zero nodes
            "tool": [None] * 40,
            "ts": pd.date_range("2026-01-01", periods=40, freq="min"),
        }
    )
    df = spark.createDataFrame(pdf)
    # full schema (variant/bbox/elements list columns) and the narrow path
    assert parse_transcripts(df, repartition_for_skew=False).count() == 0
    narrow = parse_transcripts(
        df,
        repartition_for_skew=False,
        output_columns=["conv_id", "turn_idx", "node_idx", "variant"],
    )
    assert narrow.count() == 0
    # and the resumable writer survives all-empty waves end to end
    r = run_resumable(
        spark,
        df,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_buckets=4,
        buckets_per_wave=2,
    )
    assert sorted(r.processed_buckets) == [0, 1, 2, 3]


def test_resume_lineage_equals_output(spark, tmp_path):
    """Each checkpoint row, observed on its wave's write, equals what a
    re-read of that bucket's output says; a bucket with no conversation gets
    a row of zeros."""
    from pyspark.sql import functions as F

    from open_parse_spark.spark.checkpoint import bucket_expr, run_resumable

    n_buckets = 16
    pdf = gen_transcripts(n_convs=8, avg_turns=4, seed=3)
    # a non-dict payload root makes error rows, so parse_errors is not 0
    bad = pdf.head(2).assign(conv_id="bad", turn_idx=[0, 1], text='{"pages": 42}')
    df = spark.createDataFrame(pd.concat([pdf, bad], ignore_index=True))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_resumable(spark, df, out, ckpt, n_buckets=n_buckets, buckets_per_wave=8)

    inputs = {
        r["b"]: r["count"]
        for r in df.groupBy(bucket_expr(n_buckets).alias("b")).count().collect()
    }
    assert len(inputs) < n_buckets, "every bucket got a conversation"
    written = {
        r["bucket"]: (r["output_nodes"], r["parse_errors"], r["checksum"])
        for r in spark.read.parquet(out)
        .groupBy("bucket")
        .agg(
            F.sum((F.col("node_idx") >= 0).cast("long")).alias("output_nodes"),
            F.sum((F.col("node_idx") < 0).cast("long")).alias("parse_errors"),
            F.bit_xor(
                F.xxhash64("conv_id", "turn_idx", "node_idx", "text")
            ).alias("checksum"),
        )
        .collect()
    }
    ck = spark.read.parquet(ckpt).toPandas()
    assert sorted(ck["bucket"]) == list(range(n_buckets))
    for row in ck.itertuples():
        assert row.input_rows == inputs.get(row.bucket, 0), row
        assert (row.output_nodes, row.parse_errors, row.checksum) == written.get(
            row.bucket, (0, 0, 0)
        ), row
    assert ck["parse_errors"].sum() > 0


def test_resume_wave_is_one_pass(spark, transcripts_pdf, tmp_path):
    """A fresh wave submits one single-stage parse write and one single-stage
    checkpoint append: its lineage needs no count job, no re-read of the
    output and no fill-in for empty buckets."""
    from open_parse_spark.spark.checkpoint import run_resumable

    sc = spark.sparkContext
    group = f"one-pass-{tmp_path.name}"
    sc.setJobGroup(group, "run_resumable one-pass probe")
    try:
        res = run_resumable(
            spark,
            spark.createDataFrame(transcripts_pdf),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            n_buckets=4,
            buckets_per_wave=2,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert res.processed_buckets == [0, 1, 2, 3]
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {j: len(tracker.getJobInfo(j).stageIds) for j in jobs}
    assert 0 < len(jobs) <= 2 * 2, stages
    assert set(stages.values()) == {1}, stages


def test_checkpoint_append_is_one_jvm_task(spark, transcripts_pdf, tmp_path):
    """A wave's lineage rows are a JVM local relation: their append plans no
    scan of a Python RDD and no Python node, and each wave adds exactly one
    checkpoint file."""
    import glob

    from open_parse_spark.spark.checkpoint import _checkpoint_rows, run_resumable

    rows = [(0, 3, 5, 0, 12, -7, "r", 4), (1, 0, 0, 0, 12, 0, "r", 4)]
    ck = _checkpoint_rows(spark, rows)
    plan = ck._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "Python" not in plan, plan
    assert "LocalTableScan" in plan, plan
    assert [tuple(r) for r in ck.collect()] == rows

    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame(transcripts_pdf)
    for waves in (1, 2):
        run_resumable(
            spark, df, str(tmp_path / "out"), ckpt, n_buckets=6,
            buckets_per_wave=2, max_waves=1,
        )
        assert len(glob.glob(f"{ckpt}/part-*.parquet")) == waves


def test_resume_with_uri_paths(spark, transcripts_pdf, tmp_path):
    """``file://`` output and checkpoint paths resume like plain ones: the
    second run finds every bucket done and appends no lineage row."""
    from open_parse_spark.spark.checkpoint import run_resumable

    df = spark.createDataFrame(transcripts_pdf)
    out, ckpt = (tmp_path / "out").as_uri(), (tmp_path / "ckpt").as_uri()
    first = run_resumable(spark, df, out, ckpt, n_buckets=4, buckets_per_wave=2)
    second = run_resumable(spark, df, out, ckpt, n_buckets=4, buckets_per_wave=2)
    assert first.processed_buckets == [0, 1, 2, 3]
    assert second.processed_buckets == [] and second.skipped_buckets == [0, 1, 2, 3]
    counts = spark.read.parquet(ckpt).groupBy("bucket").count().collect()
    assert sorted((r["bucket"], r["count"]) for r in counts) == [(b, 1) for b in range(4)]
