"""Robustness: pathological payloads and mid-wave crash recovery."""

import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest


def test_giant_single_turn_parses_bounded():
    """A 10 MB single-turn payload (the skew tail) parses in bounded time
    and memory — the unsplittable-unit worst case the partitioner can't
    help with."""
    from open_parse_spark.core.parse import parse_turn_records

    giant = " ".join(f"word{i % 97}" for i in range(1_500_000))  # ~10 MB
    t0 = time.monotonic()
    recs = parse_turn_records(giant)
    dt = time.monotonic() - t0
    assert recs, "giant turn produced no nodes"
    assert dt < 60, f"giant turn took {dt:.1f}s"
    assert sum(r["tokens"] for r in recs) > 100_000


def test_malformed_payloads_never_raise():
    from open_parse_spark.core.parse import parse_turn_records

    cases = [
        '{"pages": [{"elements": [{"kind": "text"}]}]}',  # no lines
        '{"pages": [{"elements": [{"kind": "table", "bbox": [0,0,1,1]}]}]}',
        '{"pages": "not-a-list"}',
        '{"pages": [42]}',
        "{" * 1000,
        "\x00\x01\x02",
    ]
    for c in cases:
        try:
            parse_turn_records(c)
        except Exception as exc:  # noqa: BLE001
            # only structural TypeErrors from truly adversarial shapes are
            # acceptable to surface; they are captured per-turn by the UDF
            assert isinstance(exc, (TypeError, AttributeError)), (c[:40], exc)


def test_resume_after_midwave_crash(spark, tmp_path):
    """Simulated mid-wave death: output partition written partially (or
    corrupt) but no checkpoint row -> the bucket is reprocessed and
    dynamically overwritten; final output equals a clean run."""
    from open_parse_spark.data.synth import gen_transcripts
    from open_parse_spark.spark.checkpoint import run_resumable

    pdf = gen_transcripts(n_convs=20, avg_turns=4, seed=9)
    df = spark.createDataFrame(pdf)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    # wave 1 completes normally (buckets 0..3 of 8)
    run_resumable(spark, df, out, ckpt, n_buckets=8, buckets_per_wave=4, max_waves=1)

    # simulate a crash mid-wave-2: partial garbage for bucket=5, no ckpt row
    import os

    crash_dir = os.path.join(out, "bucket=5")
    os.makedirs(crash_dir, exist_ok=True)
    with open(os.path.join(crash_dir, "part-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")

    # resume: buckets 4..7 (incl. 5) reprocessed, partials overwritten
    r = run_resumable(spark, df, out, ckpt, n_buckets=8, buckets_per_wave=4)
    assert 5 in r.processed_buckets

    resumed = (
        spark.read.parquet(out)
        .select("conv_id", "turn_idx", "node_idx", "text")
        .orderBy("conv_id", "turn_idx", "node_idx")
        .toPandas()
    )
    clean_out, clean_ckpt = str(tmp_path / "c_out"), str(tmp_path / "c_ckpt")
    run_resumable(spark, df, clean_out, clean_ckpt, n_buckets=8, buckets_per_wave=8)
    clean = (
        spark.read.parquet(clean_out)
        .select("conv_id", "turn_idx", "node_idx", "text")
        .orderBy("conv_id", "turn_idx", "node_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(resumed, clean)


def test_corrupt_checkpoint_fails_loudly(spark, tmp_path, monkeypatch):
    """A checkpoint file that cannot be read makes resume raise before any
    bucket runs, instead of reading as "no bucket done" and re-parsing (and
    re-checkpointing) every bucket."""
    import glob
    import os

    import pytest

    from open_parse_spark.data.synth import gen_transcripts
    from open_parse_spark.spark import checkpoint
    from open_parse_spark.spark.checkpoint import run_resumable

    df = spark.createDataFrame(gen_transcripts(n_convs=12, avg_turns=3, seed=4))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_resumable(spark, df, out, ckpt, n_buckets=4, buckets_per_wave=2)

    part = sorted(glob.glob(os.path.join(ckpt, "part-*.parquet")))[0]
    with open(part, "rb") as f:
        head = f.read(64)
    with open(part, "wb") as f:
        f.write(head)

    parsed = []
    real_parse = checkpoint.parse_transcripts

    def spy(*args, **kwargs):
        parsed.append(1)
        return real_parse(*args, **kwargs)

    monkeypatch.setattr(checkpoint, "parse_transcripts", spy)
    with pytest.raises(Exception):
        run_resumable(spark, df, out, ckpt, n_buckets=4, buckets_per_wave=2)
    assert parsed == []


@pytest.mark.slow
def test_worker_warmup_failure_fails_loudly(tmp_path):
    """A session whose python workers cannot import open_parse_spark fails in
    get_spark, instead of handing back a session whose every Arrow stage
    dies.  The checkout is only on the driver's sys.path: PYTHONPATH is
    unset and the workers start in an empty directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from open_parse_spark.spark.session import get_spark\n"
        "get_spark(app_name='warmup-probe', master='local[1]')\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_DRIVER_MEM"] = "512m"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode != 0, proc.stderr[-2000:]
    assert "python worker warm-up failed" in proc.stderr, proc.stderr[-2000:]
    assert "open_parse_spark" in proc.stderr


def test_element_heavy_turn_parses_in_linear_time():
    """A 30k-paragraph HTML turn must stay near-linear through the greedy
    pipeline (the page-indexed spatial merge; a whole-list scan regression
    would push this back to ~70 s)."""
    import time

    from open_parse_spark.core.parse import parse_turn

    chunk = "<p>" + "paragraph words with some content here. " * 3 + "</p>"
    big = "<article><h1>Big</h1>" + chunk * 30000 + "</article>"
    t0 = time.monotonic()
    nodes = parse_turn(big)
    wall = time.monotonic() - t0
    assert nodes, "no output from element-heavy turn"
    assert wall < 30, f"element-heavy turn took {wall:.1f}s (quadratic regression?)"


def test_payload_json_nan_literals_parse_identically():
    # orjson rejects NaN/Infinity literals that json.loads accepts; the
    # decoder must retry with json so parse output never depends on which
    # library is installed — ADVICE r2 fix
    import math

    from open_parse_spark.core.payload import _json_loads

    obj = _json_loads('{"a": NaN, "b": Infinity, "c": -Infinity, "d": 1}')
    assert math.isnan(obj["a"]) and math.isinf(obj["b"]) and obj["d"] == 1
    try:
        _json_loads("not json at all")
    except ValueError:
        pass
    else:  # pragma: no cover
        raise AssertionError("junk must still raise ValueError")
