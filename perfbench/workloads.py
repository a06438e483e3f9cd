"""The benchmark's workloads.

Each workload generates its seeded inputs, opens one fresh session, runs a
closed loop of operations (the next starts when the last has finished) for
the requested seconds, then checks its outputs untimed and returns every
metric it measured.  Operation 0 is the cold one; the rest are warm.  In a
traced run the even operations are traced (job group, spans, Spark
counters) and the odd ones are not, so the run also measures the tracing
overhead."""

from __future__ import annotations

import os
import statistics
import time
import traceback
from typing import Callable, Dict, List

import numpy as np

from corpus import corpus_props, write_documents
from probes import PeakRss, StealWindow, summary

NODE_KEY = ["conv_id", "turn_idx", "node_idx"]

# parse_batch: ~24k turns, ~11 MiB of parquet -- above the 8 MiB at which
# auto mode re-splits the scan instead of shuffling, on every seed
PARSE = {"n_convs": 2400, "n_files": 16, "row_group_size": 256}
PARSE_CHECK_CONVS = 20
# ingest_incremental: ~4k turns in 8 files; 4 buckets in waves of 2, killed
# after the first wave; the stream takes 4 files per micro-batch (2 batches)
INGEST = {"n_convs": 400, "n_files": 8, "row_group_size": 256}
N_BUCKETS, BUCKETS_PER_WAVE, KILL_WAVES, FILES_PER_TRIGGER = 4, 2, 1, 4
CORE_SAMPLE_TURNS = 300
# the registry queries of the operators/functions/plans layers timed in a
# traced parse_batch run: the five leaves whose single cold samples regressed
# in r6 without a plan change, each cold once and then warm QUERY_WARM times
QUERY_LEAVES = ("url_domains", "dedup_fingerprint", "mix_corpus", "mix_corpus_threshold",
                "pii_scrub")
QUERY_WARM = 3
QUERY_DOCS = 2000

# per-layer metrics of layers a workload does not run; a traced run reports
# them as 0 so that every workload emits every per-layer name
CHECKPOINT_STREAM_LAYERS = (
    "checkpoint.wave_ms_p50", "checkpoint.probe_s", "checkpoint.jobs_per_wave",
    "checkpoint.scan_bytes_per_input_byte", "checkpoint.write_bytes_per_input_byte",
    "stream.batches", "stream.trigger_ms_p50", "stream.add_batch_ms_p50",
    "stream.wal_commit_ms_p50", "stream.planning_ms_p50",
)
QUERY_LAYERS = tuple(f"q.{q}.{t}" for q in QUERY_LEAVES for t in ("cold_s", "warm_s"))


class Op:
    """One timed operation and what the checks later found about it."""

    def __init__(self, kind: str, i: int, traced: bool):
        self.kind, self.i, self.traced = kind, i, traced
        self.group = f"{kind}-{i}"
        self.ok, self.error, self.wall_s = True, None, 0.0
        self.info: dict = {}
        self.counters: Dict[str, float] = {}

    def fail(self, why: str) -> None:
        self.ok = False
        self.error = self.error or why

    def record(self) -> dict:
        return {
            "op": self.group,
            "traced": self.traced,
            "wall_s": self.wall_s,
            "ok": self.ok,
            "error": self.error,
        }


def run_op(ctx, kind: str, i: int, body: Callable[[Op], None], traceable: bool = True) -> Op:
    op = Op(kind, i, traceable and ctx.trace and i % 2 == 0)
    sc = ctx.spark.sparkContext
    sc.setJobGroup(op.group, op.group)
    ctx.tracer.enabled = op.traced
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(f"op.{kind}", op.group):
            body(op)
    except Exception as exc:  # a failed operation is counted, not fatal
        traceback.print_exc()
        op.fail(f"{type(exc).__name__}: {exc}"[:300])
    op.wall_s = time.perf_counter() - t0
    ctx.tracer.enabled = False
    if op.traced and op.ok:
        op.counters = ctx.stats.group_counters([op.group] + op.info.get("groups", []))
    return op


def closed_loop(ctx, cycle: Callable[[int], None], min_cycles: int) -> None:
    start = time.perf_counter()
    i = 0
    while i < min_cycles or time.perf_counter() - start < ctx.seconds:
        cycle(i)
        i += 1


def warm(ops: List[Op]) -> List[Op]:
    return [op for op in ops if op.i > 0 and op.ok]


def medians(dicts: List[Dict[str, float]]) -> Dict[str, float]:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]} if dicts else {}


def tracing_overhead(walls: Dict[bool, List[float]]) -> float:
    """Median traced warm wall over median untraced warm wall, minus one."""
    return statistics.median(walls[True]) / statistics.median(walls[False]) - 1.0


def checksum(df):
    """(rows, order-insensitive hash) of node rows, as the checkpoint
    lineage table computes it."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*NODE_KEY, "text")).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["x"] or 0)


def core_timing(pdf, seed: int) -> Dict[str, float]:
    """Single-process cost of the parse core on a seeded sample of turns,
    timed in this process.  The token cache is cleared before each stage so
    every round sees the texts for the first time, as a worker mostly does."""
    from open_parse_spark.core import tokens
    from open_parse_spark.core.parse import parse_turn
    from open_parse_spark.core.payload import decode_payload, elements_to_nodes
    from open_parse_spark.core.transforms import basic_pipeline_transforms, run_pipeline

    sample = pdf.sample(n=min(CORE_SAMPLE_TURNS, len(pdf)), random_state=seed)
    turns = list(zip(sample["text"], sample["tool"]))
    transforms = basic_pipeline_transforms()
    clear = getattr(tokens, "_num_tokens_cached", None)
    clear = clear.cache_clear if clear is not None else (lambda: None)
    rounds: Dict[str, List[float]] = {"decode": [], "transforms": [], "tokens": [], "parse": []}
    for _ in range(3):
        clear()
        decode = transform = 0.0
        texts = []
        for text, tool in turns:
            t0 = time.perf_counter()
            nodes = elements_to_nodes(decode_payload(text, tool))
            t1 = time.perf_counter()
            out = run_pipeline(nodes, transforms)
            decode += t1 - t0
            transform += time.perf_counter() - t1
            texts.extend(n.text for n in out)
        clear()
        t0 = time.perf_counter()
        tokens.num_tokens_batch(texts)
        rounds["tokens"].append(time.perf_counter() - t0)
        clear()
        t0 = time.perf_counter()
        for text, tool in turns:
            parse_turn(text, tool)
        rounds["parse"].append(time.perf_counter() - t0)
        rounds["decode"].append(decode)
        rounds["transforms"].append(transform)
    n = len(turns)
    per_turn_us = {k: statistics.median(v) / n * 1e6 for k, v in rounds.items()}
    return {
        "core.decode_us_per_turn": per_turn_us["decode"],
        "core.transforms_us_per_turn": per_turn_us["transforms"],
        "core.tokens_us_per_turn": per_turn_us["tokens"],
        "core.turns_per_s_1proc": 1e6 / per_turn_us["parse"],
    }


def query_leaves(ctx) -> tuple:
    """Time each of ``QUERY_LEAVES`` into a noop sink over a seeded
    documents table, then check it against its DuckDB oracle (untimed)."""
    import duckdb
    import pandas as pd

    from open_parse_spark.plans.queries import REGISTRY
    from tools.check_oracles import normalize

    sf_dir = os.path.join(ctx.work, "sf")
    write_documents(sf_dir, ctx.seed, max(50, int(QUERY_DOCS * ctx.scale)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    layers: Dict[str, float] = {}
    ops: List[Op] = []
    for name in QUERY_LEAVES:
        query, oracle_sql = REGISTRY[name]

        def run(op: Op) -> None:
            query(ctx.spark, sf_dir).write.format("noop").mode("overwrite").save()

        runs = [run_op(ctx, f"q.{name}", i, run, traceable=False) for i in range(1 + QUERY_WARM)]
        ops += runs
        try:
            got = normalize(query(ctx.spark, sf_dir).toPandas())
            want = normalize(con.execute(oracle_sql).df())
            assert list(got.columns) == list(want.columns) and len(got) == len(want) > 0
            pd.testing.assert_frame_equal(got, want, check_dtype=False)
        except Exception as exc:  # a mismatch or an error in either engine
            runs[0].fail(f"oracle check: {type(exc).__name__}: {str(exc)[:200]}")
        layers[f"q.{name}.cold_s"] = runs[0].wall_s
        layers[f"q.{name}.warm_s"] = statistics.median(op.wall_s for op in runs[1:])
    con.close()
    return layers, ops


def parse_stage_tasks(spark, group: str) -> List[int]:
    st = spark.sparkContext.statusTracker()
    return [
        st.getStageInfo(s).numTasks
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None
    ]


def _common_layers(ctx, pdf, traced_counters, turns_per_s) -> Dict[str, float]:
    layers = dict(medians(traced_counters))
    layers.update(core_timing(pdf, ctx.seed))
    layers["session.warmup_job_s"] = ctx.stats.job_seconds(0)
    layers["pipeline.udf_efficiency"] = turns_per_s / (
        ctx.cores * layers["core.turns_per_s_1proc"]
    )
    return layers


def parse_batch(ctx) -> dict:
    from pyspark.sql import functions as F

    from open_parse_spark.data.synth import write_transcripts_parquet

    path = os.path.join(ctx.work, "parse_batch")
    pdf = write_transcripts_parquet(
        path, PARSE["n_files"], PARSE["row_group_size"],
        n_convs=int(PARSE["n_convs"] * ctx.scale), seed=ctx.seed,
    )
    inputs = corpus_props(pdf, path)
    ctx.phase("inputs")
    spark = ctx.open_session()
    from open_parse_spark.spark.pipeline import parse_transcripts, run_turns_oracle

    df = spark.read.parquet(path)
    ops: List[Op] = []

    def one_pass(op: Op) -> None:
        t0 = time.perf_counter()
        with ctx.tracer.span("pipeline.parse_transcripts", op.group):
            nodes = parse_transcripts(df)
        op.info["plan_s"] = time.perf_counter() - t0
        with ctx.tracer.span("sink.noop_write", op.group):
            nodes.write.format("noop").mode("overwrite").save()

    with PeakRss() as rss, StealWindow() as steal:
        closed_loop(ctx, lambda i: ops.append(run_op(ctx, "parse_pass", i, one_pass)), 3)
    ctx.phase("loop")

    # correctness (untimed): a seeded sample of conversations from the same
    # plan, against the single-threaded oracle, in stable key order
    rng = np.random.RandomState(ctx.seed)
    convs = sorted(pdf["conv_id"].unique())
    sample = sorted(rng.choice(convs, size=min(PARSE_CHECK_CONVS, len(convs)), replace=False))
    cols = NODE_KEY + ["text", "tokens"]
    got = (
        parse_transcripts(df).where(F.col("conv_id").isin(sample)).select(*cols).toPandas()
        .sort_values(NODE_KEY, kind="stable").reset_index(drop=True)
    )
    if ctx.corrupt:
        got = got.drop(index=len(got) // 2).reset_index(drop=True)
    want = run_turns_oracle(pdf[pdf["conv_id"].isin(sample)])
    as_rows = lambda f: [tuple(r) for r in f[cols].astype({"turn_idx": int, "node_idx": int, "tokens": int}).itertuples(index=False)]
    check_ok = len(want) > 0 and as_rows(got) == as_rows(want)
    ctx.phase("check")

    good = warm(ops)
    if not ops[0].ok or not good:
        raise RuntimeError(f"parse_batch: no successful cold and warm pass: {[o.record() for o in ops]}")
    warm_s = statistics.median(op.wall_s for op in good)
    turns_per_s = inputs["turns"] / warm_s
    e2e = {
        "setup_s": ctx.setup_s,
        "peak_rss_mb": rss.peak_bytes / (1 << 20),
        "cold_s": ops[0].wall_s,
        "warm_s": warm_s,
        "turns_per_s": turns_per_s,
    }
    report = {
        "inputs": inputs,
        "steal_pct": steal.pct,
        "peak_largest_process_mb": rss.peak_largest_bytes / (1 << 20),
        "split_conf": spark.conf.get("spark.sql.files.maxPartitionBytes"),
        "parse_stage_tasks": parse_stage_tasks(spark, ops[-1].group),
        "check": {"sample_convs": len(sample), "sample_nodes": len(want), "ok": check_ok},
        "named": {
            "parse_turns_per_s": summary([inputs["turns"] / op.wall_s for op in good]),
            "parse_cold_s": ops[0].wall_s,
        },
    }
    layers = {}
    query_ops: List[Op] = []
    if ctx.trace:
        traced = [op for op in good if op.traced]
        layers = _common_layers(ctx, pdf, [op.counters for op in traced], turns_per_s)
        layers["pipeline.plan_s"] = statistics.median(op.info["plan_s"] for op in traced)
        layers["trace.overhead_frac"] = tracing_overhead(
            {t: [op.wall_s for op in good if op.traced == t] for t in (True, False)}
        )
        layers.update(dict.fromkeys(CHECKPOINT_STREAM_LAYERS, 0.0))
        query_layers, query_ops = query_leaves(ctx)
        layers.update(query_layers)
        report["cold_counters"] = ops[0].counters
        ctx.phase("queries")
    ops = ops + query_ops
    return {
        "ops": ops,
        "attempted": len(ops),
        "failed": sum(not op.ok for op in ops) + (not check_ok),
        "e2e": e2e,
        "layers": layers,
        "report": report,
    }


def checkpoint_stream_layers(spark, resumes, drains, traced, probe, input_bytes, out_dirs):
    """The checkpoint and streaming layers' metrics of ``ingest_incremental``
    from its warm cycles: wave walls from the lineage table, Spark jobs per
    wave, bytes per input byte of the traced resumes, the probe's wall and
    the micro-batches' ``durationMs`` medians."""
    wave_ms = []
    for op in resumes:
        lineage = spark.read.parquet(out_dirs(op.i)["ckpt"]).select("run_id", "wall_ms")
        wave_ms += [r["wall_ms"] for r in lineage.distinct().collect()]
    waves = N_BUCKETS // BUCKETS_PER_WAVE
    tracker = spark.sparkContext.statusTracker()
    layers = {
        "checkpoint.wave_ms_p50": statistics.median(wave_ms),
        "checkpoint.probe_s": probe.wall_s,
        "checkpoint.jobs_per_wave": statistics.median(
            len(tracker.getJobIdsForGroup(op.group)) / waves for op in resumes
        ),
        "stream.batches": statistics.median(
            sum(rows > 0 for rows, _ in op.info["progress"]) for op in drains
        ),
    }
    for name, key in (("scan", "spark.input_bytes"), ("write", "spark.output_bytes")):
        layers[f"checkpoint.{name}_bytes_per_input_byte"] = statistics.median(
            r.counters[key] for r in traced
        ) / input_bytes
    batches = [p for op in drains for p in op.info["progress"] if p[0] > 0]
    for key, name in (("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                      ("walCommit", "wal_commit"), ("queryPlanning", "planning")):
        layers[f"stream.{name}_ms_p50"] = statistics.median(dur.get(key, 0) for _, dur in batches)
    return layers


def ingest_incremental(ctx) -> dict:
    from open_parse_spark.data.synth import write_transcripts_parquet

    path = os.path.join(ctx.work, "ingest_in")
    pdf = write_transcripts_parquet(
        path, INGEST["n_files"], INGEST["row_group_size"],
        n_convs=int(INGEST["n_convs"] * ctx.scale), seed=ctx.seed,
    )
    inputs = corpus_props(pdf, path)
    ctx.phase("inputs")
    spark = ctx.open_session()
    from open_parse_spark.spark.checkpoint import run_resumable
    from open_parse_spark.spark.pipeline import parse_transcripts
    from open_parse_spark.streaming.jobs import streaming_parse

    df = spark.read.parquet(path)
    resumes: List[Op] = []
    drains: List[Op] = []
    resumable = dict(n_buckets=N_BUCKETS, buckets_per_wave=BUCKETS_PER_WAVE)

    def out_dirs(i: int):
        base = os.path.join(ctx.work, f"ingest_{i}")
        return {k: os.path.join(base, k) for k in ("out", "ckpt", "sink", "sink_ckpt")}

    def kill_resume(op: Op) -> None:
        d = out_dirs(op.i)
        with ctx.tracer.span("checkpoint.run_resumable", op.group):
            first = run_resumable(spark, df, d["out"], d["ckpt"], max_waves=KILL_WAVES,
                                  run_id=f"{op.group}-kill", **resumable)
        with ctx.tracer.span("checkpoint.run_resumable", op.group):
            second = run_resumable(spark, df, d["out"], d["ckpt"], run_id=f"{op.group}-resume",
                                   **resumable)
        op.info.update(first=first.processed_buckets, second=second.processed_buckets,
                       skipped=second.skipped_buckets)

    def drain(op: Op) -> None:
        d = out_dirs(op.i)
        with ctx.tracer.span("streaming.streaming_parse", op.group):
            stream = streaming_parse(spark, path, max_files_per_trigger=FILES_PER_TRIGGER)
        with ctx.tracer.span("stream.drain", op.group):
            query = (
                stream.writeStream.format("parquet")
                .option("path", d["sink"])
                .option("checkpointLocation", d["sink_ckpt"])
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        op.info["groups"] = [str(query.runId)]
        op.info["progress"] = [(p.numInputRows, dict(p.durationMs)) for p in query.recentProgress]
        op.info["turns"] = sum(rows for rows, _ in op.info["progress"])

    def cycle(i: int) -> None:
        resumes.append(run_op(ctx, "kill_resume", i, kill_resume))
        drains.append(run_op(ctx, "stream_drain", i, drain))

    with PeakRss() as rss, StealWindow() as steal:
        closed_loop(ctx, cycle, 3)
    ctx.phase("loop")

    # correctness (untimed): every cycle's resumed output and stream output
    # equal a one-shot parse of the same corpus, and every bucket is in the
    # checkpoint exactly once
    t0 = time.perf_counter()
    reference = parse_transcripts(df)
    one_shot_plan_s = time.perf_counter() - t0
    want = checksum(reference)
    cols = NODE_KEY + ["text"]
    all_buckets = list(range(N_BUCKETS))
    for res, dr in zip(resumes, drains):
        d = out_dirs(res.i)
        if res.ok:
            first, second = res.info["first"], res.info["second"]
            ck = spark.read.parquet(d["ckpt"]).groupBy("bucket").count().collect()
            if len(first) != KILL_WAVES * BUCKETS_PER_WAVE or sorted(first + second) != all_buckets:
                res.fail(f"buckets processed {first} then {second}")
            elif sorted(res.info["skipped"]) != sorted(first):
                res.fail(f"resume skipped {res.info['skipped']}, killed run did {first}")
            elif sorted((r["bucket"], r["count"]) for r in ck) != [(b, 1) for b in all_buckets]:
                res.fail(f"checkpoint rows per bucket {sorted(tuple(r) for r in ck)}")
            elif checksum(spark.read.parquet(d["out"]).select(*cols)) != want:
                res.fail("resumed output differs from the one-shot parse")
        if dr.ok:
            if dr.info["turns"] != inputs["turns"]:
                dr.fail(f"stream drained {dr.info['turns']} of {inputs['turns']} turns")
            elif checksum(spark.read.parquet(d["sink"]).select(*cols)) != want:
                dr.fail("stream output differs from the batch output")

    # the probe: resuming a completed checkpoint must process zero buckets
    done = [op for op in resumes if op.ok]
    probe = Op("probe", len(resumes), False)
    if done:
        d = out_dirs(done[-1].i)
        t0 = time.perf_counter()
        result = run_resumable(spark, df, d["out"], d["ckpt"], run_id="probe", **resumable)
        probe.wall_s = time.perf_counter() - t0
        if result.processed_buckets:
            probe.fail(f"probe processed {result.processed_buckets}")
    else:
        probe.fail("no completed checkpoint to probe")

    good_resumes, good_drains = warm(resumes), warm(drains)
    if not resumes[0].ok or not good_resumes or not good_drains:
        raise RuntimeError(
            f"ingest_incremental: no successful cold and warm cycle: "
            f"{[o.record() for o in resumes + drains]}"
        )
    stream_tps = [op.info["turns"] / op.wall_s for op in good_drains]
    ctx.phase("check")
    e2e = {
        "setup_s": ctx.setup_s,
        "peak_rss_mb": rss.peak_bytes / (1 << 20),
        "cold_s": resumes[0].wall_s,
        "warm_s": statistics.median(op.wall_s for op in good_resumes),
        "turns_per_s": statistics.median(stream_tps),
    }
    report = {
        "inputs": inputs,
        "steal_pct": steal.pct,
        "peak_largest_process_mb": rss.peak_largest_bytes / (1 << 20),
        "split_conf": spark.conf.get("spark.sql.files.maxPartitionBytes"),
        "parse_stage_tasks": parse_stage_tasks(spark, resumes[-1].group),
        "check": {"reference_nodes": want[0], "probe": probe.record()},
        "named": {
            "ingest_resume_s": summary([op.wall_s for op in good_resumes]),
            "ingest_stream_turns_per_s": summary(stream_tps),
        },
    }
    layers = {}
    if ctx.trace:
        cycles = [(r, d) for r, d in zip(resumes, drains) if r.i > 0 and r.ok and d.ok]
        traced = [r for r, _ in cycles if r.traced]
        sums = [
            {k: r.counters[k] + d.counters[k] for k in r.counters}
            for r, d in cycles if r.traced
        ]
        layers = _common_layers(ctx, pdf, sums, e2e["turns_per_s"])
        layers["pipeline.plan_s"] = one_shot_plan_s
        layers["trace.overhead_frac"] = tracing_overhead(
            {t: [r.wall_s + d.wall_s for r, d in cycles if r.traced == t] for t in (True, False)}
        )
        layers.update(checkpoint_stream_layers(spark, good_resumes, good_drains, traced, probe,
                                               inputs["file_bytes"], out_dirs))
        layers.update(dict.fromkeys(QUERY_LAYERS, 0.0))
    ops = resumes + drains + [probe]
    return {
        "ops": ops,
        "attempted": len(ops),
        "failed": sum(not op.ok for op in ops),
        "e2e": e2e,
        "layers": layers,
        "report": report,
    }


WORKLOADS = {"parse_batch": parse_batch, "ingest_incremental": ingest_incremental}
