"""The repository benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload parse_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  It prints one report line (every metric
by name, the run context, the generated inputs and each operation) and, as
the last line, the result: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the ``end_to_end`` metrics of BENCHMARK.json, or with
``--trace 1`` its ``per_layer`` metrics, each with its unit.  Everything it
writes stays under the checkout.  perfbench/README.md describes the
workloads and metrics; perfbench/selftest.py checks the benchmark itself."""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("BENCHMARK.json", "bench.py", "open_parse_spark")
# well below physical memory (the library default is 16g); with 1g the JVM
# heap reaches its cap in every run, so the peak RSS varies little
DRIVER_MEM = "1g"
# the corpus generator seeds numpy with ``seed * 1_000_003 + conversation``,
# which must stay below 2**32, so every --seed (negative or large ones too)
# is folded into [0, SEED_SPACE) before it makes inputs
SEED_SPACE = 4096


def check_worker_import(spark, cores: int) -> None:
    """Fail loudly unless every Python worker imports this checkout's
    package (the session's warm-up swallows that error)."""

    def where(batches):
        import os

        import pandas as pd

        import open_parse_spark

        for _ in batches:
            yield pd.DataFrame({"root": [os.path.dirname(os.path.dirname(os.path.realpath(open_parse_spark.__file__)))]})

    try:
        rows = spark.range(cores, numPartitions=cores).mapInPandas(where, "root string").collect()
    except Exception as exc:
        raise SystemExit(
            f"perfbench: a Python worker cannot import open_parse_spark "
            f"({type(exc).__name__}); the workers' PYTHONPATH must hold {ROOT}"
        )
    roots = {r["root"] for r in rows}
    if roots != {os.path.realpath(ROOT)}:
        raise SystemExit(f"perfbench: workers import open_parse_spark from {roots}, not {ROOT}")


class Ctx:
    """What a workload needs: its arguments, a work directory, the tracer
    and, once opened, the session and its REST counters."""

    def __init__(self, args, work: str):
        from probes import Tracer

        self.workload, self.seconds = args.workload, args.seconds
        self.seed = args.seed % SEED_SPACE
        self.trace, self.scale, self.corrupt = bool(args.trace), args.scale, args.corrupt
        self.cores = len(os.sched_getaffinity(0))
        self.work = work
        self.tracer = Tracer(False)
        self.spark = None
        self.stats = None
        self.setup_s = 0.0
        self.phases: dict = {}
        self._phase_end = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall since the previous phase ended as ``name``."""
        now = time.perf_counter()
        self.phases[name] = now - self._phase_end
        self._phase_end = now

    def open_session(self):
        """``get_spark`` once in this fresh process: the set-up time holds
        the gateway JVM's launch and the Python-worker warm-up."""
        from open_parse_spark.spark.session import get_spark
        from sparkstats import SparkStats

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{self.workload}", master=f"local[{self.cores}]")
        self.setup_s = time.perf_counter() - t0
        self.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        check_worker_import(spark, self.cores)
        self.stats = SparkStats(spark)
        self.phase("setup")
        return spark

    def close(self) -> None:
        """Stop the session and the gateway JVM, and wait until the JVM and
        its Python workers have ended."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from probes import alive, descendants

        started = descendants(os.getpid())
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while any(alive(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in started:
            if alive(pid):
                os.kill(pid, signal.SIGKILL)


def configure_env(work: str) -> None:
    """Workers import the package from this checkout; Spark and Python keep
    their scratch files under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell"
    )


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # used by selftest.py
    parser.add_argument("--scale", type=float, default=1.0,
                        help="factor on the generated input sizes (default 1)")
    parser.add_argument("--corrupt", action="store_true",
                        help="drop one node row from parse_batch's checked output")
    args = parser.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found in {ROOT}; run from the root "
              "of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    started = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    configure_env(work)
    sys.path.insert(1, ROOT)
    from probes import StealWindow, run_context
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    ctx = Ctx(args, work)
    try:
        with StealWindow() as steal:
            context = run_context(ROOT, ctx.cores)
            result = WORKLOADS[args.workload](ctx)
        context["steal_pct_run"] = steal.pct
        spans_file = None
        if ctx.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            spans_file = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json")
            ctx.tracer.write(spans_file)
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)
        ctx.phase("close")

    attempted, failed = result["attempted"], min(result["failed"], result["attempted"])
    names = spec["per_layer"] if ctx.trace else spec["end_to_end"]
    values = dict(result["layers"], failed_frac=failed / attempted) if ctx.trace else result["e2e"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in names}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "input_seed": ctx.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "context": context,
        "setup_s": ctx.setup_s,
        "phases_s": ctx.phases,
        "failed_frac": failed / attempted,
        "end_to_end": result["e2e"],
        "per_layer": result["layers"],
        "ops": [op.record() for op in result["ops"]],
        "span_self_s": ctx.tracer.self_times(),
        "spans_file": spans_file,
        "run_wall_s": time.perf_counter() - started,
        **result["report"],
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
