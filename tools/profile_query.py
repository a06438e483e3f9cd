"""Profile registry queries' jobs and stages from the Spark REST API.

    python tools/profile_query.py <query_name> [<query_name> ...] [--explain DIR]

Profiles the checkout this file is in (driver and python workers), on
``local[$SPARK_GRAFT_CPUS]`` (default: every core) with 2 x cores shuffle
partitions, over ``$SPARK_GRAFT_SF_DIR``.  Each query builds and runs once
into a noop sink under ``setJobGroup(<name>)``, so its wall, job list and
stage list hold that query's work only.  ``--explain DIR`` also writes
``DIR/<name>.txt`` with the query's formatted plan and prints the plan's
``Exchange`` count.  It first prints the session's python daemon module
(``spark.python.daemon.module``, or ``pyspark.daemon`` when unset), which
decides how each python task starts.
"""
import argparse, json, os, sys, time, urllib.request
from datetime import datetime

root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, root)
# the workers inherit PYTHONPATH, not sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
from open_parse_spark.spark.session import get_spark

ap = argparse.ArgumentParser(description="profile registry queries")
ap.add_argument("names", nargs="+", help="registry query names")
ap.add_argument("--explain", metavar="DIR", help="write DIR/<name>.txt with each formatted plan")
args = ap.parse_args()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
spark = get_spark(app_name="prof", master=f"local[{cores}]", shuffle_partitions=2 * cores)
from open_parse_spark.plans.queries import REGISTRY
sc = spark.sparkContext
print(f"python daemon: {spark.conf.get('spark.python.daemon.module', None) or 'pyspark.daemon'}")
api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"


def rest(path):
    return json.load(urllib.request.urlopen(f"{api}/{path}"))


def span_s(j):
    if "completionTime" not in j:
        return "?"
    t = [datetime.strptime(j[k][:23], "%Y-%m-%dT%H:%M:%S.%f") for k in ("submissionTime", "completionTime")]
    return (t[1] - t[0]).total_seconds()


for name in args.names:
    fn, _ = REGISTRY[name]
    sc.setJobGroup(name, name)
    t0 = time.monotonic()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    jobs = sorted((j for j in rest("jobs") if j.get("jobGroup") == name), key=lambda j: j["jobId"])
    print(f"=== {name}: wall {wall:.2f}s, {len(jobs)} jobs ===")
    for j in jobs:
        print(f"job {j['jobId']:>3} {span_s(j):>7}s tasks={j['numTasks']:>4} stages={len(j['stageIds'])} {j.get('description','')[:90]}")
    ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in rest("stages?status=complete") if s["stageId"] in ids]
    print("--- top stages by executorRunTime ---")
    for s in sorted(stages, key=lambda s: -s.get("executorRunTime", 0))[:10]:
        print(f"stage {s['stageId']:>3} attempt{s['attemptId']} tasks={s['numCompleteTasks']:>4} "
              f"runTime={s['executorRunTime']/1000:.2f}s cpuTime={s.get('executorCpuTime',0)/1e9:.2f}s "
              f"shufW={s.get('shuffleWriteBytes',0)//1024}KB shufR={s.get('shuffleReadBytes',0)//1024}KB {s['name'][:60]}")
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(args.explain, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
spark.stop()
