"""Profile one registry query's jobs and stages from the Spark REST API.

    python tools/profile_query.py <query_name>

Profiles the checkout this file is in (driver and python workers), on
``local[$SPARK_GRAFT_CPUS]`` (default: every core) with 2 x cores shuffle
partitions, over ``$SPARK_GRAFT_SF_DIR``.
"""
import json, os, sys, time, urllib.request
root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, root)
# the workers inherit PYTHONPATH, not sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
from open_parse_spark.spark.session import get_spark

name = sys.argv[1]
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
spark = get_spark(app_name="prof", master=f"local[{cores}]", shuffle_partitions=2 * cores)
from open_parse_spark.plans.queries import REGISTRY
fn, _ = REGISTRY[name]
t0 = time.monotonic()
fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
wall = time.monotonic() - t0
ui = spark.sparkContext.uiWebUrl
app = spark.sparkContext.applicationId
jobs = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/jobs"))
jobs = [j for j in jobs if j["jobId"] > 0]  # skip get_spark's worker warmup job 0
print(f"=== {name}: wall {wall:.2f}s, {len(jobs)} jobs ===")
for j in sorted(jobs, key=lambda j: j["jobId"]):
    t = (time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S"), )
    dur = "?"
    try:
        from datetime import datetime
        dur = (datetime.strptime(j["completionTime"][:23], "%Y-%m-%dT%H:%M:%S.%f")
               - datetime.strptime(j["submissionTime"][:23], "%Y-%m-%dT%H:%M:%S.%f")).total_seconds()
    except Exception: pass
    print(f"job {j['jobId']:>3} {dur:>7}s tasks={j['numTasks']:>4} stages={len(j['stageIds'])} {j.get('description','')[:90]}")
stages = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages?status=complete"))
big = sorted(stages, key=lambda s: -(s.get("executorRunTime",0)))[:10]
print("--- top stages by executorRunTime ---")
for s in big:
    print(f"stage {s['stageId']:>3} attempt{s['attemptId']} tasks={s['numCompleteTasks']:>4} "
          f"runTime={s['executorRunTime']/1000:.2f}s cpuTime={s.get('executorCpuTime',0)/1e9:.2f}s "
          f"shufW={s.get('shuffleWriteBytes',0)//1024}KB shufR={s.get('shuffleReadBytes',0)//1024}KB {s['name'][:60]}")
spark.stop()
