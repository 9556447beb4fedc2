"""Job-timeline profile of one default-budget engine superstep.

Runs seed + warm-up + one timed superstep at local[N], then dumps every
Spark job's (submissionTime, completionTime, duration, name) from the
UI REST API, so inter-job gaps (driver plan-compile/codegen) and
job walls can be attributed to the superstep stage marks. Per-stage
executorRunTime vs stage wall separates "the plan is serial" from "the
host slowed down": if executorRunTime/cores ~= stage wall, the stage is
parallel-bound and any remaining efficiency loss is executor-time
inflation (memory-bandwidth / turbo contention), not plan shape.

Recorded same-window pair (2026-08-18, calibration ~3.6x, default
500 s budget, 489k-page corpus) — see BENCH/BASELINE.md §2b:

  crawl wall        L1 204.9 s   L4 71.4 s    ratio 2.87 (eff 0.72)
  sum inter-job gap L1   4.7 s   L4  4.6 s    (driver constants)
  fetch_parse stage 142.2 -> 41.9 s (3.39x); execRun 141.8 -> 164.2 s
    (L4 execRun/4 = 41.0 ~= 41.9 wall: parallel-bound; the 16%
    executor-time inflation is hardware contention, not the plan)
  outlink stage      32.4 -> 10.3 s (3.14x); execRun 32.1 -> 39.6 s
  outlinks_unseen mark 42.8 -> 16.0 s (2.68x)
  dispatch.select mark  8.8 -> 4.6 s (1.9x; ~3 s flat plan-compile)

Usage: python scripts/profile_jobs.py [cpus]   (default 4)
"""
import json, os, sys, tempfile, shutil, time, urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench
from pyspark.sql import functions as F
from walker_spark.config import DispatcherConfig, FrontierConfig, WalkerConfig
from walker_spark.streaming.loop import CrawlEngine

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else 4
PAGES = "/root/repo/fixtures/bench-corpus/pages"

def build_spark_ui(cpus):
    from pyspark.sql import SparkSession as S
    b = S.builder.master(f"local[{cpus}]").appName("walker-prof")
    for k, v in (("spark.sql.shuffle.partitions", str(2*cpus)),
                 ("spark.default.parallelism", str(2*cpus)),
                 ("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "16g")),
                 ("spark.sql.adaptive.enabled", "true"),
                 ("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                  os.environ.get("SPARK_GRAFT_MIN_PARTITION", "65536")),
                 ("spark.sql.execution.arrow.pyspark.enabled", "true"),
                 ("spark.sql.execution.arrow.maxRecordsPerBatch",
                  os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048")),
                 ("spark.ui.enabled", "true"),
                 ("spark.ui.retainedJobs", "3000"),
                 ("spark.ui.retainedStages", "3000"),
                 ("spark.sql.session.timeZone", "UTC")):
        b = b.config(k, v)
    return b.getOrCreate()
bench.build_spark = build_spark_ui
spark = bench.build_spark(CPUS)
spark.sparkContext.setLogLevel("ERROR")
ui = spark.sparkContext.uiWebUrl
app_id = spark.sparkContext.applicationId

workdir = tempfile.mkdtemp(prefix="walker-profjobs-")
cfg = WalkerConfig(
    frontier=FrontierConfig(num_domain_buckets=2 * CPUS, claim_limit=100000,
                            iteration_time_budget=500.0),
    dispatcher=DispatcherConfig(max_links_per_segment=1000),
)
engine = CrawlEngine(spark, workdir, cfg)
engine.store.overwrite("pages", spark.read.parquet(PAGES))
from walker_spark.operators.fetch import register_bucketed_pages
if os.path.isdir(PAGES + "_bucketed"):
    register_bucketed_pages(engine.store, PAGES + "_bucketed",
                            bench.KERNEL_PAGE_BUCKETS)
seeds = engine.store.read("pages").select("url").filter(
    ~F.col("url").endswith("robots.txt"))

# warm-up superstep on a slice (same treatment as the scaling legs)
warm_dir = tempfile.mkdtemp(prefix="walker-profjobs-warm-")
warm_engine = CrawlEngine(spark, warm_dir, cfg)
warm_pages = spark.read.parquet(PAGES).limit(2000).localCheckpoint()
warm_engine.store.overwrite("pages", warm_pages)
wb = warm_dir + "/pages_bucketed"
(warm_pages.repartition(bench.KERNEL_PAGE_BUCKETS, F.col("url"))
    .write.mode("overwrite")
    .bucketBy(bench.KERNEL_PAGE_BUCKETS, "url").sortBy("url")
    .option("path", wb).saveAsTable("walker_pages_warm"))
register_bucketed_pages(warm_engine.store, wb, bench.KERNEL_PAGE_BUCKETS)
warm_engine.seed(warm_engine.store.read("pages").select("url").filter(
    ~F.col("url").endswith("robots.txt")))
import walker_spark.operators.fetch as _fetchmod
_g = _fetchmod._SPJ_MIN_BYTES
_fetchmod._SPJ_MIN_BYTES = 0
warm_engine.run(1, start_now_ms=1_700_000_000_000)
_fetchmod._SPJ_MIN_BYTES = _g
spark.sql("DROP TABLE IF EXISTS walker_pages_warm")
shutil.rmtree(warm_dir, ignore_errors=True)

t0 = time.time(); engine.seed(seeds); seed_s = time.time() - t0
crawl_t0 = time.time()
m = engine.run(1, start_now_ms=1_700_000_000_000)
crawl_s = time.time() - crawl_t0
print("RESULT " + json.dumps({"cpus": CPUS, "seed_sec": round(seed_s, 1),
      "crawl_sec": round(crawl_s, 1), "timings": m[0]["fetch"]["timings"],
      "dispatch": m[0]["dispatch"]["timings"] if "timings" in m[0]["dispatch"] else m[0]["dispatch"]}))

def get(path):
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}{path}") as r:
        return json.load(r)

import datetime
def ts(s):
    # e.g. 2026-08-18T06:10:11.123GMT
    return datetime.datetime.strptime(s.replace("GMT", "+0000"),
                                      "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

jobs = sorted(get("/jobs"), key=lambda j: j["jobId"])
crawl_jobs = [j for j in jobs if ts(j["submissionTime"]) >= crawl_t0 - 0.5]
prev_end = crawl_t0
print(f"\n-- job timeline (crawl window, t0={crawl_t0:.1f}) --")
total_gap = total_job = 0.0
for j in crawl_jobs:
    sub, comp = ts(j["submissionTime"]), ts(j.get("completionTime", j["submissionTime"]))
    gap = sub - prev_end
    total_gap += max(0.0, gap); total_job += comp - sub
    name = (j.get("name") or "")[:100]
    print(f"job {j['jobId']:>4} +{sub-crawl_t0:7.2f}s gap {gap:6.2f}s "
          f"dur {comp-sub:7.2f}s tasks {j['numTasks']:>5} {name}")
    prev_end = max(prev_end, comp)
print(f"-- sum job dur {total_job:.1f}s, sum inter-job gap {total_gap:.1f}s, "
      f"crawl wall {crawl_s:.1f}s --")

# stage-level: duration vs executorRunTime/cores for the fat stages
stages = get("/stages?status=complete")
fat = sorted(stages, key=lambda s: -(s.get("executorRunTime", 0)))[:14]
print("\n-- fattest stages (this app, incl. seed/warm) --")
for s in fat:
    if "completionTime" not in s or "firstTaskLaunchedTime" not in s:
        continue
    dur = ts(s["completionTime"]) - ts(s["firstTaskLaunchedTime"])
    run = s["executorRunTime"] / 1000.0
    cpu = s.get("executorCpuTime", 0) / 1e9
    print(f"stage {s['stageId']:>4} dur {dur:7.2f}s execRun {run:7.1f}s "
          f"cpu {cpu:7.1f}s tasks {s['numCompleteTasks']:>5} {s['name'][:80]}")
shutil.rmtree(workdir, ignore_errors=True)
spark.stop()
