#!/usr/bin/env python
"""Per-stage profile of ONE engine superstep (dispatch + fetch) at two
parallelism levels over the shared fixtures/bench-corpus. Dev tool for
the engine-scaling work: prints the dispatch and fetch `timings` dicts
side by side so the non-scaling terms are named, not guessed.

Usage: python scripts/profile_superstep.py [cpus ...]   (default: 1 4)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGES = os.path.join(REPO, "fixtures", "bench-corpus", "pages")

STEP = r"""
import json, sys, tempfile, shutil, time
sys.path.insert(0, {repo!r})
import bench
from pyspark.sql import functions as F
from walker_spark.config import FrontierConfig, WalkerConfig
from walker_spark.streaming.loop import CrawlEngine

cpus = {cpus}
spark = bench.build_spark(cpus)
spark.sparkContext.setLogLevel("ERROR")
workdir = tempfile.mkdtemp(prefix="walker-prof-")
cfg = WalkerConfig(frontier=FrontierConfig(num_domain_buckets=2 * cpus,
                                           claim_limit=100000))
engine = CrawlEngine(spark, workdir, cfg)
engine.store.overwrite("pages", spark.read.parquet({pages!r}))
from walker_spark.operators.fetch import register_bucketed_pages
import os as _os
if _os.path.isdir({pages!r} + "_bucketed"):
    register_bucketed_pages(engine.store, {pages!r} + "_bucketed",
                            bench.KERNEL_PAGE_BUCKETS)
seeds = engine.store.read("pages").select("url").filter(
    ~F.col("url").endswith("robots.txt"))
t0 = time.time(); engine.seed(seeds); seed_s = time.time() - t0
t0 = time.time()
m = engine.run(1, start_now_ms=1_700_000_000_000)
crawl_s = time.time() - t0
out = {{"cpus": cpus, "seed_sec": round(seed_s, 1),
       "crawl_sec": round(crawl_s, 1),
       "dispatch": m[0]["dispatch"].get("timings"),
       "fetch": m[0]["fetch"].get("timings"),
       "fetched": m[0]["fetch"].get("fetched"),
       "outlinks_new": m[0]["fetch"].get("outlinks_new")}}
print("RESULT " + json.dumps(out))
shutil.rmtree(workdir, ignore_errors=True)
"""


def main():
    levels = [int(a) for a in sys.argv[1:]] or [1, 4]
    results = {}
    for cpus in levels:
        print(f"== superstep local[{cpus}] ==", file=sys.stderr)
        proc = subprocess.run(
            [sys.executable, "-c", STEP.format(repo=REPO, cpus=cpus, pages=PAGES)],
            capture_output=True, text=True, timeout=3600, cwd=REPO,
        )
        res = None
        for line in proc.stdout.splitlines():
            if line.startswith("RESULT "):
                res = json.loads(line[len("RESULT "):])
        if res is None:
            print(proc.stdout[-2000:], file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
            raise RuntimeError("no RESULT")
        print(json.dumps(res, indent=2))
        results[cpus] = res
    if len(levels) == 2:
        lo, hi = levels
        a, b = results[lo], results[hi]
        print(f"\nwall {a['crawl_sec']} -> {b['crawl_sec']}  "
              f"speedup {a['crawl_sec']/b['crawl_sec']:.2f}x  "
              f"eff {a['crawl_sec']/(b['crawl_sec']*hi/lo):.3f}")
        for side in ("dispatch", "fetch"):
            for k in (a[side] or {}):
                va, vb = a[side][k], (b[side] or {}).get(k, float("nan"))
                print(f"  {side}.{k:<18} {va:>7.2f} -> {vb:>7.2f}  "
                      f"({(va/vb if vb else float('inf')):.2f}x)")


if __name__ == "__main__":
    main()
