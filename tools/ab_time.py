#!/usr/bin/env python
"""Steal-robust per-query timer: wall + system-wide busy-CPU jiffies.

On a VM with bursty CPU steal, wall-clock alone is unusable for A/B
comparisons. Busy jiffies (user+nice+sys+irq+softirq, NO steal/idle/iowait)
measure work actually executed, which steal cannot inflate. Each query runs
in a fresh JVM: one trivial warm-up, then --runs timed executions; prints
RETIME-style lines with both metrics, plus the steal jiffies observed
during each run (the bracket that says how trustworthy the WALL number is).

--conf k=v (repeatable) forwards session conf overrides to get_spark's
extra_conf — the toggle-only A/B lever (e.g.
--conf spark.sql.join.preferSortMergeJoin=true).
"""
import argparse, json, os, subprocess, sys

# The checkout this file belongs to, so that two checkouts time their own code.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r'''
import sys, time, json
sys.path.insert(0, sys.argv.pop(1))
def cpu():
    with open("/proc/stat") as f:
        p = f.readline().split()
    # user nice system idle iowait irq softirq steal
    v = list(map(int, p[1:9]))
    return v[0]+v[1]+v[2]+v[5]+v[6], v[7]
from large_csv_etl_spark.session import get_spark
from large_csv_etl_spark.queries import all_queries
from large_csv_etl_spark.session import release_blocks
name, sf_dir, runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
conf = json.loads(sys.argv[4]) if len(sys.argv) > 4 else {}
spark = get_spark(app_name="abtime", extra_conf=conf or None)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1000).selectExpr("sum(id)").collect()
q = all_queries()[name]
out = []
for _ in range(runs):
    (b0, s0), t0 = cpu(), time.perf_counter()
    q(spark, sf_dir).collect()
    w = time.perf_counter()-t0
    b1, s1 = cpu()
    out.append((w, b1-b0, s1-s0))
    release_blocks(spark)
print("ABTIME", name,
      " ".join(f"{w:.2f}/{j}/st{s}" for w, j, s in out))
'''

ap = argparse.ArgumentParser()
ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
ap.add_argument("--runs", type=int, default=3)
ap.add_argument("--conf", action="append", default=[],
                help="k=v session conf override (repeatable)")
ap.add_argument("names", nargs="+")
a = ap.parse_args()
conf = dict(kv.split("=", 1) for kv in a.conf)
for n in a.names:
    r = subprocess.run(
        [sys.executable, "-c", CHILD, ROOT, n, a.sf_dir, str(a.runs),
         json.dumps(conf)],
        capture_output=True, text=True)
    for line in r.stdout.splitlines():
        if line.startswith("ABTIME"):
            print(line)
    if r.returncode != 0:
        print(f"ABTIME {n} FAILED", file=sys.stderr)
        sys.stderr.write(r.stderr[-500:])
