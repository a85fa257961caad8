#!/usr/bin/env python
"""Capture .explain('formatted') plans for named queries into files.

Usage:
    python tools/capture_plans.py --repo /root/repo --suffix after \
        --out-dir /root/repo/plans/r16 name [name ...]

--repo selects which checkout's package to import (point it at a git
worktree of the pre-change commit to capture "before" plans); --suffix
names the output files <query>_<suffix>.txt. Plans are captured
statically (no execution) at --sf-dir. Per-run ids (expression ``#N``,
``RDD[N]``, ``plan_id=N``) are masked to ``N`` so two captures of the
same plan, from two checkouts or two sessions, diff cleanly.

The first line of each capture is ``construction_jobs: N``: the number
of Spark jobs that building the DataFrame ran (eager checkpoints, driver
collects), counted with the status tracker under a per-query job group.
"""
from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

ap = argparse.ArgumentParser()
ap.add_argument("--repo", default="/root/repo")
ap.add_argument("--suffix", required=True)
ap.add_argument("--out-dir", required=True)
ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
ap.add_argument("names", nargs="+")
a = ap.parse_args()

_RUN_IDS = re.compile(r"(#|RDD\[|plan_id=)\d+")

sys.path.insert(0, a.repo)
from large_csv_etl_spark.queries import all_queries  # noqa: E402
from large_csv_etl_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="capture_plans")
sc = spark.sparkContext
sc.setLogLevel("ERROR")
os.makedirs(a.out_dir, exist_ok=True)
qs = all_queries()
for name in a.names:
    group = f"capture_plans:{name}"
    try:
        sc.setJobGroup(group, name)
        try:
            df = qs[name](spark, a.sf_dir)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        text = f"construction_jobs: {jobs}\n" + _RUN_IDS.sub(
            r"\1N", buf.getvalue()
        )
    except Exception as exc:  # plan capture must never block the round
        text = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}\n"
    path = os.path.join(a.out_dir, f"{name}_{a.suffix}.txt")
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote {path} ({len(text)} chars)")
