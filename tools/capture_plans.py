#!/usr/bin/env python
"""Capture .explain('formatted') plans for named queries into files.

Usage:
    python tools/capture_plans.py --repo /root/repo --suffix after \
        --out-dir /root/repo/plans/r16 name [name ...]

--repo selects which checkout's package to import (point it at a git
worktree of the pre-change commit to capture "before" plans); --suffix
names the output files <query>_<suffix>.txt. Plans are captured
statically (no execution) at --sf-dir. Per-run ids (expression ``#N``,
``RDD[N]``, ``plan_id=N``, the ``_N`` suffix of a Python lambda
variable and a ``localCheckpoint`` call site) are masked by
``mask_run_ids`` so two captures of the same plan, from two checkouts
or two sessions, diff cleanly.

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

_RUN_IDS = re.compile(r"(#|RDD\[|plan_id=)\d+")
# a Python F.transform lambda names its variable x_<N>, a SQL-string
# lambda plain x
_LAMBDA_VAR = re.compile(r"\blambda (\w+?)_\d+#")
# the call site Spark records for a localCheckpoint RDD depends on how
# the call reached the JVM
_CALL_SITE = re.compile(r"(at localCheckpoint at )\S+:\d+")


def mask_run_ids(text: str) -> str:
    """``text`` with every per-run id masked to ``N``: expression ids,
    RDD ids, plan ids, Python lambda variable suffixes, and the call site
    of a ``localCheckpoint`` scan."""
    for var in set(_LAMBDA_VAR.findall(text)):
        text = re.sub(rf"\b{var}_\d+#", f"{var}#", text)
    text = _CALL_SITE.sub(r"\1N", text)
    return _RUN_IDS.sub(r"\1N", text)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="+")
    a = ap.parse_args()

    sys.path.insert(0, a.repo)
    from large_csv_etl_spark.queries import all_queries
    from large_csv_etl_spark.session import get_spark

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
            text = f"construction_jobs: {jobs}\n" + mask_run_ids(buf.getvalue())
        except Exception as exc:  # plan capture must never block the round
            text = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}\n"
        path = os.path.join(a.out_dir, f"{name}_{a.suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)")


if __name__ == "__main__":
    main()
