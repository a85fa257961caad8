#!/usr/bin/env python3
"""Benchmark of the dirty-CSV pipeline and the query engine.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 8 --trace 0

Run from the repository root. One process, one client, closed loop: the
benchmark builds a session with ``session.get_spark`` on
``local[<cores>]``, runs an untimed cold pass and warm-up pass, then
repeats warm passes of the workload until ``--seconds`` have elapsed and
reports medians, checking every pass's outputs. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it carries the run's noise bracket (cores,
steal share, load average) and, ungated, the wall times ``wall_s`` (one
warm pass) and ``setup_wall_s`` (set-up). Append both lines of several runs
to a file (``>> runs.jsonl``) for ``perfbench/report.py``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that alternates untraced and traced warm passes and reports the
per-layer metrics of the traced ones: spans around the calls into the
repo's modules, the Spark event log, the status tracker per job group and
a streaming query listener. ``--jit c2`` lifts the benchmark's C1 cap on
the JIT (see ``Run.start``), for a side-by-side look at the engine's default
JIT; gated figures are C1 figures.

Inputs come from ``--seed`` alone and are cached under
``.perfbench_work/inputs``; everything a run writes stays under
``.perfbench_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import measure  # noqa: E402
import workloads  # noqa: E402

# Untimed passes between the cold pass and the measured ones: the first
# warm passes still pay JIT compilation, in wall and even more in CPU; with
# the JIT capped at C1 and a 2g heap (see Run.start) the passes after these
# are flat.
WARMUP_PASSES = 2

# Both are CPU seconds of the process tree (this process, its JVM and the
# JVM's Python workers), in which host steal does not count: ``setup_s`` from
# process start to session ready, ``cpu_s`` over one warm pass.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

_LAYER_UNITS = {
    # Wall times of set-up, of a warm pass and of the cold pass follow the
    # host's steal and neighbours: on a shared 4-vCPU VM their spread over
    # seeds reached 0.3-0.5 of the median, so they are recorded but not
    # gated.
    "setup_wall_s": "s",
    "wall_s": "s",
    "cold_pass_s": "s",
    "session.get_spark_s": "s",
    "session.first_action_s": "s",
    "pipeline.run_pipeline_s": "s",
    "pipeline.construct_s": "s",
    "pipeline.self_s": "s",
    "pipeline.post_write_s": "s",
    "pipeline.post_write_jobs": "count",
    "pipeline.post_write_scans": "count",
    "pipeline.rows_written_per_row_scanned": "ratio",
    "io.write_table_s": "s",
    "io.scan_input_mb": "MB",
    "io.scan_rows": "count",
    "io.corrupt_rows": "count",
    "io.upsert_shuffle_write_mb": "MB",
    "io.upsert_rows_dropped": "count",
    "io.write_output_mb": "MB",
    "io.write_files": "count",
    "io.validate_data_integrity_s": "s",
    "io.self_s": "s",
    "transform.rows_in": "count",
    "transform.rows_out": "count",
    "transform.validate_final_data_s": "s",
    "transform.self_s": "s",
    "io.read_transactions_csv.noop_s": "s",
    "transform.transform.noop_s": "s",
    "io.upsert_by_key.noop_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.execute_s": "s",
    "queries.execute_jobs": "count",
    "queries.catalyst_s": "s",
    "queries.checkpoint_calls": "count",
    "queries.checkpoint_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.task_wait_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_mb": "MB",
    "exec.single_task_stages": "count",
    "exec.max_over_median_task": "ratio",
    "exec.failed_tasks": "count",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.state_partitions": "count",
    "streaming.input_rows": "count",
    "python.worker_cpu_s": "s",
    "mem.process_peak_rss_mb": "MB",
    "mem.storage_peak_mb": "MB",
    "host.steal_share": "ratio",
    "host.loadavg": "count",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. Layers
    that a workload does not run report 0."""
    units = dict(_LAYER_UNITS)
    for names in (workloads.LLM_OPS, workloads.STREAMING):
        for q in names:
            units[f"queries.{q}.construct_s"] = "s"
            units[f"queries.{q}.execute_s"] = "s"
    return units


class Run:
    """One benchmark process: session, passes, and the figures they give."""

    def __init__(self, args) -> None:
        self.args = args
        self.workload = workloads.WORKLOADS[args.workload]()
        self.attempted = 0
        self.problems: list[str] = []
        self.tracer = None  # the current pass's tracer, None when untraced

    def start(self, born: float) -> None:
        """Import the program, generate inputs, then build the session.

        Set-up runs from process start to session ready and leaves out only
        the benchmark's own input generation and oracle runs: ``setup_s`` is
        its CPU time, ``setup_wall_s`` its wall time. ``born`` is the
        ``perf_counter`` reading at process start.
        """
        run_dir = os.path.join(WORK, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        self.tmp = os.path.join(run_dir, "tmp")
        os.makedirs(self.tmp)
        tempfile.tempdir = self.tmp
        # the same imports on every workload, inside the set-up window
        import large_csv_etl_spark.queries  # noqa: F401
        from large_csv_etl_spark.session import get_spark

        g_wall, g_cpu = time.perf_counter(), measure.tree_cpu()[0]
        self.workload.prepare(WORK, self.args.seed)
        gen_wall = time.perf_counter() - g_wall
        gen_cpu = measure.tree_cpu()[0] - g_cpu

        cores = len(os.sched_getaffinity(0))
        java = f"-Djava.io.tmpdir={self.tmp}"
        if self.args.jit == "c1":
            # With C2 the warm passes keep speeding up for twenty-odd passes,
            # more than a run can afford, and a run would time the JIT's
            # progress instead of the program.
            java += " -XX:TieredStopAtLevel=1"
        conf = {
            # get_spark's default driver heap is 8g. There G1 keeps resizing
            # the young generation for a dozen warm passes and a pass's CPU
            # drifts down by a factor of three; at 2g it is flat from the
            # second warm pass on, and the JVM stays small on a shared host.
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": java,
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.log_dir = os.path.join(run_dir, "eventlog")
            conf.update(measure.event_log_conf(self.log_dir))
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        t2 = time.perf_counter()
        self.setup = {
            "setup_s": measure.tree_cpu()[0] - gen_cpu,
            "setup_wall_s": t2 - born - gen_wall,
            "session.get_spark_s": t1 - t0,
            "session.first_action_s": t2 - t1,
        }

    def one_pass(self, tracer=None) -> dict:
        """Run and check one pass; wall and CPU cover the pass only."""
        self.tracer = tracer
        cpu0, py0 = measure.tree_cpu()
        start, t0 = time.time(), time.perf_counter()
        results = self.workload.run_pass(self.spark, tracer or workloads.NoTrace())
        wall = time.perf_counter() - t0
        end = time.time()
        if tracer:
            tracer.group("after")  # later jobs of this thread count nowhere
        cpu1, py1 = measure.tree_cpu()
        self.tracer = None
        n, bad = self.workload.check(results)
        self.attempted += n
        self.problems += bad
        return {
            "wall": wall, "cpu": cpu1 - cpu0, "py_cpu": py1 - py0,
            "start": start, "end": end, "results": results,
        }

    def stop(self) -> None:
        """Stop the session, end the JVM and its Python workers, and wait
        for all of them before removing the run's scratch files."""
        from pyspark import SparkContext

        self.spark.stop()
        children = measure.descendants()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on end of input
            gateway.proc.wait(timeout=60)
        measure.wait_gone(children, timeout=30)
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)


def timed(run: Run) -> dict[str, float]:
    for _ in range(1 + WARMUP_PASSES):  # cold and warm-up
        run.one_pass()
    warm = []
    deadline = time.perf_counter() + run.args.seconds
    while not warm or time.perf_counter() < deadline:
        warm.append(run.one_pass())
    return {
        "setup_s": run.setup["setup_s"],
        "setup_wall_s": run.setup["setup_wall_s"],
        "cpu_s": statistics.median(p["cpu"] for p in warm),
        "wall_s": statistics.median(p["wall"] for p in warm),
    }


def traced(run: Run) -> dict[str, float]:
    """Alternate untraced and traced warm passes; per-layer figures are the
    median over traced passes."""
    spark = run.spark
    spans = measure.Spans()
    measure.instrument(lambda: run.tracer)
    measure.instrument_checkpoints(spark, lambda: run.tracer)
    listener = measure.streaming_listener()
    spark.streams.addListener(listener)

    cold = run.one_pass()
    for _ in range(WARMUP_PASSES):  # untraced, like the cold pass
        run.one_pass()
    plain, traced_passes = [], []
    deadline = time.perf_counter() + run.args.seconds
    while time.perf_counter() < deadline or not traced_passes:
        if len(plain) <= len(traced_passes):
            plain.append(run.one_pass())
            continue
        tr = measure.Tracer(spark, spans, len(traced_passes))
        p = run.one_pass(tr)
        p["tracer"] = tr
        p["spark"] = _live_counters(run, tr, p)
        if isinstance(run.workload, workloads.EtlPipeline):
            p["spark"].update(run.workload.probe(spark))
        traced_passes.append(p)

    _wait_for_listener(listener)
    spark.streams.removeListener(listener)
    for p in traced_passes:
        # a stream's jobs run under its run id as job group, started while
        # the query was being built
        runs = [r for at, r in listener.started if p["start"] <= at <= p["end"]]
        if runs and "queries.construct_jobs" in p["spark"]:
            p["spark"]["queries.construct_jobs"] += measure.job_count(spark, runs)
    rss = measure.peak_rss_mb()
    spark.stop()
    log = measure.EventLog(run.log_dir)
    spans.dump(os.path.join(WORK, "traces", f"{run.args.workload}-seed{run.args.seed}.jsonl"))

    per_pass = []
    for p in traced_passes:
        m = dict(p["spark"])
        m.update(_exec_counters(log, spans, listener, p))
        m["python.worker_cpu_s"] = p["py_cpu"]
        per_pass.append(m)
    out = {k: 0.0 for k in per_layer_units()}
    for k in per_pass[0]:
        out[k] = statistics.median(m[k] for m in per_pass)
    out["setup_wall_s"] = run.setup["setup_wall_s"]
    out["session.get_spark_s"] = run.setup["session.get_spark_s"]
    out["session.first_action_s"] = run.setup["session.first_action_s"]
    out["mem.process_peak_rss_mb"] = rss
    out["cold_pass_s"] = cold["wall"]
    out["wall_s"] = statistics.median(p["wall"] for p in plain)
    out["trace.overhead_s"] = statistics.median(p["wall"] for p in traced_passes) - out["wall_s"]
    return out


def _live_counters(run: Run, tr, p) -> dict[str, float]:
    """Figures that need the live session: spans, job-group counts, plan
    phases, storage and the written table."""
    spans, i = tr.spans, tr.pass_id
    m: dict[str, float] = {"mem.storage_peak_mb": tr.storage_peak_mb}
    selfs = spans.self_times(i)
    if isinstance(run.workload, workloads.EtlPipeline):
        (report,) = p["results"]
        if isinstance(report, Exception):  # counted as failed; no layer figures
            return m
        obs = tr.observed
        out = run.workload.out
        files = [f for f in os.listdir(out) if f.startswith("part-")]
        written = report["stats"]["processed_rows"]
        total = spans.total(i, "pipeline.run_pipeline")
        construct = sum(
            spans.total(i, n)
            for n in ("io.read_transactions_csv", "transform.observed_pipeline", "io.upsert_by_key")
        )
        write = spans.total(i, "io.write_table")
        post = spans.total(i, "pipeline.post_write")
        m.update({
            "pipeline.run_pipeline_s": total,
            "pipeline.construct_s": construct,
            # run_pipeline's own span minus its children: the lazy builders,
            # the write and the post-write span
            "pipeline.self_s": total - construct - write - post,
            "pipeline.post_write_s": post,
            "pipeline.post_write_jobs": tr.jobs(":post_write"),
            "io.write_table_s": write,
            "io.validate_data_integrity_s": spans.total(i, "io.validate_data_integrity"),
            "io.self_s": selfs.get("io", 0.0),
            "io.upsert_rows_dropped": obs["processed_rows"] - written,
            "io.write_output_mb": sum(os.path.getsize(os.path.join(out, f)) for f in files) / 2**20,
            "io.write_files": len(files),
            "transform.rows_in": obs["original_rows"],
            "transform.rows_out": obs["processed_rows"],
            "transform.validate_final_data_s": spans.total(i, "transform.validate_final_data"),
            "transform.self_s": selfs.get("transform", 0.0),
        })
    else:
        m.update({
            "queries.construct_s": spans.total(i, "queries.construct"),
            "queries.construct_jobs": tr.jobs(":construct"),
            "queries.execute_s": spans.total(i, "queries.execute"),
            "queries.execute_jobs": tr.jobs(":execute"),
            "queries.catalyst_s": sum(
                measure.catalyst_s(df) for _, df, _ in p["results"] if df is not None
            ),
            "queries.checkpoint_calls": spans.count(i, "queries.helpers.local_checkpoint"),
            "queries.checkpoint_s": spans.total(i, "queries.helpers.local_checkpoint"),
        })
        for q in run.workload.queries:
            m[f"queries.{q}.construct_s"] = spans.total(i, "queries.construct", query=q)
            m[f"queries.{q}.execute_s"] = spans.total(i, "queries.execute", query=q)
    return m


def _exec_counters(log, spans, listener, p) -> dict[str, float]:
    """Event-log and listener figures of one traced pass, by time window."""
    i = p["tracer"].pass_id
    m = log.exec_metrics(log.jobs_in(p["start"], p["end"]))
    m.update(measure.streaming_metrics(
        [x for x in listener.progress if p["start"] <= x["at"] <= p["end"]]
    ))
    if "transform.rows_in" in p["spark"]:  # a pipeline pass that succeeded
        (w,) = spans.windows(i, "io.write_table")
        tasks = log.tasks_of(log.jobs_in(*w))
        rows = sum(t["input_records"] for t in tasks)
        m["io.scan_input_mb"] = sum(t["input_bytes"] for t in tasks) / 2**20
        m["io.scan_rows"] = rows
        m["io.corrupt_rows"] = rows - p["spark"]["transform.rows_in"]
        m["io.upsert_shuffle_write_mb"] = sum(t["shuffle_write"] for t in tasks) / 2**20
        m["pipeline.rows_written_per_row_scanned"] = (
            p["results"][0]["stats"]["processed_rows"] / rows if rows else 0.0
        )
        (pw,) = spans.windows(i, "pipeline.post_write")
        m["pipeline.post_write_scans"] = len(
            {t["stage"] for t in log.tasks_of(log.jobs_in(*pw)) if t["input_bytes"] > 0}
        )
    return m


def _wait_for_listener(listener, quiet: float = 0.5, limit: float = 5.0) -> None:
    """Listener callbacks arrive asynchronously; wait until none has
    arrived for ``quiet`` seconds."""
    t_end = time.time() + limit
    seen = -1
    while time.time() < t_end and seen != len(listener.progress):
        seen = len(listener.progress)
        time.sleep(quiet)


def main(argv: list[str] | None = None) -> int:
    born = time.perf_counter() - measure.process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--jit", choices=("c1", "c2"), default="c1")
    args = ap.parse_args(argv)
    host0 = measure.cpu_stat()

    run = Run(args)
    run.start(born)
    try:
        metrics = traced(run) if args.trace else timed(run)
    finally:
        run.stop()
    bracket = measure.host_bracket(host0)
    if args.trace:
        metrics["host.steal_share"] = bracket["steal_share"]
        metrics["host.loadavg"] = bracket["loadavg"]
    units = per_layer_units() if args.trace else END_TO_END
    failed = len(run.problems)
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    for problem in run.problems:
        print(f"perfbench: {problem}", file=sys.stderr)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "jit": args.jit,
        **bracket,
    }
    if not args.trace:
        context["ungated"] = {k: {"value": metrics[k], "unit": "s"} for k in ("wall_s", "setup_wall_s")}
    print(json.dumps({"bracket": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
