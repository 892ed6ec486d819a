"""Lakehouse benchmark entry point.

    python3 lakebench/run.py --workload nightly_delta --seed 3 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` runs the workload once,
untraced, for ``--seconds`` of step time and reports the end-to-end
metrics. ``--trace 1`` runs a fixed number of the workload's units
twice in one JVM — first untraced, then traced (job groups, boundary
materialization, event log) — and reports the per-layer metrics folded
from the event log plus the tracing overhead. Both modes check the
program's outputs. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Progress, host
context and failures go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CPUS = "4"          # local[4]: the benchmark's fixed parallelism
# units of work in each pass of a traced run: enough to reach every
# special step (the replayed day or batch, the correction day)
TRACE_UNITS = {"season_backfill": 2, "nightly_delta": 3, "corpus_ingest": 3}
END_TO_END = ("setup_s", "rows_per_s", "step_p50_s", "success_frac",
              "disk_bytes_per_row")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(TRACE_UNITS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark driver
    JVM and its Python workers), polled from /proc."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        parent = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                    parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        me, kids, frontier = os.getpid(), set(), {os.getpid()}
        while frontier:
            frontier = {p for p, pp in parent.items() if pp in frontier and p not in kids}
            kids |= frontier
        total = 0
        for pid in kids - {me}:
            try:
                with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.wait(self.period):
            self.peak_kb = max(self.peak_kb, self._sample())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(values)
    if n < 20:
        return None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(values)[n - 11]


def dir_bytes(paths: list[str]) -> int:
    total = 0
    for path in paths:
        for root, _, names in os.walk(path):
            for n in names:
                total += os.path.getsize(os.path.join(root, n))
    return total


def stop_jvm() -> None:
    """End the Spark driver JVM (and with it the Python workers) and
    wait for it: ``SparkSession.stop`` leaves the gateway process up
    until this interpreter exits. The gateway exits when its stdin
    closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def log(msg: str) -> None:
    print(f"lakebench: {msg}", file=sys.stderr, flush=True)


def one_pass(W, args, work: str, trace: bool, units: int | None) -> dict:
    """Session start, set-up, the timed closed loop and the output
    checks of one workload pass. ``units`` fixes the number of units of
    work; otherwise the loop runs until ``--seconds`` of step time."""
    import tracing
    import workloads as wk
    from nba_data_pipeline_spark.sinks import snapshot

    work = os.path.join(work, "traced" if trace else "plain")
    tracer = tracing.Tracer(trace)
    event_dir = os.path.join(work, "eventlog") if trace else None
    t0 = time.perf_counter()
    spark = wk.start_session(tracer, work, event_dir)
    session_s = time.perf_counter() - t0
    ctx = wk.Ctx(spark, tracer, work, args.seed)
    tracer.install()
    try:
        wl = W()
        t = time.perf_counter()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t
        log(f"setup {setup_s:.3f}s")
        tracer.timed = True
        i = 0
        while (i < units) if units is not None else (i < W.min_units or ctx.busy < args.seconds):
            wl.unit(ctx, i)
            i += 1
        tracer.timed = False
        roots = wl.table_roots(ctx)
        disk = dir_bytes(roots)
        live = sum(snapshot.snapshot_history(p)[-1]["rows"] for p in roots
                   if snapshot.current_version(p) > 0)
        rows = pairs = 0
        if not trace:  # the traced pass only feeds the event log
            rows = ctx.rows
            pairs = wl.pairs_found(ctx) if hasattr(wl, "pairs_found") else 0
            wl.verify(ctx)
    finally:
        tracer.uninstall()
        spark.stop()
    return dict(ctx=ctx, tracer=tracer, event_dir=event_dir, session_s=session_s,
                setup_s=setup_s, units=i, disk=disk, live=live, rows=rows, pairs=pairs)


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "nba_data_pipeline_spark")):
        log(f"package nba_data_pipeline_spark not found under {REPO}; "
            "run from a checkout of the repository")
        return 2
    work = os.path.join(REPO, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(filter(None, (REPO, os.environ.get("PYTHONPATH")))),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files outside the checkout, for the launcher JVM too
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    sys.path[:0] = [REPO, HERE]
    import tracing
    import workloads as wk

    host = {"nproc": os.cpu_count(), "loadavg_start": os.getloadavg(), "seed": args.seed,
            "workload": args.workload, "seconds": args.seconds, "trace": args.trace}
    W = wk.WORKLOADS[args.workload]
    try:
        with RssSampler() as rss:
            if args.trace:
                # untraced first: its set-up warms the JVM for both passes
                plain = one_pass(W, args, work, False, TRACE_UNITS[args.workload])
                traced = one_pass(W, args, work, True, plain["units"])
            else:
                plain = one_pass(W, args, work, False, None)
        passes = [plain] + ([traced] if args.trace else [])
        steps = [s for p in passes for s in p["ctx"].steps]
        checks = [c for p in passes for c in p["ctx"].checks]
        attempted = len(steps) + len(checks)
        failed = sum(not ok for *_, ok in steps) + sum(not ok for _, ok in checks)
        ctx = plain["ctx"]
        step_s = [s for _, s, _ in ctx.steps]
        tail = tail_percentile(step_s)
        host.update(loadavg_end=os.getloadavg(), peak_rss_mb=rss.peak_kb / 1024.0,
                    units=plain["units"], steps=len(step_s),
                    step_tail=None if tail is None else {"pct": tail[0], "s": tail[1]},
                    checks=len(checks), failed=failed)
        if args.trace:
            layer, cov = tracing.fold(traced["event_dir"], traced["tracer"].spans)
            layer["streaming.ops.near_dedup.pairs_found"] = plain["pairs"]
            layer["trace_overhead_frac"] = traced["ctx"].busy / ctx.busy - 1.0
            layer["trace_job_coverage"] = cov["coverage"]
            host.update(trace_jobs=cov["jobs"], trace_named_jobs=cov["named_jobs"],
                        trace_check_jobs=cov["check_jobs"])
            metrics = {n: {"value": layer[n], "unit": u}
                       for n, u in tracing.layer_metric_names()}
        else:
            values = {
                "setup_s": (plain["session_s"] + plain["setup_s"], "s"),
                "rows_per_s": (plain["rows"] / ctx.busy, "rows/s"),
                "step_p50_s": (statistics.median(step_s), "s"),
                "success_frac": (1.0 - failed / attempted, "frac"),
                "disk_bytes_per_row": (plain["disk"] / max(plain["live"], 1), "bytes/row"),
            }
            metrics = {n: {"value": values[n][0], "unit": values[n][1]} for n in END_TO_END}
            host.update(session_s=plain["session_s"], setup_s=plain["setup_s"])
        log("host " + json.dumps(host))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
