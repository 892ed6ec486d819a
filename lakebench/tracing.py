"""Spans around the package's public calls, and the event-log fold that
turns them into the per-layer table.

A traced run tags every Spark job with the span that launched it
(``setJobGroup`` with a per-instance group id), materializes each lazy
layer's output at its boundary so the layer's work runs inside its own
span, and writes an uncompressed Spark event log. ``fold`` then reads
that log with the stdlib only and charges each job, stage and task to
its span.

With tracing off, ``Tracer`` is a no-op: nothing is patched, no job
group is set and nothing is materialized.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

SPANS = (
    "core.session",
    "sources.resultset",
    "plans.nba_pipelines",
    "operators.lineups",
    "operators.incremental",
    "sinks.store.read",
    "sinks.store.upsert",
    "streaming.ops.ingest",
    "operators.text.gate",
    "streaming.ops.near_dedup",
    "streaming.ops.quality_score",
)
# the benchmark's own checks: traced, but outside every layer and
# outside the job-coverage count
HARNESS_SPAN = "lakebench.check"
FIELDS = (
    ("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"), ("jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
    ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
)
COUNTS = (
    ("sinks.store.upsert.bytes_written", "bytes"),
    ("sinks.store.upsert.files_written", "count"),
    ("sinks.store.replay.jobs", "count"),
    ("streaming.ops.near_dedup.pairs_found", "count"),
    ("trace_overhead_frac", "frac"),
    ("trace_job_coverage", "frac"),
)


def layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    return [(f"{s}.{f}", u) for s in SPANS for f, u in FIELDS] + list(COUNTS)


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    timed: bool = True          # inside the timed phase (core.session always counts)
    replay: bool = False        # opened while a replayed step runs
    files: int = 0
    bytes: int = 0
    children: list = field(default_factory=list)


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with contextlib.suppress(FileNotFoundError):
                out[p] = os.path.getsize(p)
    return out


class Tracer:
    """Span recorder. ``enabled=False`` makes every method a pass-through."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.timed = False
        self.replay = False
        self._patched: list = []

    def bind(self, spark) -> None:
        self.spark = spark

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        in_harness = name == HARNESS_SPAN or any(
            self.spans[i].name == HARNESS_SPAN for i in self.stack
        )
        sp = Span(name, f"{name}#{idx}", parent, time.time(),
                  timed=(self.timed or name == "core.session") and not in_harness,
                  replay=self.replay)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self.stack.append(idx)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.stack.pop()
            if self.spark is not None:
                sc = self.spark.sparkContext
                if self.stack:
                    sc.setJobGroup(self.spans[self.stack[-1]].group,
                                   self.spans[self.stack[-1]].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df):
        """Run a lazy layer output at its boundary (traced runs only)."""
        if not self.enabled:
            return df
        return df.localCheckpoint(eager=True)

    # -- patching the package's own seams ------------------------------

    def _wrap(self, module, attr: str, span_name: str, materialize: bool = False,
              count_files: bool = False):
        """Replace ``module.attr`` with a spanned call. ``count_files``
        counts the files a table write adds under its ``path`` (the
        third argument of ``upsert_store``)."""
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as sp:
                before = None
                if count_files:
                    path = kwargs["path"] if "path" in kwargs else args[2]
                    before = _tree_files(path)
                out = orig(*args, **kwargs)
                if materialize and out is not None:
                    out = tracer.materialize(out)
                if before is not None:
                    after = _tree_files(path)
                    new = [p for p in after if p not in before]
                    sp.files += len(new)
                    sp.bytes += sum(after[p] for p in new)
                return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def install(self) -> None:
        """Patch the package functions that other package functions
        look up by module attribute at call time, so calls made inside
        the package (``corpus_ingest_batch``'s stages, the lineup
        engine behind ``play_by_play_with_players``, every table
        read and upsert) open their own spans."""
        if not self.enabled:
            return
        from nba_data_pipeline_spark.operators import lineups, text
        from nba_data_pipeline_spark.sinks import store
        from nba_data_pipeline_spark.streaming import ops

        self._wrap(lineups, "lineups_via_range_join", "operators.lineups", materialize=True)
        self._wrap(text, "gopher_rules", "operators.text.gate", materialize=True)
        self._wrap(ops, "near_dedup_batch", "streaming.ops.near_dedup")
        self._wrap(ops, "quality_score_batch", "streaming.ops.quality_score")
        self._wrap(store, "read_store", "sinks.store.read")
        self._wrap(store, "upsert_store", "sinks.store.upsert", count_files=True)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()


# -- event-log fold ---------------------------------------------------------


def _read_events(log_dir: str):
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    for p in files:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(log_dir: str, spans: list[Span]) -> tuple[dict, dict]:
    """Event log + recorded spans -> (per-layer metrics, coverage info).

    Jobs, stages and tasks are charged to the innermost span open when
    the job started (its job group). ``wall_s`` is inclusive of child
    spans; ``self_s``, ``driver_s`` and every count are exclusive.
    ``driver_s`` is the span's own time during which none of its
    jobs ran."""
    by_group = {sp.group: i for i, sp in enumerate(spans)}
    job_group, job_iv, stage_group = {}, {}, {}
    per_span = [dict(jobs=0, stages=0, tasks=0, cpu_ns=0, shuffle=0, spill=0)
                for _ in spans]
    total_jobs = 0
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            total_jobs += 1
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[ev["Job ID"]] = g
            job_iv[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
            if g in by_group:
                per_span[by_group[g]]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_iv:
                job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
            if g in by_group:
                per_span[by_group[g]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if g not in by_group:
                continue
            acc = per_span[by_group[g]]
            acc["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            acc["cpu_ns"] += m.get("Executor CPU Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle"] += sw.get("Shuffle Bytes Written", 0)
            acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    jobs_by_span: dict[int, list] = {}
    for j, g in job_group.items():
        if g in by_group and job_iv[j][1] is not None:
            jobs_by_span.setdefault(by_group[g], []).append(tuple(job_iv[j]))

    out = {}
    for name in SPANS:
        agg = dict(wall_s=0.0, self_s=0.0, driver_s=0.0, jobs=0, stages=0, tasks=0,
                   task_cpu_s=0.0, shuffle_bytes=0, spill_bytes=0)
        for i, sp in enumerate(spans):
            if sp.name != name or not sp.timed:
                continue
            wall = sp.end - sp.start
            kids = [(spans[c].start, spans[c].end) for c in sp.children]
            own = wall - _union_len(kids)
            # own job time: this span's jobs, clipped to its own
            # (non-child) intervals
            own_jobs = [(max(s, sp.start), min(e, sp.end)) for s, e in jobs_by_span.get(i, [])]
            busy = _union_len([iv for iv in own_jobs if iv[1] > iv[0]])
            acc = per_span[i]
            agg["wall_s"] += wall
            agg["self_s"] += own
            agg["driver_s"] += max(0.0, own - busy)
            agg["jobs"] += acc["jobs"]
            agg["stages"] += acc["stages"]
            agg["tasks"] += acc["tasks"]
            agg["task_cpu_s"] += acc["cpu_ns"] / 1e9
            agg["shuffle_bytes"] += acc["shuffle"]
            agg["spill_bytes"] += acc["spill"]
        for k, v in agg.items():
            out[f"{name}.{k}"] = v
    up = [(i, sp) for i, sp in enumerate(spans) if sp.name == "sinks.store.upsert" and sp.timed]
    out["sinks.store.upsert.bytes_written"] = sum(sp.bytes for _, sp in up)
    out["sinks.store.upsert.files_written"] = sum(sp.files for _, sp in up)
    out["sinks.store.replay.jobs"] = sum(
        per_span[i]["jobs"] for i, sp in enumerate(spans) if sp.replay and sp.timed
    )
    harness = sum(1 for g in job_group.values()
                  if g in by_group and spans[by_group[g]].name == HARNESS_SPAN)
    named = sum(1 for g in job_group.values() if g in by_group) - harness
    program = total_jobs - harness
    coverage = named / program if program else 1.0
    return out, {"jobs": program, "named_jobs": named, "check_jobs": harness,
                 "coverage": coverage}
