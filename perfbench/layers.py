"""Per-layer metrics of a traced run: Spark's event log folded into the
benchmark's spans, plus the program's own records (meta.json stage_sec,
fsck.store_report) and the serving latencies.

Jobs are attributed to a span by submission time, not by job group:
build_index and compact_store submit some jobs from driver threads, which
need not carry the caller's job group. The client is a single closed loop,
so every job submitted while a span is open belongs to it.

The driver time of a span, its wall outside every Spark job, is split by
sampling the main thread's stack (Sampler): time waiting on the JVM
through py4j (query planning and analysis, job submission) and time in
Python on the driver (the library and pyspark).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import numpy as np

# span groups whose Spark jobs are reported per group
SPARK_GROUPS = ("build", "wand.batch", "wand.topk", "wand.lsm_topk",
                "append", "compact")
QUERY_GROUPS = ("wand.batch", "wand.topk", "wand.lsm_topk")
PY_ACCUMS = {
    "time to start Python workers": "python_worker_start_s",
    "time to initialize Python workers": "python_worker_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
# per-layer metric suffix -> the group total it reports
BOUNDARY = {"executor_cpu_s": "cpu_s", "gc_s": "gc_s",
            "shuffle_write_bytes": "shuffle_write_bytes",
            **{v: v for v in PY_ACCUMS.values()},
            "failed_tasks": "failed_tasks"}
STAGE_SEC = {  # build_index's meta stage_sec keys -> layer metric
    "assign_docids": "docid.assign_s",
    "stage_write": "spimi.stage_write_s",
    "spimi": "spimi.kernel_s",
    "term_stats+compact_write": "spimi.merge_write_s",
}


# innermost package on the main thread's stack -> what the driver is doing
STACK_ROOTS = {"py4j": "jvm", "pyspark": "python",
               "visionsearch_spark": "python", "perfbench": "bench"}
DRIVER_LABELS = ("jvm", "python")  # the driver time a layer accounts for


class Sampler:
    """Samples the main thread's stack every interval_s seconds, each
    sample labelled by stack_label: (epoch time, label)."""

    def __init__(self, interval_s: float = 0.005):
        self.interval_s = interval_s
        self.samples: list[tuple[float, str]] = []
        self._main = threading.main_thread().ident
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            frame = sys._current_frames().get(self._main)
            self.samples.append((time.time(), stack_label(frame)))


def stack_label(frame) -> str:
    """The STACK_ROOTS label of the innermost frame whose file lies in one
    of its packages; frames of other modules (the standard library,
    pandas) count for the package that called them."""
    while frame is not None:
        for part in reversed(frame.f_code.co_filename.split(os.sep)):
            if part in STACK_ROOTS:
                return STACK_ROOTS[part]
        frame = frame.f_back
    return "other"


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """(jobs, stages) from every event file under log_dir.

    jobs:   id -> {"submit": s, "end": s, "stages": [ids]}
    stages: id -> totals over the stage's tasks"""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "tasks": 0, "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "sched_delay_s": 0.0, "shuffle_write_bytes": 0,
            "input_bytes": 0, "output_bytes": 0,
            **{v: 0.0 for v in PY_ACCUMS.values()},
        })

    for dirpath, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = {
                            "submit": ev["Submission Time"] / 1e3,
                            "end": None, "stages": list(ev["Stage IDs"])}
                    elif kind == "SparkListenerJobEnd":
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        _fold_task(stage(ev["Stage ID"]), ev)
    return jobs, stages


def _fold_task(st: dict, ev: dict) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
        st["failed_tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    st["run_s"] += run_ms / 1e3
    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    busy_ms = (run_ms + m.get("Executor Deserialize Time", 0)
               + m.get("Result Serialization Time", 0)
               + info.get("Getting Result Time", 0))
    st["sched_delay_s"] += max(
        0, info["Finish Time"] - info["Launch Time"] - busy_ms) / 1e3
    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st["output_bytes"] += (m.get("Output Metrics") or {}).get(
        "Bytes Written", 0)
    # the Python-boundary SQL metrics, as this task's own updates (a
    # stage's accumulable values are running totals of the plan node)
    for acc in info.get("Accumulables", []):
        key = PY_ACCUMS.get(acc.get("Name"))
        if key and "Update" in acc:
            v = float(acc["Update"])
            st[key] += v / 1e3 if key.endswith("_s") else v


def _merge(intervals: list[tuple[float, float]]) -> list[list[float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _outside(a: float, b: float, merged: list[list[float]]) -> float:
    """Length of [a, b] outside the merged intervals."""
    return max(0.0, b - a) - sum(max(0.0, min(b, e) - max(a, s))
                                 for s, e in merged)


def fold_groups(spans, jobs: dict, stages: dict,
                samples: list[tuple[float, str]]) -> dict[str, dict]:
    """Totals per span group: wall, job time (union of job intervals
    inside the span), driver time (the rest) and the part of it the stack
    samples attribute to each DRIVER_LABELS label, jobs, and the task and
    Python-boundary totals of the jobs' stages."""
    # event times have millisecond resolution
    eps = 2e-3
    owner: dict[int, int] = {}  # stage -> first job listing it (ran it)
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    times = np.asarray([t for t, _l in samples], dtype=np.float64)
    groups: dict[str, dict] = {}
    for sp in spans:
        g = groups.setdefault(sp.name, {
            "spans": 0, "units": 0, "wall_s": 0.0, "job_s": 0.0,
            "driver_s": 0.0, **{f"driver_{x}_s": 0.0 for x in DRIVER_LABELS},
            "jobs": 0, "tasks": 0, "failed_tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "sched_delay_s": 0.0,
            "shuffle_write_bytes": 0, "input_bytes": 0, "output_bytes": 0,
            **{v: 0.0 for v in PY_ACCUMS.values()},
        })
        wall = sp.end - sp.start
        g["spans"] += 1
        g["units"] += sp.units
        g["wall_s"] += wall
        mine = [j for j, job in jobs.items()
                if sp.start - eps <= job["submit"] <= sp.end + eps]
        g["jobs"] += len(mine)
        intervals = [(max(jobs[j]["submit"], sp.start),
                      min(jobs[j]["end"] or sp.end, sp.end)) for j in mine]
        merged = _merge(intervals)
        job_s = min(wall, sum(e - s for s, e in merged))
        g["job_s"] += job_s
        g["driver_s"] += wall - job_s
        # each stack sample stands for the time since the one before it;
        # the part of that time inside the span and outside its jobs goes
        # to the sample's label. Driver time no sample reaches, or that
        # the benchmark's own code takes, goes to no label.
        lo, hi = np.searchsorted(times, [sp.start, sp.end])
        for i in range(lo, min(hi + 1, len(samples))):
            if samples[i][1] in DRIVER_LABELS:
                prev = times[i - 1] if i else sp.start
                g[f"driver_{samples[i][1]}_s"] += _outside(
                    max(prev, sp.start), min(times[i], sp.end), merged)
        for j in mine:
            for sid in jobs[j]["stages"]:
                if owner.get(sid) != j or sid not in stages:
                    continue
                for key, v in stages[sid].items():
                    g[key] += v
    return groups


def _median(spans, name: str) -> float:
    walls = [sp.end - sp.start for sp in spans if sp.name == name]
    return float(np.median(walls)) if walls else 0.0


def layer_metrics(spans, jobs: dict, stages: dict, facts: dict,
                  samples: list[tuple[float, str]]) -> dict:
    """The per_layer metrics of BENCHMARK.json, by name."""
    groups = fold_groups(spans, jobs, stages, samples)
    empty = {"spans": 0, "units": 0}
    out: dict[str, float] = {}
    ss = facts["stage_sec"]
    for key, name in STAGE_SEC.items():
        out[name] = float(ss.get(key, 0.0))

    comp = groups.get("compact", empty)
    out["compact.executor_run_s"] = comp.get("run_s", 0.0)
    out["compact.bytes_written"] = comp.get("output_bytes", 0)

    app = groups.get("append", empty)
    n_app = max(1, app["spans"])
    delta = max(1, sum(facts["append_delta_bytes"]))
    out["append.jobs"] = app.get("jobs", 0) / n_app
    out["append.executor_run_s"] = app.get("run_s", 0.0) / n_app
    out["append.driver_s"] = app.get("driver_s", 0.0) / n_app
    out["append.bytes_read_per_delta_byte"] = app.get("input_bytes", 0) / delta
    out["append.bytes_written_per_delta_byte"] = (
        app.get("output_bytes", 0) / delta)

    # the phase timings: their run-to-run spread on a shared 4-CPU host
    # (up to 0.75 of the median over ten runs) is wider than any bound an
    # end-to-end metric may carry, so they are reported here, without one
    out["delete.p50_ms"] = 1e3 * _median(spans, "delete")
    out["compact.wall_s"] = _median(spans, "compact")
    out["build.wall_s"] = _median(spans, "build")
    out["wand.batch.wall_s"] = _median(spans, "wand.batch")
    out["wand.topk.p50_s"] = _median(spans, "wand.topk")
    out["append.p50_s"] = _median(spans, "append")
    out["wand.lsm_topk.p50_s"] = _median(spans, "wand.lsm_topk")
    topk_s = [sp.end - sp.start for sp in spans if sp.name == "wand.topk"]
    out["wand.topk.p90_s"] = float(np.quantile(topk_s, 0.9)) if topk_s else 0.0
    lat = np.asarray(facts["serve"]["lat_s"], dtype=np.float64)
    out["serving.load_s"] = _median(spans, "serving.load")
    out["serving.first_pass_s"] = _median(spans, "serving.first_pass")
    out["serving.p50_ms"] = 1e3 * float(np.median(lat))
    out["serving.p99_ms"] = 1e3 * float(np.quantile(lat, 0.99))

    st = facts["store"]
    out["delete.pending_tombstone_dirs"] = st["pending_tombstone_dirs"]
    for key in ("live_segment_dirs", "segment_files", "segment_bytes",
                "term_stats_bytes", "staged_bytes"):
        out[f"store.{key}"] = st[key]

    for name in QUERY_GROUPS:
        g = groups.get(name, empty)
        n = max(1, g["units"])
        out[f"{name}.jobs_per_query"] = g.get("jobs", 0) / n
        out[f"{name}.tasks_per_query"] = g.get("tasks", 0) / n
        out[f"{name}.job_s_per_query"] = g.get("job_s", 0.0) / n
        out[f"{name}.driver_s_per_query"] = g.get("driver_s", 0.0) / n
        for x in DRIVER_LABELS:
            out[f"{name}.driver_{x}_s_per_query"] = (
                g.get(f"driver_{x}_s", 0.0) / n)
        out[f"{name}.scheduler_delay_s"] = g.get("sched_delay_s", 0.0) / n

    for name in ("build", "append", "compact"):
        g = groups.get(name, empty)
        for x in DRIVER_LABELS:
            out[f"{name}.driver_{x}_s"] = (g.get(f"driver_{x}_s", 0.0)
                                           / max(1, g["spans"]))

    # boundary totals per operation of the group (per query for queries)
    for name in SPARK_GROUPS:
        g = groups.get(name, empty)
        n = max(1, g["units"])
        for suffix, key in BOUNDARY.items():
            out[f"{name}.{suffix}"] = g.get(key, 0) / n

    first = groups.get("serving.first_pass", empty)
    out["serving.first_pass_ms_per_term"] = (
        1e3 * first.get("wall_s", 0.0) / max(1, first["units"]))
    post = np.asarray(facts["serve"]["postings"], dtype=np.float64)
    out["serving.postings_per_query"] = float(post.mean())
    # warm latency = fixed + per_posting * postings, least squares
    per_posting, fixed = np.polyfit(post, lat, 1)
    out["serving.fixed_us_per_query"] = float(fixed) * 1e6
    out["serving.ns_per_posting"] = float(per_posting) * 1e9

    out["trace.wall_s"] = sum(sp.end - sp.start for sp in spans)
    out["trace.coverage"] = coverage(groups)
    return {k: float(v) for k, v in out.items()}


def coverage(groups: dict[str, dict]) -> float:
    """Share of the timed wall that a layer's own time accounts for.

    A Spark group counts the time its Spark jobs ran, and the driver time
    its stack samples attribute to the JVM or to Python in the library and
    pyspark. Driver time sampled in the benchmark's own code or elsewhere,
    or not sampled at all, counts as uncovered. Deletes and serving run no
    Spark job: each of their spans is one layer's time."""
    wall = sum(g["wall_s"] for g in groups.values())
    covered = 0.0
    for name, g in groups.items():
        if name in SPARK_GROUPS:
            covered += g["job_s"] + sum(g[f"driver_{x}_s"]
                                        for x in DRIVER_LABELS)
        else:
            covered += g["wall_s"]
    return covered / wall if wall else 0.0
