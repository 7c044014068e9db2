"""Benchmark of the visionsearch_spark index lifecycle.

    python3 perfbench/run.py --workload turns --seed 1 --seconds 20 \
        --trace 0

One process, one closed-loop client, Spark on local[nproc]. The run
builds an index over a seeded synthetic corpus
(fixtures.make_transcripts_pdf), queries it through batch_topk, topk and
LocalSearcher, appends, deletes and queries the LSM store, and compacts
it (lifecycle.py). Every answer is checked against an exhaustive oracle
(check.py); a wrong answer or an exception is a failed operation and makes
the run exit 1.

--trace 0 prints the end-to-end metrics; --trace 1 enables Spark's event
log, samples the driver's stack, and prints the per-layer metrics
(layers.py) instead. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Each run also writes a
record under .perfbench_work/records/.

--seconds is the time budget of the two open-ended loops: sequential topk
calls get a twentieth of it and the warm serving stream a fiftieth; each
loop also has a minimum count (lifecycle.py).

Everything the run writes (corpus cache, stores, Spark scratch, event
logs, records) stays under .perfbench_work/ at the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# 1 000 convs ~ 11 k turns ~ 1.3 MB of text: large enough that every phase
# does real work, small enough that 22 runs per workload fit the time the
# benchmark is given
N_CONVS = 1000
WARM_CONVS = 40
# workload -> turns joined into one document. Both index the same text
# and draw the same query mix; they differ in corpus shape.
WORKLOADS = {
    "turns": 1,     # one short document per turn, as fixtures makes them
    "passages": 4,  # about a third as many documents, each 4 turns long
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def library_files() -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT,
                                                      "visionsearch_spark")):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(out)


def corpus(n_convs: int, seed: int, turns_per_doc: int) -> str:
    """Parquet of make_transcripts_pdf(n_convs, seed), its turns joined
    into documents of turns_per_doc turns, cached per (seed, size, shape,
    hash of fixtures.py)."""
    fixtures = os.path.join(ROOT, "visionsearch_spark", "fixtures.py")
    with open(fixtures, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    path = os.path.join(WORK, "corpus", f"n{n_convs}-s{seed}-"
                                        f"g{turns_per_doc}-{digest}.parquet")
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from visionsearch_spark.fixtures import make_transcripts_pdf

        os.makedirs(os.path.dirname(path), exist_ok=True)
        pdf = passages(make_transcripts_pdf(n_convs=n_convs, seed=seed),
                       turns_per_doc)
        # Spark cannot read TIMESTAMP(NANOS) parquet
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       path + ".tmp", coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        os.replace(path + ".tmp", path)
    return path


def passages(pdf, turns_per_doc: int):
    """Consecutive turns of each conversation joined by a space into one
    document per turns_per_doc turns; turn_idx numbers the documents of a
    conversation from 1, and the other columns come from its first turn."""
    if turns_per_doc == 1:
        return pdf
    pdf = pdf.assign(turn_idx=(pdf["turn_idx"] - 1) // turns_per_doc + 1)
    return pdf.groupby(["conv_id", "turn_idx"], sort=True,
                       as_index=False).agg(
        role=("role", "first"), text=("text", " ".join),
        tool=("tool", "first"), ts=("ts", "first"))


def load_oracle(corpus_path: str):
    """The oracle over a cached corpus, built afresh on every run so that
    it always follows the current tokenizer and scoring spec."""
    import pyarrow.parquet as pq

    from perfbench.check import Oracle

    tbl = pq.read_table(corpus_path, columns=["conv_id", "turn_idx", "text"])
    return Oracle(zip(tbl.column("conv_id").to_pylist(),
                      tbl.column("turn_idx").to_pylist(),
                      tbl.column("text").to_pylist()))


def record_header(workload: str, seed: int, trace: int) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    src = hashlib.sha256()
    lines = 0
    for p in library_files():
        with open(p, "rb") as f:
            data = f.read()
        src.update(data)
        lines += data.count(b"\n")
    bench = hashlib.sha256()
    for name in ("lifecycle.py", "check.py"):  # what the timed phases do
        with open(os.path.join(HERE, name), "rb") as f:
            bench.update(f.read())
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "commit": commit, "library_sha256": src.hexdigest()[:16],
        "bench_sha256": bench.hexdigest()[:16],
        "library_lines": lines, "nproc": nproc(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "time": time.time(),
    }


def start_spark(run_dir: str, event_dir: str | None):
    from visionsearch_spark import get_spark

    n = nproc()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        # UsePerfData off: the JVM would write /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        # uncompressed: Spark 4 compresses event logs with zstd by default
        # and the zstandard module is not installed
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + event_dir})
    return get_spark("perfbench", cores=n, shuffle_partitions=n,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM, and then for the Python
    worker daemon it started, to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the daemon sees the JVM's pipe close and exits a moment later; as
    # an orphan it is this process's child now (become_subreaper)
    reap()


def become_subreaper() -> None:
    """Adopt every orphaned descendant, so that reap() can wait for
    processes whose parent exits first, such as Spark's Python worker
    daemon once the JVM has gone."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0,
                                            0, 0)


def children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def reap(grace_s: float = 10.0) -> None:
    """Wait until no child process is left: first for grace_s seconds,
    then after SIGTERM, then after SIGKILL."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = children()
        if not left:
            return
        if time.monotonic() >= deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.02)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "visionsearch_spark",
                                       "__init__.py")):
        print(f"visionsearch_spark not found beside {HERE}", file=sys.stderr)
        return 2
    # Python workers are forked by the JVM and import the library by name,
    # whatever the working directory
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from perfbench import layers, lifecycle

    become_subreaper()

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None

    # inputs, outside set-up and the timed region
    header = record_header(args.workload, args.seed, args.trace)
    shape = WORKLOADS[args.workload]
    corpus_path = corpus(N_CONVS, args.seed, shape)
    warm_path = corpus(WARM_CONVS, args.seed, shape)
    oracle = load_oracle(corpus_path)
    header.update({"corpus_rows": int(oracle.dl.size),
                   "corpus_text_bytes": int(oracle.text_bytes.sum())})

    lifecycle.log(f"inputs ready: {header['corpus_rows']} rows")
    tracer = lifecycle.Tracer()
    ops = lifecycle.Ops()
    cycle = lifecycle.Lifecycle(oracle, args.seed, args.seconds,
                                os.path.join(run_dir, "index"), nproc(),
                                tracer, ops)
    sampler = layers.Sampler() if args.trace else None
    spark = None
    ok = False
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, event_dir)
        lifecycle.log("spark started")
        lifecycle.warm_up(spark, warm_path, os.path.join(run_dir, "warm"),
                          nproc())
        cycle.metrics["setup_s"] = time.perf_counter() - t0
        lifecycle.log(f"set-up took {cycle.metrics['setup_s']:.1f} s")
        # traced runs sample the driver's stack to split its time
        with sampler if sampler else contextlib.nullcontext():
            cycle.spark_phases(spark, corpus_path)
        stop_spark(spark)
        spark = None
        cycle.serving_phase()
        ok = True
    except Exception as exc:  # the run's boundary: report, then fail
        import traceback

        traceback.print_exc()
        ops.check("run", f"{type(exc).__name__}: {exc}")
    finally:
        if spark is not None:
            stop_spark(spark)
        reap()
    lifecycle.log("lifecycle done")

    e2e = cycle.metrics if ok else {}
    metrics = e2e
    if ok and args.trace:
        jobs, stages = layers.read_event_log(event_dir)
        metrics = layers.layer_metrics(tracer.spans, jobs, stages,
                                       cycle.facts, sampler.samples)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if ok and missing:
        ops.check("report", f"metrics not measured: {missing}")
    correct = ops.failed == 0 and ok

    record = {**header, "correct": correct, "attempted": ops.attempted,
              "failed": ops.failed, "errors": ops.errors,
              "failed_op_ratio": ops.failed / max(1, ops.attempted),
              "end_to_end": e2e,
              "timed_wall_s": sum(s.end - s.start for s in tracer.spans),
              "per_layer": metrics if args.trace else None,
              "samples": cycle.facts.get("samples"),
              "spans": spans_by_name(tracer.spans)}
    if args.trace and ok:
        record["tracing_overhead"] = tracing_overhead(record)
        record["coverage_at_least_0.9"] = metrics["trace.coverage"] >= 0.9
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{run_id}-{int(time.time())}"
                                            ".json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    for err in ops.errors:
        print(f"FAILED {err}", file=sys.stderr)
    if args.trace and ok:
        ov = record["tracing_overhead"]
        print(f"trace: per-layer coverage {metrics['trace.coverage']:.3f} of "
              f"{metrics['trace.wall_s']:.2f} s timed wall; overhead "
              + (f"{ov['ratio']:.3f}x against {ov['untraced_runs']} untraced "
                 f"runs" if ov else "unknown (no untraced record yet)"))
        if not record["coverage_at_least_0.9"]:
            print("trace: per-layer times cover less than 90% of the timed "
                  "wall", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": ops.attempted, "failed": ops.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]],
                                "unit": m["unit"]}
                    for m in declared if m["name"] in metrics},
    }))
    return 0 if correct else 1


def spans_by_name(spans) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for sp in spans:
        out.setdefault(sp.name, []).append(round(sp.end - sp.start, 6))
    return out


def tracing_overhead(record: dict) -> dict | None:
    """Traced timed wall against the median untraced timed wall of earlier
    runs of the same workload and code in this checkout."""
    walls = []
    rec_dir = os.path.join(WORK, "records")
    for name in os.listdir(rec_dir) if os.path.isdir(rec_dir) else []:
        try:
            with open(os.path.join(rec_dir, name)) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        if (r.get("workload") == record["workload"] and not r.get("trace")
                and r.get("correct")
                and r.get("library_sha256") == record["library_sha256"]
                and r.get("bench_sha256") == record["bench_sha256"]):
            walls.append(r["timed_wall_s"])
    if not walls:
        return None
    ref = statistics.median(walls)
    return {"ratio": record["timed_wall_s"] / ref, "untraced_runs": len(walls),
            "untraced_wall_s": ref}


if __name__ == "__main__":
    sys.exit(main())
