"""One run of the index lifecycle, driven by a single closed-loop client.

Every phase is timed as a span; every engine answer is kept and checked
against the exhaustive oracle after the phase, outside the timed region.

    build      build_index over the base corpus (the first 90% of convs)
    wand.topk  sequential topk calls (the driver-merge path)
    wand.batch one batch_topk job over a batch of queries
    append     incremental_build of a ~1% conv delta   } ROUNDS rounds,
    delete     delete_convs_local calls of a few convs } fewer than
    wand.lsm_topk  topk on the multi-dir store with     } max_live_dirs
               pending tombstones
    compact    compact_store, which folds the tombstones
    serving.*  after Spark has stopped, in a fresh process, LocalSearcher
               over a copy of the freshly built store: load, a first pass
               that touches every term once (cold decode cache), then a
               warm query stream

Only public entry points of the library are called.
"""

from __future__ import annotations

import gc
import os
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench.check import Oracle, State, check_docid_order, check_ranked

# incremental_build compacts inline once a store has more live segment dirs
# than this (its max_live_dirs default); the rounds stay below it so that
# append_p50_s times appends only
MAX_LIVE_DIRS = 8
ROUNDS = 1
DELETE_CALLS_PER_ROUND = 3
DELETE_CONVS_PER_CALL = 3
BATCH_JOBS = 2
BATCH_QUERIES = 200
MIN_TOPK_CALLS = 4
TOPK_SHARE = 0.05    # of --seconds, for the sequential topk calls
LSM_QUERIES_PER_ROUND = 2
MIN_SERVE_QUERIES = 2000
STREAM_SHARE = 0.02  # of --seconds, for the warm serving stream
LSM_SEARCHER_CHECKS = 20
COMPACTED_CHECKS = 20
OOV_SHARE = 0.02
THRESHOLD_SHARE = 0.05
THRESHOLD = 3.0

# the query mix: Zipf(1.1) draws over the term ranks (by document
# frequency), 1-6 terms, k from KS
ZIPF = 1.1
TERMS = (1, 6)
KS = (5, 10, 30, 100)


@dataclass
class Span:
    name: str
    start: float   # epoch seconds (the clock of Spark's event log)
    end: float
    units: int     # queries answered in the span, else 1


@dataclass
class Ops:
    """Operations attempted and failed. A failed op is an exception or an
    answer that disagrees with the oracle."""
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, what: str, error: str | None) -> None:
        self.attempted += 1
        if error:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {error}")


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, units: int = 1):
        sp = Span(name, time.time(), 0.0, units)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.spans.append(sp)

    def walls(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, with seconds since the benchmark started."""
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def rss_bytes() -> int:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def settle() -> None:
    """Collect, then freeze the survivors (the oracle, its memo, the
    results kept for checking) so that the garbage collector does not
    rescan the benchmark's own heap inside a timed phase."""
    gc.collect()
    gc.freeze()


class Queries:
    """Seeded query draws over a term ranking."""

    def __init__(self, terms: list[str], seed: int, stream: int = 0):
        self.terms = terms
        self.rng = np.random.default_rng([seed, 7, stream])
        p = np.arange(1, len(terms) + 1, dtype=np.float64) ** -ZIPF
        self.p = p / p.sum()

    def draw(self, n: int, thresholds: bool = True
             ) -> list[tuple[str, int, float]]:
        rng, terms = self.rng, self.terms
        out = []
        for _ in range(n):
            nt = int(rng.integers(TERMS[0], TERMS[1] + 1))
            idx = rng.choice(len(terms), size=nt, p=self.p)
            words = [terms[i] for i in idx]
            u = rng.random()
            if u < OOV_SHARE / 2:
                words = [f"zzq{int(rng.integers(10**6))}x"]
            elif u < OOV_SHARE:
                words.append(f"zzq{int(rng.integers(10**6))}x")
            k = int(rng.choice(KS))
            thr = THRESHOLD if thresholds and rng.random() < THRESHOLD_SHARE \
                else 0.0
            out.append((" ".join(words), k, thr))
        return out


def _rows_by_query(rows) -> dict[int, list[tuple[str, int, float]]]:
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(
            (r["conv_id"], r["turn_idx"], r["score"]))
    return by_q


def _topk_rows(rows) -> list[tuple[str, int, float]]:
    return [(r["conv_id"], r["turn_idx"], r["score"])
            for r in sorted(rows, key=lambda r: r["rank"])]


def _searcher_rows(hits) -> list[tuple[str, int, float]]:
    return [(c, t, s) for _d, c, t, s in hits]


def warm_up(spark, warm_path: str, root: str, nproc: int) -> None:
    """Build an index over a tiny corpus, so that the timed build runs on
    a warm JVM and warm Python workers. The other paths warm on their
    first timed call, which their medians discount: the first of
    sequential topk calls, of BATCH_JOBS batch jobs, and of the LSM
    queries typically takes 1.4-1.5x as long as the rest."""
    from visionsearch_spark.index.spimi import build_index

    build_index(spark.read.parquet(warm_path), root, n_partitions=nproc)


class Lifecycle:
    """The timed phases of one run. `spark_phases` needs the session;
    `serving_phase` runs after the session and its JVM have stopped, on a
    copy of the freshly built store, so that no JVM thread competes with
    the pure-Python serving tier."""

    def __init__(self, oracle: Oracle, seed: int,
                 seconds: float, root: str, nproc: int, tracer: Tracer,
                 ops: Ops):
        self.oracle, self.seconds, self.root = oracle, seconds, root
        self.nproc, self.tracer, self.ops = nproc, tracer, ops
        self.fresh_root = root + "-fresh"
        self.convs = [str(c) for c in oracle.conv_names]
        self.cut = int(len(self.convs) * 0.9)
        self.step = max(1, len(self.convs) // 100)
        assert self.cut + ROUNDS * self.step <= len(self.convs)
        assert ROUNDS < MAX_LIVE_DIRS
        self.base = State(frozenset(self.convs[:self.cut]))
        self.terms = oracle.terms_by_df(self.base)
        # one stream of draws per phase: what a phase asks does not depend
        # on how many draws an earlier, time-bounded phase made
        self.queries = {phase: Queries(self.terms, seed, i)
                        for i, phase in enumerate(
                            ("batch", "topk", "serve", "lsm", "check"))}
        self.rng = np.random.default_rng([seed, 11])
        self.facts: dict = {"stage_sec": {}, "append_delta_bytes": [],
                            "serve": {}, "store": {}}
        self.metrics: dict[str, float] = {}

    def _check_meta(self, store, what: str, state: State) -> None:
        got = int(store.read_meta()["n_docs"])
        want = self.oracle.n_docs(state)
        self.ops.check(what, None if got == want
                       else f"n_docs {got} != {want}")

    def spark_phases(self, spark, corpus_path: str) -> None:
        from pyspark.sql import functions as F

        from visionsearch_spark.index.deletes import delete_convs_local
        from visionsearch_spark.index.fsck import fsck, store_report
        from visionsearch_spark.index.spimi import build_index, compact_store
        from visionsearch_spark.query.serving import LocalSearcher
        from visionsearch_spark.query.wand import batch_topk, topk
        from visionsearch_spark.streaming.incremental import incremental_build

        oracle, tracer, ops, root = self.oracle, self.tracer, self.ops, \
            self.root
        convs, cut, base = self.convs, self.cut, self.base
        tx = spark.read.parquet(corpus_path)

        log("build")
        settle()
        with tracer.span("build"):
            store = build_index(tx.filter(F.col("conv_id") < convs[cut]),
                                root, n_partitions=self.nproc)
        ops.check("build", None)
        self._check_meta(store, "build.n_docs", base)
        shutil.copytree(root, self.fresh_root)
        self.facts["stage_sec"] = dict(store.read_meta().get("stage_sec")
                                       or {})
        rep = store_report(root)["components"]
        self.facts["store"].update({
            "segment_files": rep["segments"]["files"],
            "segment_bytes": rep["segments"]["bytes"],
            "term_stats_bytes": rep["term_stats"]["bytes"],
            "staged_bytes": rep["staged"]["bytes"],
        })
        text_bytes = int(oracle.text_bytes[oracle.masks(base)[0]].sum())
        self.metrics["index_bytes_per_text_byte"] = (
            rep["segments"]["bytes"] + rep["term_stats"]["bytes"]) / text_bytes

        log("spark queries")
        settle()
        t_end = time.perf_counter() + TOPK_SHARE * self.seconds
        while (len(tracer.walls("wand.topk")) < MIN_TOPK_CALLS
               or time.perf_counter() < t_end):
            (q, k, thr), = self.queries["topk"].draw(1)
            with tracer.span("wand.topk"):
                rows = topk(spark, store, q, k=k, threshold=thr).collect()
            ops.check(f"topk {q!r}", check_ranked(
                _topk_rows(rows), oracle.expect(q, k, thr, base)))

        for _ in range(BATCH_JOBS):
            qs = self.queries["batch"].draw(BATCH_QUERIES, thresholds=False)
            with tracer.span("wand.batch", units=len(qs)):
                rows = batch_topk(spark, store, [
                    (i, q, k) for i, (q, k, _t) in enumerate(qs)]).collect()
            by_q = _rows_by_query(rows)
            for i, (q, k, thr) in enumerate(qs):
                ops.check(f"batch {q!r}", check_ranked(
                    by_q.get(i, []), oracle.expect(q, k, thr, base)))

        log("ingest rounds")
        settle()
        state = base
        lsm_checks = []
        for r in range(ROUNDS):
            delta = convs[cut + r * self.step: cut + (r + 1) * self.step]
            with tracer.span("append"):
                store = incremental_build(
                    tx.filter(F.col("conv_id").isin(delta)), root,
                    n_partitions=self.nproc)
            ops.check("append", None)
            state = State(state.ingested | frozenset(delta), state.dead)
            self._check_meta(store, "append.n_docs", state)
            dmask = np.isin(oracle.conv_names, delta)[oracle.conv_code]
            self.facts["append_delta_bytes"].append(
                int(oracle.text_bytes[dmask].sum()))

            for _ in range(DELETE_CALLS_PER_ROUND):
                live = sorted(state.ingested - state.dead)
                victims = [str(c) for c in self.rng.choice(
                    live, size=DELETE_CONVS_PER_CALL, replace=False)]
                with tracer.span("delete"):
                    n_dead = delete_convs_local(store, victims)
                want = int(np.isin(oracle.conv_names, victims)[
                    oracle.conv_code].sum())
                ops.check("delete", None if n_dead == want
                          else f"tombstoned {n_dead} docs, expected {want}")
                state = State(state.ingested, state.dead | frozenset(victims))

            for q, k, thr in self.queries["lsm"].draw(LSM_QUERIES_PER_ROUND):
                with tracer.span("wand.lsm_topk"):
                    rows = topk(spark, store, q, k=k, threshold=thr).collect()
                lsm_checks.append((q, k, thr, state, _topk_rows(rows)))
        for q, k, thr, st, got in lsm_checks:
            ops.check(f"lsm topk {q!r}", check_ranked(
                got, oracle.expect(q, k, thr, st)))
        rep = store_report(root)
        self.facts["store"]["live_segment_dirs"] = rep["live_segment_dirs"]
        self.facts["store"]["pending_tombstone_dirs"] = \
            rep["pending_tombstone_dirs"]

        # LocalSearcher over the appended store with pending tombstones
        # (and below, after the fold): docid order is no longer conv
        # order, so ties are compared order-free
        searcher = LocalSearcher(store)
        for q, k, thr in self.queries["check"].draw(LSM_SEARCHER_CHECKS):
            ops.check(f"lsm serve {q!r}", check_docid_order(
                _searcher_rows(searcher.search(q, k=k, threshold=thr)),
                oracle.expect(q, k, thr, state, dense=True)))
        del searcher

        log("compact")
        settle()
        with tracer.span("compact"):
            store = compact_store(spark, root, self.nproc)
        ops.check("compact", None)
        state = State(state.ingested, state.dead, folded=True)
        self._check_meta(store, "compact.n_docs", state)
        searcher = LocalSearcher(store)
        for q, k, thr in self.queries["check"].draw(COMPACTED_CHECKS):
            ops.check(f"compacted {q!r}", check_docid_order(
                _searcher_rows(searcher.search(q, k=k, threshold=thr)),
                oracle.expect(q, k, thr, state, dense=True)))
        del searcher
        errors = [f"{name}: {e}" for name, rec in fsck(root).items()
                  for e in rec["errors"]]
        ops.check("fsck", "; ".join(errors) or None)


    def serving_phase(self) -> None:
        """LocalSearcher in a fresh process: its heap holds the serving
        tier only, not the oracle and the answers kept for checking, so
        every run serves from the same clean state."""
        import pickle
        import subprocess

        log("serving")
        first_pass = [(t, 10, 0.0) for t in self.terms]
        # more than the stream can use: it stops at its time budget
        stream = self.queries["serve"].draw(4 * MIN_SERVE_QUERIES)
        job = os.path.join(os.path.dirname(self.root), "serve")
        with open(job + ".in", "wb") as f:
            pickle.dump((self.fresh_root, first_pass, stream,
                         STREAM_SHARE * self.seconds), f)
        # a plain child process, waited for: no pool, no resource tracker
        # left behind
        subprocess.run([sys.executable, "-m", "perfbench.lifecycle", job],
                       check=True, timeout=170)
        with open(job + ".out", "rb") as f:
            out = pickle.load(f)
        self.tracer.spans += [Span(*sp) for sp in out["spans"]]
        for (q, k, thr), hits in zip(first_pass, out["first_pass"]):
            self.ops.check(f"serve {q!r}", check_ranked(
                hits, self.oracle.expect(q, k, thr, self.base)))
        for (q, k, thr), hits in zip(stream, out["stream"]):
            self.ops.check(f"serve {q!r}", check_ranked(
                hits, self.oracle.expect(q, k, thr, self.base)))
        lats = out["lat_s"]
        self.facts["serve"] = {"lat_s": lats, "postings": out["postings"]}
        walls = self.tracer.walls
        self.metrics["serve_rss_mb"] = out["rss_growth"] / 2**20
        self.facts["samples"] = {
            "topk_calls": len(walls("wand.topk")),
            "lsm_queries": len(walls("wand.lsm_topk")),
            "deletes": len(walls("delete")), "serve_queries": len(lats),
            "rounds": ROUNDS, "delta_convs_per_round": self.step,
        }


def serve(root: str, first_pass: list, stream: list, budget_s: float) -> dict:
    """The serving phase, run in its own process. A searcher is loaded and
    given the first pass (cold decode cache), then serves the warm stream,
    one query after another, for at least MIN_SERVE_QUERIES queries and
    budget_s seconds. RSS growth is taken from before the load to the end
    of the stream. The timed loops keep no answers, so that the growth is
    the searcher's own; the searcher answers both query lists again for
    the check."""
    from visionsearch_spark.analyzer import tokenize
    from visionsearch_spark.index.store import IndexStore
    from visionsearch_spark.query.serving import LocalSearcher

    store = IndexStore(root)
    lats = [0.0] * len(stream)
    n = 0
    gc.collect()
    rss0 = rss_bytes()
    t0 = time.time()
    searcher = LocalSearcher(store)
    t1 = time.time()
    for q, k, thr in first_pass:
        searcher.search(q, k=k, threshold=thr)
    t2 = time.time()
    t_end = time.perf_counter() + budget_s
    for q, k, thr in stream:
        if n >= MIN_SERVE_QUERIES and time.perf_counter() >= t_end:
            break
        t = time.perf_counter()
        searcher.search(q, k=k, threshold=thr)
        lats[n] = time.perf_counter() - t
        n += 1
    t3 = time.time()
    rss_growth = rss_bytes() - rss0
    stream = stream[:n]
    return {"spans": [("serving.load", t0, t1, 1),
                      ("serving.first_pass", t1, t2, len(first_pass)),
                      ("serving.stream", t2, t3, n)],
            "first_pass": [_searcher_rows(searcher.search(q, k=k,
                                                          threshold=thr))
                           for q, k, thr in first_pass],
            "stream": [_searcher_rows(searcher.search(q, k=k, threshold=thr))
                       for q, k, thr in stream],
            "lat_s": lats[:n], "rss_growth": rss_growth,
            "postings": [sum(searcher.df(t) for t in set(tokenize(q)))
                         for q, _k, _t in stream]}


if __name__ == "__main__":
    # python3 -m perfbench.lifecycle JOB: the serving phase of a run, over
    # the arguments pickled in JOB.in; the result goes to JOB.out
    import pickle

    with open(sys.argv[1] + ".in", "rb") as f:
        job_args = pickle.load(f)
    result = serve(*job_args)
    with open(sys.argv[1] + ".out", "wb") as f:
        pickle.dump(result, f)
