"""Exhaustive BM25 oracle over a whole corpus, and the checks that compare
engine results with it.

The oracle scores every document with the frozen spec in
`visionsearch_spark.bm25`, in the accumulation order of
`visionsearch_spark.oracle.oracle_search` (query terms sorted, one float64
add per term), but over numpy arrays so that thousands of queries can be
checked in a run. Documents are held in (conv_id, turn_idx) order, so the
position of a document is its rank in the contract tie-break.

A `State` says which rows the engine has ingested, which conversations are
tombstoned, and whether tombstones have been folded by a compaction:

- pending deletes: corpus statistics (N, avgdl, df) still count the
  deleted rows; deleted rows are removed before the cut to k;
- after a compaction: statistics and results cover the live rows only.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.bm25 import B, K1, idf

REL_TOL = 1e-9  # scores are float64; summation order may differ per engine


@dataclass(frozen=True)
class State:
    ingested: frozenset[str]          # conv_ids the store has ingested
    dead: frozenset[str] = frozenset()  # tombstoned conv_ids
    folded: bool = False              # tombstones folded into stats


@dataclass
class Expected:
    keys: list[tuple[str, int]]       # top-k in (score desc, conv, turn)
    scores: list[float]
    dense: np.ndarray | None = field(default=None, repr=False)
    live: np.ndarray | None = field(default=None, repr=False)
    pos: dict[tuple[str, int], int] | None = field(default=None, repr=False)

    def live_score(self, key: tuple[str, int]) -> float | None:
        """Oracle score of a live matching document, else None."""
        if self.pos is None:
            raise ValueError("expected result was made without dense=True")
        i = self.pos.get(key)
        if i is None or not self.live[i] or self.dense[i] <= 0.0:
            return None
        return float(self.dense[i])

    @property
    def above_kth(self) -> set[tuple[str, int]]:
        """Keys scoring strictly above the k-th score: the part of the
        result that no tie-break can change."""
        if not self.scores:
            return set()
        kth = self.scores[-1]
        return {key for key, s in zip(self.keys, self.scores) if s > kth}


class Oracle:
    def __init__(self, rows):
        """rows: iterable of (conv_id, turn_idx, text)."""
        rows = sorted(rows, key=lambda r: (r[0], r[1]))
        self.conv = np.array([r[0] for r in rows], dtype=object)
        self.turn = np.array([r[1] for r in rows], dtype=np.int64)
        self.pos = {(r[0], int(r[1])): i for i, r in enumerate(rows)}
        self.conv_names, self.conv_code = np.unique(
            self.conv.astype(str), return_inverse=True)
        self.text_bytes = np.array([len(r[2].encode()) for r in rows],
                                   dtype=np.int64)
        dl = np.zeros(len(rows), dtype=np.int64)
        plists: dict[str, tuple[list[int], list[int]]] = {}
        for i, (_c, _t, text) in enumerate(rows):
            toks = tokenize(text)
            dl[i] = len(toks)
            for term, tf in Counter(toks).items():
                d, f = plists.setdefault(term, ([], []))
                d.append(i)
                f.append(tf)
        self.dl = dl
        self.postings = {
            t: (np.asarray(d, dtype=np.int64), np.asarray(f, dtype=np.float64))
            for t, (d, f) in plists.items()
        }
        self._masks: dict[State, tuple[np.ndarray, np.ndarray]] = {}
        self._memo: dict[tuple, Expected] = {}

    def masks(self, state: State) -> tuple[np.ndarray, np.ndarray]:
        """(stats_mask, live_mask) over document positions."""
        got = self._masks.get(state)
        if got is None:
            ingested = np.isin(self.conv_names, list(state.ingested))
            dead = np.isin(self.conv_names, list(state.dead))
            live = (ingested & ~dead)[self.conv_code]
            ingested = ingested[self.conv_code]
            got = (live if state.folded else ingested, live)
            self._masks[state] = got
        return got

    def n_docs(self, state: State) -> int:
        return int(self.masks(state)[0].sum())

    def df(self, term: str, state: State) -> int:
        p = self.postings.get(term)
        return 0 if p is None else int(self.masks(state)[0][p[0]].sum())

    def terms_by_df(self, state: State) -> list[str]:
        """Terms present under `state`, most frequent first."""
        dfs = [(self.df(t, state), t) for t in self.postings]
        return [t for n, t in sorted(dfs, key=lambda x: (-x[0], x[1])) if n]

    def scores(self, query: str, state: State) -> np.ndarray | None:
        """Dense score per document position; None when no query term
        occurs in the statistics' rows (every term OOV)."""
        stats, _live = self.masks(state)
        n = int(stats.sum())
        if n == 0:
            return None
        avgdl = int(self.dl[stats].sum()) / n
        out = None
        for term in sorted(set(tokenize(query))):
            p = self.postings.get(term)
            if p is None:
                continue
            m = stats[p[0]]
            d, tf = p[0][m], p[1][m]
            if d.size == 0:
                continue
            if out is None:
                out = np.zeros(self.dl.size, dtype=np.float64)
            w = idf(n, int(d.size))
            dl = self.dl[d]
            out[d] += w * (tf * (K1 + 1.0)
                           / (tf + K1 * (1.0 - B + B * dl / avgdl)))
        return out

    def expect(self, query: str, k: int, threshold: float, state: State,
               dense: bool = False) -> Expected:
        """Top-k by (score desc, conv_id, turn_idx). dense=True keeps the
        whole score vector for per-key lookups (check_docid_order);
        results without it are memoised, since query streams repeat."""
        key = (query, k, threshold, state)
        got = None if dense else self._memo.get(key)
        if got is not None:
            return got
        s = self.scores(query, state)
        if s is None:
            got = Expected([], [])
        else:
            _stats, live = self.masks(state)
            cand = np.flatnonzero((s > threshold) & live)
            if cand.size > k:  # narrow to the k-th score and its ties
                kth = -np.partition(-s[cand], k - 1)[k - 1]
                cand = cand[s[cand] >= kth]
            top = cand[np.lexsort((cand, -s[cand]))[:k]]
            got = Expected(
                keys=[(str(self.conv[i]), int(self.turn[i])) for i in top],
                scores=[float(s[i]) for i in top],
            )
            if dense:
                got.dense, got.live, got.pos = s, live, self.pos
        if not dense:
            self._memo[key] = got
        return got


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL)


def check_ranked(got: list[tuple[str, int, float]],
                 want: Expected) -> str | None:
    """Engines that tie-break on (score desc, conv_id, turn_idx): the key
    sequence must match exactly and each score within REL_TOL. Returns
    None when the result is correct, else what is wrong."""
    keys = [(c, int(t)) for c, t, _s in got]
    if keys != want.keys:
        return f"keys {keys[:5]}... != expected {want.keys[:5]}..."
    for (c, t, s), w in zip(got, want.scores):
        if not _close(float(s), w):
            return f"score of {(c, t)} is {s!r}, expected {w!r}"
    return None


def check_docid_order(got: list[tuple[str, int, float]],
                      want: Expected) -> str | None:
    """Engines that tie-break on docid (LocalSearcher): after an append
    docid order is no longer (conv_id, turn_idx) order, so only what the
    tie-break cannot change is compared — the score list, the keys
    strictly above the k-th score, and that every returned key is a live
    document with the score the oracle gives it."""
    if len(got) != len(want.scores):
        return f"{len(got)} hits, expected {len(want.scores)}"
    for (c, t, s), w in zip(got, want.scores):
        if not _close(float(s), w):
            return f"score list differs at {(c, t)}: {s!r} vs {w!r}"
        ws = want.live_score((c, int(t)))
        if ws is None:
            return f"{(c, t)} is not a live match"
        if not _close(float(s), ws):
            return f"score of {(c, t)} is {s!r}, expected {ws!r}"
    keys = {(c, int(t)) for c, t, _s in got}
    missing = want.above_kth - keys
    if missing:
        return f"missing hits above the k-th score: {sorted(missing)[:5]}"
    if len(keys) != len(got):
        return "duplicate hits"
    return None
