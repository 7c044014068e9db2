"""Self-tests of the benchmark's output checker, on a tiny corpus and
without Spark: `python3 -m pytest perfbench/test_check.py -q`.

The library's pure-Python oracle (visionsearch_spark.oracle) stands in for
an engine, so the checker is tested against an independent implementation.
"""

from __future__ import annotations

import pytest

from perfbench.check import Oracle, State, check_docid_order, check_ranked
from visionsearch_spark.fixtures import make_queries, make_transcripts_pdf
from visionsearch_spark.oracle import build_oracle_index, oracle_search

# two conversations with identical text tie on every query of theirs
TIES = [("tie-a", 1, "zeta omega zeta"), ("tie-b", 1, "zeta omega zeta")]


@pytest.fixture(scope="module")
def rows():
    pdf = make_transcripts_pdf(n_convs=30, seed=3)
    return list(zip(pdf.conv_id, pdf.turn_idx.astype(int), pdf.text)) + TIES


@pytest.fixture(scope="module")
def oracle(rows):
    return Oracle(rows)


def engine(rows, query, k, threshold=0.0, stats_convs=None, dead=()):
    """Reference results: library oracle over the rows of stats_convs (all
    rows by default), dead convs removed before the cut to k."""
    keep = [r for r in rows if stats_convs is None or r[0] in stats_convs]
    hits = oracle_search(build_oracle_index(keep), query, k=len(keep),
                         threshold=threshold)
    return [(c, t, s) for _d, c, t, s in hits if c not in dead][:k]


def all_convs(rows):
    return frozenset(r[0] for r in rows)


def top_conv(rows, query):
    return engine(rows, query, 1)[0][0]


def test_accepts_library_oracle(rows, oracle):
    state = State(all_convs(rows))
    for _qid, q, k in make_queries().itertuples(index=False):
        for thr in (0.0, 2.0):
            want = oracle.expect(q, k, thr, state)
            assert check_ranked(engine(rows, q, k, thr), want) is None, q
            assert check_docid_order(
                engine(rows, q, k, thr),
                oracle.expect(q, k, thr, state, dense=True)) is None, q


def test_rejects_swapped_rank(rows, oracle):
    got = engine(rows, "join filter", 10)
    assert got[0][2] != got[1][2]
    got[0], got[1] = got[1], got[0]
    want = oracle.expect("join filter", 10, 0.0, State(all_convs(rows)))
    assert check_ranked(got, want) is not None


def test_rejects_perturbed_score(rows, oracle):
    got = engine(rows, "join filter", 10)
    c, t, s = got[3]
    got[3] = (c, t, s * (1 + 1e-6))
    state = State(all_convs(rows))
    assert check_ranked(got, oracle.expect("join filter", 10, 0.0, state))
    assert check_docid_order(
        got, oracle.expect("join filter", 10, 0.0, state, dense=True))


def test_rejects_padded_oov_hit(rows, oracle):
    state = State(all_convs(rows))
    assert engine(rows, "zzzznotaword", 5) == []
    padded = [(rows[-1][0], rows[-1][1], 0.0)]
    assert check_ranked(padded, oracle.expect("zzzznotaword", 5, 0.0, state))
    assert check_docid_order(
        padded, oracle.expect("zzzznotaword", 5, 0.0, state, dense=True))


def test_rejects_resurfaced_deleted_conv(rows, oracle):
    q = "join filter stream"
    victim = top_conv(rows, q)
    state = State(all_convs(rows), dead=frozenset([victim]))
    unmasked = engine(rows, q, 10)  # the engine forgot the tombstone
    assert unmasked[0][0] == victim
    assert check_ranked(unmasked, oracle.expect(q, 10, 0.0, state))
    # same score list, victim swapped in for the doc it displaced
    masked = engine(rows, q, 10, dead={victim})
    c, t, s = masked[-1]
    swapped = masked[:-1] + [(victim, unmasked[0][1], s)]
    assert check_docid_order(
        swapped, oracle.expect(q, 10, 0.0, state, dense=True))


def test_accepts_tie_reordering_after_append(rows, oracle):
    """tie-a was appended after tie-b, so its docid is higher and a docid
    tie-break serves tie-b first."""
    state = State(all_convs(rows))
    want = oracle.expect("zeta", 2, 0.0, state, dense=True)
    assert want.keys == [("tie-a", 1), ("tie-b", 1)]
    by_docid = engine(rows, "zeta", 2)[::-1]
    assert check_ranked(by_docid, want) is not None
    assert check_docid_order(by_docid, want) is None
    assert check_docid_order(by_docid[:1], oracle.expect(
        "zeta", 1, 0.0, state, dense=True)) is None
    wrong = [(c, t, s * 1.01) for c, t, s in by_docid]
    assert check_docid_order(wrong, want) is not None


def test_accepts_pending_delete_stale_stats(rows, oracle):
    q = "join filter stream"
    victim = top_conv(rows, q)
    pending = State(all_convs(rows), dead=frozenset([victim]))
    stale = engine(rows, q, 10, dead={victim})
    assert check_ranked(stale, oracle.expect(q, 10, 0.0, pending)) is None
    folded = State(pending.ingested, pending.dead, folded=True)
    assert check_ranked(stale, oracle.expect(q, 10, 0.0, folded)) is not None


def test_accepts_post_compaction_scores(rows, oracle):
    q = "join filter stream"
    victim = top_conv(rows, q)
    live = all_convs(rows) - {victim}
    folded = State(all_convs(rows), dead=frozenset([victim]), folded=True)
    fresh = engine(rows, q, 10, stats_convs=live)
    assert check_ranked(fresh, oracle.expect(q, 10, 0.0, folded)) is None


def test_partial_ingest_stats(rows, oracle):
    """Rows not yet ingested count neither in the statistics nor in the
    results."""
    half = frozenset(sorted(all_convs(rows))[:15])
    want = engine(rows, "join filter", 10, stats_convs=half)
    assert check_ranked(want, oracle.expect(
        "join filter", 10, 0.0, State(half))) is None
