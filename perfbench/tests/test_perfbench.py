"""Unit tests for the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from spans import self_times  # noqa: E402

# -- generators ---------------------------------------------------------


def _wb(seed):
    return gen.wb_inputs(seed, n_entities=20, n_refreshes=3)


def _corpus(seed):
    return gen.corpus_inputs(seed, n_rebuild=60, n_batches=3, batch_size=20)


def _search(seed):
    return gen.search_inputs(seed, n_docs=50, n_queries=5, dim=8)


@pytest.mark.parametrize("make", [_wb, _corpus, _search])
def test_generators_deterministic_per_seed(make):
    assert make(7) == make(7)


@pytest.mark.parametrize("make", [_wb, _corpus, _search])
def test_generators_differ_across_seeds(make):
    assert make(7) != make(8)


def test_wb_refresh_never_nulls_a_reported_value():
    inp = gen.wb_inputs(3, n_entities=30, n_refreshes=5)
    for ind in gen.INDICATORS:
        reported = set()
        for batch in [inp.backfill, *inp.refreshes]:
            for rec in batch[ind[0]]:
                key = (rec["countryiso3code"] or rec["country"]["id"], rec["date"])
                if rec["value"] is None:
                    assert key not in reported
                else:
                    reported.add(key)


def test_corpus_copies_take_higher_ids():
    inp = _corpus(5)
    text_of = {d: t for b in [inp.rebuild, *inp.batches] for d, _l, t in b}
    for did in inp.exact_dup_ids:
        assert any(o < did and t == text_of[did] for o, t in text_of.items())


def test_search_self_queries_are_docs_without_their_words():
    inp = _search(2)
    docs, vecs = dict(inp.docs), dict(inp.vecs)
    own = [(q, t, v) for q, t, v in inp.queries if q in docs]
    assert len(own) == len(inp.queries) // 4
    for qid, terms, vec in own:
        assert vec == vecs[qid]  # the doc is its own nearest neighbour
        assert not set(terms) & set(docs[qid].split(" "))
    others = [q for q, _t, _v in inp.queries if q not in docs]
    assert min(others) >= len(inp.docs)


# -- percentile rule ----------------------------------------------------


@pytest.mark.parametrize("n,rank,pct", [(20, 10, 50.0), (100, 90, 90.0), (1000, 990, 99.0)])
def test_tail_rank_leaves_ten_beyond(n, rank, pct):
    assert stats.tail_rank(n) == rank
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    value, p, count = stats.tail(samples)
    assert (value, p, count) == (float(rank), pct, n)
    assert sum(1 for s in samples if s > value) == 10


def test_tail_with_too_few_samples_is_undefined():
    assert stats.tail_rank(10) is None
    assert stats.tail([3.0, 1.0, 2.0]) is None
    assert stats.tail([float(i) for i in range(10)]) is None


# -- self time ----------------------------------------------------------


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),
        _span(3, 0, 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0})
    # self times partition the root's wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 5.0),
        _span(2, 0, 3.0, 7.0),
        _span(3, 0, 9.0, 12.0),  # clipped at the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


# -- output checks ------------------------------------------------------


def test_cleaned_golden_lag_and_gated_roll():
    gdp = {("A", y): float(y - 2000) for y in range(2000, 2006)}
    gdp[("A", 2003)] = None  # dropped by the join filter: frame shifts
    unemp = {("A", y): 1.0 for y in range(2000, 2006)}
    g = checks.cleaned_golden(gdp, unemp)
    assert sorted(g) == [("A", y) for y in (2000, 2001, 2002, 2004, 2005)]
    assert g[("A", 2000)][2:] == (None, None, None)
    assert g[("A", 2001)][2:] == (0.0, None, None)
    assert g[("A", 2002)][2:] == (1.0, 1.0, 1.0)  # 3 rows: gate opens
    assert g[("A", 2004)][2] == 2.0  # lag skips the dropped year
    assert g[("A", 2005)][3] == pytest.approx(round((0 + 1 + 2 + 4 + 5) / 5, 4))


def _row(iso3, year, vals):
    return dict(zip(("country_iso3", "year", *checks.CLEANED_COLS), (iso3, year, *vals)))


def test_cleaned_check_rejects_a_corrupted_row():
    gdp = {("A", y): 1.5 for y in range(2000, 2004)}
    g = checks.cleaned_golden(gdp, dict(gdp))
    good = [_row(k[0], k[1], v) for k, v in g.items()]
    assert checks.check_cleaned_rows(good, g) == 4
    bad = [dict(r) for r in good]
    bad[3]["gdp_growth_roll5"] += 0.01
    with pytest.raises(checks.CheckFailed):
        checks.check_cleaned_rows(bad, g)


def _answer(qid, ids):
    return [{"query_id": qid, "rank": i + 1, "doc_id": d} for i, d in enumerate(ids)]


def test_answer_check_rejects_corruption():
    checks.check_answer(_answer(99, [1, 2, 3]), 99, mmr_k=10)
    for bad in (
        _answer(99, [1, 2, 2]),  # repeated doc
        _answer(99, [1, 99]),  # self-hit
        _answer(99, list(range(11))),  # more than mmr_k
        [],  # empty
        [dict(r, rank=r["rank"] + 1) for r in _answer(99, [1, 2])],  # ranks 2..3
    ):
        with pytest.raises(checks.CheckFailed):
            checks.check_answer(bad, 99, mmr_k=10)


def test_exhaustive_probe_check_rejects_a_wrong_neighbour():
    corpus = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])]
    q = [1.0, 0.05]
    sims = {i: checks.round4(checks.cosine(checks.f32(q), checks.f32(v))) for i, v in corpus}
    good = [
        {"corpus_id": 0, "cos_sim": sims[0], "rank": 1},
        {"corpus_id": 1, "cos_sim": sims[1], "rank": 2},
    ]
    checks.check_exhaustive_probe(good, q, corpus, k=2)
    bad = [good[0], {"corpus_id": 2, "cos_sim": sims[2], "rank": 2}]
    with pytest.raises(checks.CheckFailed):
        checks.check_exhaustive_probe(bad, q, corpus, k=2)


def test_exhaustive_probe_check_excludes_and_rejects_the_query_itself():
    corpus = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])]
    sims = {i: checks.round4(checks.cosine(checks.f32(corpus[0][1]), checks.f32(v)))
            for i, v in corpus}
    # doc 0 asks for its own neighbours: it is excluded from the top-k
    good = [
        {"corpus_id": 1, "cos_sim": sims[1], "rank": 1},
        {"corpus_id": 2, "cos_sim": sims[2], "rank": 2},
    ]
    checks.check_exhaustive_probe(good, corpus[0][1], corpus, k=2, query_id=0)
    self_hit = [{"corpus_id": 0, "cos_sim": 1.0, "rank": 1}, good[0]]
    with pytest.raises(checks.CheckFailed):
        checks.check_exhaustive_probe(self_hit, corpus[0][1], corpus, k=2, query_id=0)
