"""Seeded input generators, one per workload.

Every generator is a pure function of its seed: it draws from a private
``random.Random(seed)`` and touches no file, so the same seed always
gives byte-identical inputs and the program under test receives only
what is generated here.
"""

from __future__ import annotations

import bisect
import json
import math
import random
from dataclasses import dataclass

# ---------------------------------------------------------------------
# shared: a synthetic vocabulary with Zipf-distributed word frequencies


def vocabulary(rng: random.Random, n_words: int) -> list[str]:
    """`n_words` distinct lowercase pseudo-words, rank order = frequency
    order under `zipf_sampler`."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_words:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_sampler(rng: random.Random, n: int, s: float):
    """Draw ranks 0..n-1 with P(rank r) proportional to 1/(r+1)^s."""
    cum: list[float] = []
    total = 0.0
    for r in range(n):
        total += 1.0 / (r + 1) ** s
        cum.append(total)

    def draw() -> int:
        return min(bisect.bisect_left(cum, rng.random() * total), n - 1)

    return draw


def json_bytes(rows) -> int:
    """Size of `rows` as compact JSON — the benchmark's input-byte unit."""
    return len(json.dumps(rows, separators=(",", ":")).encode())


# ---------------------------------------------------------------------
# wb-etl: the paper's World Bank panel, scaled to thousands of entities

GDP = ("gdp_growth", "NY.GDP.MKTP.KD.ZG", "GDP growth (annual %)")
UNEMP = ("unemployment", "SL.UEM.TOTL.ZS", "Unemployment, total (%)")
INDICATORS = (GDP, UNEMP)


@dataclass
class WbInputs:
    backfill: dict[str, list[dict]]  # indicator name -> records
    refreshes: list[dict[str, list[dict]]]  # one dict per daily refresh


def _wb_record(ind, iso3, name, year, value, *, iso_in_country_only=False):
    return {
        "indicator": {"id": ind[1], "value": ind[2]},
        "country": {"id": iso3, "value": name},
        "countryiso3code": None if iso_in_country_only else iso3,
        "date": str(year),
        "value": value,
    }


def _malformed(rng: random.Random, ind, entities, years) -> dict:
    iso3, name = rng.choice(entities)
    if rng.random() < 0.5:  # no iso3 anywhere -> missing_iso3
        rec = _wb_record(ind, "", name, rng.choice(years), 1.0)
        rec["countryiso3code"] = ""
        return rec
    rec = _wb_record(ind, iso3, name, 0, 1.0)  # uncastable year -> bad_year
    rec["date"] = rng.choice(["20x1", "", "year", "n/a"])
    return rec


def wb_inputs(
    seed: int,
    n_entities: int,
    n_refreshes: int,
    first_year: int = 2000,
    backfill_years: int = 21,
    extra_years: int = 3,
    null_frac: float = 0.05,
    malformed_frac: float = 0.01,
    refresh_frac: float = 0.02,
) -> WbInputs:
    """The backfill (every entity, `backfill_years` years, both
    indicators, ~`null_frac` null values) plus `n_refreshes` daily
    refreshes. A refresh carries, per indicator, ~`refresh_frac` of the
    panel as revised values, fills for earlier nulls, first landings of
    later years (some still null) and ~`malformed_frac` malformed
    records. Keys are unique within one indicator's batch, and a value
    never goes from non-null back to null, so the cleaned layer's row
    set only grows."""
    rng = random.Random(seed)
    entities = [(f"E{i:05d}", f"Entity {i}") for i in range(n_entities)]
    years = list(range(first_year, first_year + backfill_years))
    all_years = list(range(first_year, first_year + backfill_years + extra_years))

    def val() -> float:
        return round(rng.gauss(2.0, 3.0), 2)

    state: dict[str, dict[tuple[str, int], float | None]] = {}
    backfill: dict[str, list[dict]] = {}
    for ind in INDICATORS:
        recs = []
        st: dict[tuple[str, int], float | None] = {}
        for iso3, name in entities:
            for y in years:
                v = None if rng.random() < null_frac else val()
                st[(iso3, y)] = v
                recs.append(
                    _wb_record(ind, iso3, name, y, v,
                               iso_in_country_only=rng.random() < 0.02)
                )
        n_bad = max(1, int(len(recs) * malformed_frac))
        recs += [_malformed(rng, ind, entities, years) for _ in range(n_bad)]
        rng.shuffle(recs)
        backfill[ind[0]] = recs
        state[ind[0]] = st

    names = dict(entities)
    refreshes: list[dict[str, list[dict]]] = []
    n_touch = max(1, int(n_entities * backfill_years * refresh_frac))
    for _ in range(n_refreshes):
        batch: dict[str, list[dict]] = {}
        for ind in INDICATORS:
            st = state[ind[0]]
            keys: set[tuple[str, int]] = set()
            while len(keys) < n_touch:
                keys.add((rng.choice(entities)[0], rng.choice(all_years)))
            recs = []
            for iso3, y in sorted(keys):
                if (iso3, y) not in st and rng.random() < 0.3:
                    v = None  # first landing of a not-yet-reported value
                else:
                    v = val()
                st[(iso3, y)] = v
                recs.append(_wb_record(ind, iso3, names[iso3], y, v))
            n_bad = max(1, int(len(recs) * malformed_frac))
            recs += [_malformed(rng, ind, entities, years) for _ in range(n_bad)]
            rng.shuffle(recs)
            batch[ind[0]] = recs
        refreshes.append(batch)
    return WbInputs(backfill, refreshes)


# ---------------------------------------------------------------------
# corpus-curate: a rebuild corpus plus delta batches with seeded
# exact-duplicate, near-duplicate and boilerplate-flood shares

LANGS = ("en", "de", "fr", "es")


@dataclass
class CorpusInputs:
    rebuild: list[tuple[int, str, str]]  # (doc_id, lang, text)
    batches: list[list[tuple[int, str, str]]]
    exact_dup_ids: set[int]  # ids whose text exactly copies a lower id
    short_per_batch: list[int]  # docs under the 20-char landing gate
    short_in_rebuild: int


def _sentence(rng, words, draw, n) -> str:
    return " ".join(words[draw()] for _ in range(n))


def corpus_inputs(
    seed: int,
    n_rebuild: int,
    n_batches: int,
    batch_size: int,
    exact_dup_frac: float = 0.05,
    near_dup_frac: float = 0.05,
    flood_frac: float = 0.15,
    short_frac: float = 0.02,
    n_words: int = 4000,
) -> CorpusInputs:
    """Docs are 30-70 Zipf(1.1) words over a seeded vocabulary. Each
    batch (and the rebuild corpus) mixes fresh docs with exact copies of
    earlier docs, one-word edits of earlier docs (near-dups above the
    0.7 shingle-Jaccard threshold), copies of one boilerplate template
    with a short varying tail (the flood that fills LSH buckets past the
    probe cap) and a few sub-20-char docs the landing gate drops, each
    kind in its exact share of every batch (rounded). Every copy gets a
    higher doc_id than its source."""
    rng = random.Random(seed)
    words = vocabulary(rng, n_words)
    draw = zipf_sampler(rng, n_words, 1.1)
    template = _sentence(rng, words, draw, 60)
    history: list[str] = []  # texts of non-short docs, for copies
    dup_ids: set[int] = set()
    next_id = [0]

    def make(n: int) -> tuple[list[tuple[int, str, str]], int]:
        # exact shares, shuffled: every seed gives batches of the same
        # make-up, so the work per batch does not vary with the seed
        shares = {"short": short_frac, "exact": exact_dup_frac,
                  "near": near_dup_frac, "flood": flood_frac}
        kinds = [k for k, f in shares.items() for _ in range(round(n * f))]
        kinds += ["fresh"] * (n - len(kinds))
        rng.shuffle(kinds)
        if not history:  # copies need a source: start with a fresh doc
            kinds.insert(0, kinds.pop(kinds.index("fresh")))
        rows = []
        for kind in kinds:
            did = next_id[0]
            next_id[0] += 1
            lang = LANGS[rng.randrange(len(LANGS))]
            if kind == "short":
                rows.append((did, lang, words[draw()][:8]))
                continue
            if kind == "exact":
                text = rng.choice(history)
                dup_ids.add(did)
            elif kind == "near":
                toks = rng.choice(history).split(" ")
                toks[rng.randrange(len(toks))] = words[rng.randrange(n_words)]
                text = " ".join(toks)
            elif kind == "flood":
                text = template + " " + _sentence(rng, words, draw, 2)
            else:
                text = _sentence(rng, words, draw, rng.randint(30, 70))
            history.append(text)
            rows.append((did, lang, text))
        return rows, kinds.count("short")

    rebuild, short0 = make(n_rebuild)
    batches, shorts = [], []
    for _ in range(n_batches):
        b, s = make(batch_size)
        batches.append(b)
        shorts.append(s)
    return CorpusInputs(rebuild, batches, dup_ids, shorts, short0)


# ---------------------------------------------------------------------
# search-serve: a document corpus with clustered embeddings, plus a
# query stream with Zipf term skew and vectors near a few hot cells


@dataclass
class SearchInputs:
    docs: list[tuple[int, str]]  # (doc_id, text)
    vecs: list[tuple[int, list[float]]]  # (vec_id, embedding)
    queries: list[tuple[int, list[str], list[float]]]  # (id, terms, vec)


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def search_inputs(
    seed: int,
    n_docs: int,
    n_queries: int,
    dim: int = 64,
    n_topics: int = 16,
    hot_topics: int = 3,
    terms_per_query: int = 3,
    term_skew: float = 1.1,
    n_words: int = 3000,
    self_every: int = 4,
) -> SearchInputs:
    """Each doc belongs to one of `n_topics` topics; its embedding is the
    topic centre plus noise, its text 20-60 Zipf words. Query terms are
    drawn Zipf(`term_skew`) over the vocabulary, so posting sizes range
    from thousands of docs to a handful; query vectors sit near one of
    `hot_topics` topic centres, so probes overlap, and take ids past the
    last doc id. Every `self_every`-th query is an indexed doc instead:
    its id and vector are the doc's own, so the doc is its own nearest
    neighbour and the semantic arm must drop it, and its terms avoid the
    doc's words, so the lexical arm cannot return it either."""
    rng = random.Random(seed)
    words = vocabulary(rng, n_words)
    draw = zipf_sampler(rng, n_words, 1.0)
    centres = [_unit([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(n_topics)]
    docs, vecs = [], []
    for i in range(n_docs):
        c = centres[rng.randrange(n_topics)]
        vecs.append((i, [round(x + rng.gauss(0, 0.08), 6) for x in c]))
        docs.append((i, _sentence(rng, words, draw, rng.randint(20, 60))))
    qdraw = zipf_sampler(rng, n_words, term_skew)
    queries = []
    for q in range(n_queries):
        if q % self_every == self_every - 1:
            qid = rng.randrange(n_docs)
            own = set(docs[qid][1].split(" "))
            terms = set()
            while len(terms) < terms_per_query:
                w = words[qdraw()]
                if w not in own:
                    terms.add(w)
            queries.append((qid, sorted(terms), vecs[qid][1]))
            continue
        terms = sorted({words[qdraw()] for _ in range(terms_per_query)})
        c = centres[rng.randrange(hot_topics)]
        queries.append(
            (n_docs + q, terms, [round(x + rng.gauss(0, 0.05), 6) for x in c])
        )
    return SearchInputs(docs, vecs, queries)
