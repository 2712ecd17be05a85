"""Pure-Python goldens and output checks. A failed check raises
`CheckFailed`; the runner counts it as a failed operation."""

from __future__ import annotations

import math
import struct
from decimal import ROUND_HALF_UP, Decimal


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def round4(x: float | None) -> float | None:
    """Spark's round(double, 4): HALF_UP on the shortest decimal repr."""
    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


# ---------------------------------------------------------------------
# wb-etl: the reference transformer's lag1 / gated roll5 on the join


def cleaned_golden(
    gdp: dict[tuple[str, int], float | None],
    unemp: dict[tuple[str, int], float | None],
    window_rows: int = 5,
    min_periods: int = 3,
) -> dict[tuple[str, int], tuple]:
    """(iso3, year) -> (gdp, unemp, gdp_lag1, gdp_roll5, unemp_roll5):
    inner join on the key, rows with a null on either side dropped,
    features over each entity's remaining rows in year order."""
    by_entity: dict[str, list[tuple[int, float, float]]] = {}
    for key, g in gdp.items():
        u = unemp.get(key)
        if g is None or u is None:
            continue
        by_entity.setdefault(key[0], []).append((key[1], round4(g), round4(u)))
    out = {}
    for iso3, rows in by_entity.items():
        rows.sort()
        for i, (year, g, u) in enumerate(rows):
            frame = rows[max(0, i - window_rows + 1): i + 1]

            def roll(col: int) -> float | None:
                vals = [r[col] for r in frame]
                if len(vals) < min_periods:
                    return None
                return round4(sum(vals) / len(vals))

            lag = round4(rows[i - 1][1]) if i > 0 else None
            out[(iso3, year)] = (g, u, lag, roll(1), roll(2))
    return out


def same_float(a: float | None, b: float | None, tol: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= tol


CLEANED_COLS = (
    "gdp_growth", "unemployment", "gdp_growth_lag1",
    "gdp_growth_roll5", "unemp_roll5",
)


def check_cleaned_rows(rows, golden: dict[tuple[str, int], tuple]) -> None:
    """Every collected cleaned-layer row matches the golden, and (when
    `rows` is the whole layer) no golden row is missing."""
    seen = 0
    for r in rows:
        key = (r["country_iso3"], r["year"])
        want = golden.get(key)
        expect(want is not None, f"cleaned row {key} not in golden")
        got = tuple(r[c] for c in CLEANED_COLS)
        expect(
            all(same_float(a, b) for a, b in zip(got, want)),
            f"cleaned row {key}: got {got}, want {want}",
        )
        seen += 1
    return seen


# ---------------------------------------------------------------------
# search-serve


def check_answer(rows, query_id: int, mmr_k: int) -> None:
    """One hybrid_search answer: at most mmr_k distinct docs, ranks
    exactly 1..k, never the query itself."""
    expect(0 < len(rows) <= mmr_k, f"q{query_id}: {len(rows)} results")
    expect(
        sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1)),
        f"q{query_id}: ranks {[r['rank'] for r in rows]}",
    )
    ids = [r["doc_id"] for r in rows]
    expect(len(set(ids)) == len(ids), f"q{query_id}: repeated doc ids")
    expect(query_id not in ids, f"q{query_id}: self-hit")
    expect(
        all(r["query_id"] == query_id for r in rows),
        f"q{query_id}: answer for another query",
    )


def f32(v: list[float]) -> list[float]:
    """Round-trip through float32, as the embedding column stores it."""
    return list(struct.unpack(f"{len(v)}f", struct.pack(f"{len(v)}f", *v)))


def cosine(a: list[float], b: list[float]) -> float:
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb)


def check_exhaustive_probe(got, query_vec, corpus, k: int, query_id=None,
                           tol=1.01e-4) -> None:
    """`got` (corpus_id, cos_sim, rank rows of an n_probe == n_cells
    index search) equals the brute-force cosine top-k over `corpus`
    (vec_id, embedding) minus the query's own id: every returned
    similarity is the true one, and the k similarities are the k best.
    Ties at 4 decimals may order either way, so ids are compared through
    their similarities."""
    q = f32(query_vec)
    sims = {vid: round4(cosine(q, f32(v))) for vid, v in corpus if vid != query_id}
    best = sorted(sims.values(), reverse=True)[:k]
    got = sorted(got, key=lambda r: r["rank"])
    expect(len(got) == len(best), f"probe returned {len(got)} of {k}")
    for r, want in zip(got, best):
        expect(r["corpus_id"] in sims, f"probe returned the query {query_id} itself")
        expect(
            abs(sims[r["corpus_id"]] - r["cos_sim"]) <= tol,
            f"doc {r['corpus_id']}: cos {r['cos_sim']} vs {sims[r['corpus_id']]}",
        )
        expect(abs(r["cos_sim"] - want) <= tol,
               f"rank {r['rank']}: cos {r['cos_sim']} vs brute {want}")
