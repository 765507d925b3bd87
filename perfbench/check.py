"""Answer checkers. Each returns a list of problems; empty means correct."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

# BM25 constants of the engine's scoring (operators/curation.py)
_K1 = 1.2
_B = 0.75


def _normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if v is None:
        return "NULL"
    return str(v)


def canon(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, floats
    rounded to 9 digits, rows sorted (the engine's oracle comparison rule)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_normalize(r[i]) for i in order) for r in rows)


def same_rows(got_cols, got_rows, want_cols, want_rows) -> list[str]:
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns differ: {sorted(got_cols)} != {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"row count differs: {len(got_rows)} != {len(want_rows)}"]
    g, w = canon(got_cols, got_rows), canon(want_cols, want_rows)
    diffs = [(a, b) for a, b in zip(g, w) if a != b]
    return [f"values differ in {len(diffs)} rows, first {diffs[0]}"] if diffs else []


def pinned_columns(cols: list[str], rows, pin: dict) -> list[str]:
    """Row count, plus per-column sum of squares and of absolute values
    (both blind to the sign an eigenvector comes out with) within a
    relative tolerance."""
    if len(rows) != pin["rows"]:
        return [f"row count {len(rows)} != pinned {pin['rows']}"]
    out = []
    for c, (sq, ab) in pin["columns"].items():
        i = cols.index(c)
        got_sq = sum(r[i] * r[i] for r in rows)
        got_ab = sum(abs(r[i]) for r in rows)
        for what, got, want in (("sum of squares", got_sq, sq), ("sum of |x|", got_ab, ab)):
            if abs(got - want) > pin["rel_tol"] * abs(want):
                out.append(f"{c} {what} {got!r} != pinned {want!r}")
    return out


def bm25_marker_score(n_docs: int, avgdl: float, dl: int) -> float:
    """Score the engine must give a term with tf = df = 1 in a doc of
    length ``dl``, following its expression order and its rounding (to 9
    then 6 decimals, half up, from the double's shortest repr)."""
    idf = (float(n_docs) - 1.0 + 0.5) / (1.0 + 0.5)
    tf_norm = (1.0 * (_K1 + 1)) / (1.0 + _K1 * (1 - _B + _B * float(dl) / avgdl))
    d9 = Decimal(repr(idf * tf_norm)).quantize(Decimal("1e-9"), ROUND_HALF_UP)
    return float(d9.quantize(Decimal("1e-6"), ROUND_HALF_UP))


def marker_results(rows, queries: dict[int, str], expect: dict[str, int | None],
                   scores: dict[str, float]) -> list[str]:
    """Ad-hoc search results for one drop's marker queries.

    ``rows`` are (query_id, rank, doc_id, score, n_matched_terms); each
    query searches one marker. A current version's marker must return
    exactly its own doc at rank 1 with the expected score; the marker of a
    superseded version or of a tombstoned doc must return nothing.
    """
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r[0], []).append(r)
    out = []
    for qid, marker in queries.items():
        hits = got.get(qid, [])
        want = expect[marker]
        if want is None:
            if hits:
                out.append(f"{marker}: dead version visible as doc {hits[0][2]}")
            continue
        if [(h[1], h[2]) for h in hits] != [(1, want)]:
            out.append(f"{marker}: want doc {want} alone, got {[(h[1], h[2]) for h in hits]}")
        elif hits[0][3] != scores[marker]:
            out.append(f"{marker}: score {hits[0][3]!r} != {scores[marker]!r}")
    return out
