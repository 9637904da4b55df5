"""Correctness gates and the numpy truths they compare against.

Each gate takes plain Python/numpy data and returns ``None`` when the
result is right, or a one-line reason when it is wrong. A wrong result
counts as a failed operation; it is never dropped from the data.
"""

from __future__ import annotations

import hashlib
from typing import Sequence

import numpy as np

#: two scores closer than this are a tie: their relative order is free
TIE_EPS = 1e-9


def cosine_scores(base: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine similarity of every row of ``base`` to ``q``, in float64."""
    b = base.astype(np.float64)
    qq = np.asarray(q, dtype=np.float64)
    return (b @ qq) / (np.linalg.norm(b, axis=1) * np.linalg.norm(qq))


def topk_truth(ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[list[int], list[float]]:
    """Brute-force top-k by score, ties broken by id."""
    order = np.lexsort((ids, -scores))[:k]
    return ids[order].tolist(), scores[order].tolist()


def recall(got: Sequence[int], truth: Sequence[int]) -> float:
    return len(set(got) & set(truth)) / max(len(truth), 1)


def exact_topk(got: Sequence[int], truth: Sequence[int],
               truth_scores: Sequence[float], score_of: dict[int, float]) -> str | None:
    """``got`` must be the brute-force top-k in order; positions may only
    differ where the two ids score as a tie."""
    if len(got) != len(truth):
        return f"expected {len(truth)} ids, got {len(got)}"
    for pos, (g, t, ts) in enumerate(zip(got, truth, truth_scores)):
        if g != t and abs(score_of.get(g, -np.inf) - ts) > TIE_EPS:
            return f"rank {pos + 1}: got id {g}, brute force says {t}"
    return None


def all_match(got_values: Sequence, want) -> str | None:
    bad = [v for v in got_values if v != want]
    return f"{len(bad)} rows outside filter {want!r}" if bad else None


def row_count(got: int, want: int) -> str | None:
    return None if got == want else f"store holds {got} rows, model says {want}"


def rank1(got_ids: Sequence[int], got_scores: Sequence[float], want_id: int,
          min_score: float | None = None) -> str | None:
    if not got_ids:
        return f"empty result, expected id {want_id} at rank 1"
    if got_ids[0] != want_id:
        return f"rank 1 is id {got_ids[0]}, expected {want_id}"
    if min_score is not None and got_scores[0] < min_score:
        return f"rank-1 similarity {got_scores[0]:.6f} < {min_score}"
    return None


def canonical_hash(rows: Sequence[Sequence]) -> str:
    """Order-free hash of result rows; floats rounded to 6 places, so the
    Spark and DuckDB forms of one result hash alike."""
    def cell(v):
        if isinstance(v, (float, np.floating)):
            return round(float(v), 6) + 0.0
        if isinstance(v, np.integer):
            return int(v)
        return v

    canon = sorted((tuple(cell(v) for v in r) for r in rows), key=repr)
    return hashlib.md5(repr(canon).encode()).hexdigest()


def same_rows(got: Sequence[Sequence], oracle: Sequence[Sequence]) -> str | None:
    if canonical_hash(got) == canonical_hash(oracle):
        return None
    return f"{len(got)} rows do not hash-match the oracle's {len(oracle)}"


def shingle_set(text: str | None, n: int = 3) -> frozenset:
    """Distinct word n-grams of whitespace tokens, as the package's
    ``functions.text.shingles`` forms them: a text of fewer than ``n``
    tokens is one shingle of all its tokens."""
    toks = text.split() if text else []
    if not toks:
        return frozenset()
    return frozenset(tuple(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def removed_are_near_dups(removed: set[int], shingles: dict[int, frozenset],
                          threshold: float) -> str | None:
    """Every document the dedup removed has a partner among its input
    (``shingles``, by doc id) with exact shingle Jaccard >= ``threshold``.
    Whatever its hash functions, MinHash LSH with an exact verify step
    removes no document without such a partner."""
    index: dict[tuple, list[int]] = {}
    for d, s in shingles.items():
        for g in s:
            index.setdefault(g, []).append(d)
    bad = []
    for d in sorted(removed):
        s = shingles.get(d, frozenset())
        partners = {o for g in s for o in index.get(g, ()) if o != d}
        if not any(jaccard(s, shingles[o]) >= threshold - 1e-12 for o in partners):
            bad.append(d)
    if bad:
        return f"{len(bad)} removed documents have no partner of Jaccard >= {threshold}, e.g. {bad[:3]}"
    return None


def twin_recall(survivors: set[int], pairs: Sequence[tuple[int, int]],
                inputs: set[int]) -> tuple[float, int, list[int]]:
    """Share of the planted (original, twin) pairs, both in the dedup's
    input, whose twin the dedup removed: ``(recall, pairs counted,
    surviving twins)``. 1.0 when no pair is in the input."""
    counted = [t for o, t in pairs if o in inputs and t in inputs]
    kept = [t for t in counted if t in survivors]
    return (1.0 - len(kept) / len(counted) if counted else 1.0), len(counted), kept


def recall_floor(recall: float, floor: float) -> str | None:
    return None if recall >= floor else f"twin recall {recall:.3f} < {floor}"


def subset_of(survivors: set[int], inputs: set[int]) -> str | None:
    extra = survivors - inputs
    return f"{len(extra)} survivors not in the input" if extra else None


# deliberately broken copies of a correct result, used by the smoke mode to
# show that each gate fires

def swap_first_last(xs: list) -> list:
    out = list(xs)
    if len(out) >= 2:
        out[0], out[-1] = out[-1], out[0]
    return out


def drop_last(xs: list) -> list:
    return list(xs)[:-1]
