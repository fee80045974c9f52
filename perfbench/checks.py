"""Result comparison against references prepared before Spark starts."""

from __future__ import annotations

import math

REL_TOL = 1e-7


def close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def _key(row):
    return tuple(round(x, 4) if isinstance(x, float) else x for x in row)


def same_rows(got, want) -> bool:
    """Order-insensitive row equality, floats within ``REL_TOL``."""
    g = sorted((tuple(r) for r in got), key=_key)
    w = sorted((tuple(r) for r in want), key=_key)
    return len(g) == len(w) and all(
        len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
        for a, b in zip(g, w)
    )


def same_topk(got, ref_scores: dict, k: int) -> bool:
    """Top-k check that tolerates reordering among equal scores: the
    result has as many rows as the reference allows, every returned id
    carries its reference score, and the returned scores are the
    reference's k best. ``got`` is [(id, score)]; ``ref_scores`` maps
    candidate ids (at least the k best and every id tied with the k-th)
    to their reference scores."""
    want = sorted(ref_scores.values(), reverse=True)[:k]
    if len(got) != len(want):
        return False
    for gid, gscore in got:
        ref = ref_scores.get(gid)
        if ref is None or not close(float(ref), float(gscore)):
            return False
    have = sorted((float(s) for _i, s in got), reverse=True)
    return all(close(a, b) for a, b in zip(have, want))
