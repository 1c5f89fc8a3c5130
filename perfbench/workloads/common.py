"""Seeded generators shared by the workloads."""

from __future__ import annotations

import numpy as np

# Pseudo-words alternate consonant/vowel over letters chosen so that no
# word can contain a phrase the NL planner's intent rules look for
# ("by", "of", "org", "doi", "url", "type", "year", "about", ...).
_CONS = list("klmnprstvz")
_VOWS = list("aeiu")
_BANNED = ("same", "similar", "many", "per", "related", "area", "collab")


def zipf_choice(rng: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    """Indices in [0, n) drawn with P(rank r) ∝ 1/r^s over a seeded
    permutation, so popular items repeat."""
    w = 1.0 / np.arange(1, n + 1) ** s
    perm = rng.permutation(n)
    return perm[rng.choice(n, size=size, p=w / w.sum())]


def pseudo_words(rng: np.random.Generator, n: int, syllables=(2, 4)) -> list[str]:
    """``n`` distinct lowercase pseudo-words."""
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(syllables[0], syllables[1] + 1))
        w = "".join(_CONS[rng.integers(len(_CONS))] + _VOWS[rng.integers(len(_VOWS))] for _ in range(k))
        if w in seen or any(b in w for b in _BANNED):
            continue
        seen.add(w)
        out.append(w)
    return out


def random_letters(rng: np.random.Generator, length: int) -> str:
    return rng.integers(97, 123, size=length, dtype=np.uint8).tobytes().decode()
