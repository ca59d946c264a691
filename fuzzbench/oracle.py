"""String-similarity oracles that share no code with the engine.

``levenshtein`` and ``jaro_winkler`` are plain-Python reference
implementations. ``levenshtein_many`` is a numpy bit-parallel
(Myers / Hyyroe) edit distance over many pairs at once: the brute-force
oracle and recall eligibility need millions of distances, which plain
Python cannot do within a run; ``bag_distance_many`` is a cheaper lower
bound that drops most pairs before it. The tests pin the levenshtein
versions to each other.

Scores follow the engine's documented semantics: inputs are lowercased,
levenshtein similarity is ``1 - dist / max(len)``, jaro-winkler uses
prefix scale 0.1 over at most 4 characters, boosted only above 0.7.
A threshold ``t`` keeps a pair iff its normalized distance is at most
``(100 - int(t)) / 100``.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np


# pairs per histogram difference in bag_distance_many (bounds its memory)
_BAG_CHUNK = 1 << 18


def distance_bound(threshold: float) -> float:
    return (100 - int(threshold)) / 100


def levenshtein(a: str, b: str) -> int:
    """Edit distance, Wagner-Fischer with a single rolling row."""
    if len(a) < len(b):
        a, b = b, a
    row = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        diag, row[0] = row[0], i
        for j, cb in enumerate(b, 1):
            above = row[j]
            row[j] = min(above + 1, row[j - 1] + 1, diag + (ca != cb))
            diag = above
    return row[len(b)]


def levenshtein_distance_norm(a: str, b: str) -> float:
    a, b = a.lower(), b.lower()
    longest = max(len(a), len(b), 1)
    return levenshtein(a, b) / longest


def jaro_winkler(a: str, b: str) -> float:
    """Jaro-Winkler similarity of two (already lowercased) strings."""
    if a == b:
        return 1.0
    if not a or not b:
        return 0.0
    reach = max(max(len(a), len(b)) // 2 - 1, 0)
    used_b = [False] * len(b)
    matched_a = []
    for i, ch in enumerate(a):
        for j in range(max(0, i - reach), min(len(b), i + reach + 1)):
            if not used_b[j] and b[j] == ch:
                used_b[j] = True
                matched_a.append(ch)
                break
    m = len(matched_a)
    if m == 0:
        return 0.0
    matched_b = [ch for ch, used in zip(b, used_b) if used]
    half_transpositions = sum(x != y for x, y in zip(matched_a, matched_b))
    jaro = (m / len(a) + m / len(b) + (m - half_transpositions // 2) / m) / 3
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1 - jaro)


def jaro_winkler_distance_norm(a: str, b: str) -> float:
    return 1.0 - jaro_winkler(a.lower(), b.lower())


DISTANCE = {
    "levenshtein": levenshtein_distance_norm,
    "jaro_winkler": jaro_winkler_distance_norm,
}


def _encode(strings: Sequence[str], width: int) -> np.ndarray:
    """Lowercased ASCII codes, zero-padded to ``width`` columns."""
    out = np.zeros((len(strings), width), dtype=np.uint8)
    for i, s in enumerate(strings):
        raw = s.lower().encode("ascii")
        out[i, : len(raw)] = np.frombuffer(raw, dtype=np.uint8)
    return out


def _nonzero_codes(strings: Sequence[str]):
    """(row, position, code) of every character of the strings."""
    width = max((len(s) for s in strings), default=0)
    codes = _encode(strings, max(width, 1))
    rows, pos = np.nonzero(codes)
    return rows, pos, codes[rows, pos]


def _pattern_masks(strings: Sequence[str]) -> np.ndarray:
    """Per string, a 128-entry table: bit i set where char i == code."""
    rows, pos, codes = _nonzero_codes(strings)
    masks = np.zeros((len(strings), 128), dtype=np.uint64)
    np.bitwise_or.at(masks, (rows, codes), np.left_shift(np.uint64(1), pos.astype(np.uint64)))
    return masks


def _histograms(strings: Sequence[str]) -> np.ndarray:
    """Per string, the count of each of the 128 ASCII codes."""
    rows, _, codes = _nonzero_codes(strings)
    flat = np.bincount(rows * 128 + codes, minlength=len(strings) * 128)
    return flat.reshape(len(strings), 128).astype(np.int16)


def _myers(eq_at, pat_len: np.ndarray, txt_len: np.ndarray, width: int) -> np.ndarray:
    """Bit-parallel edit distance. ``eq_at(j)`` gives, per pair, the
    pattern bitmask of text character j; ``pat_len`` and ``txt_len``
    broadcast to the pair shape."""
    top = np.left_shift(np.uint64(1), (pat_len - 1).astype(np.uint64))
    one = np.uint64(1)
    shape = np.broadcast_shapes(pat_len.shape, txt_len.shape)
    vp = np.full(shape, np.uint64(0xFFFFFFFFFFFFFFFF))
    vn = np.zeros(shape, dtype=np.uint64)
    dist = np.broadcast_to(pat_len, shape).astype(np.int64)
    with np.errstate(over="ignore"):
        for j in range(width):
            eq = eq_at(j)
            d0 = (((eq & vp) + vp) ^ vp) | eq | vn
            hp = vn | ~(d0 | vp)
            hn = d0 & vp
            live = j < txt_len
            dist += ((hp & top) != 0) & live
            dist -= ((hn & top) != 0) & live
            hp = (hp << one) | one
            hn = hn << one
            vp = hn | ~(d0 | hp)
            vn = hp & d0
    return dist


def _check_patterns(patterns: Sequence[str]) -> None:
    if any(len(p) > 64 or not p for p in patterns):
        raise ValueError("patterns must be 1..64 characters")


def _lengths(strings: Sequence[str]) -> np.ndarray:
    return np.array([len(s) for s in strings], dtype=np.int64)


def levenshtein_many(
    patterns: Sequence[str],
    texts: Sequence[str],
    pat_idx: np.ndarray,
    txt_idx: np.ndarray,
) -> np.ndarray:
    """Edit distance of lowercased ``patterns[pat_idx[k]]`` vs
    ``texts[txt_idx[k]]`` for every k. Patterns are at most 64 ASCII
    characters (one machine word), texts are any length."""
    _check_patterns(patterns)
    masks = _pattern_masks(patterns)
    width = max((len(t) for t in texts), default=0)
    codes = _encode(texts, max(width, 1))
    return _myers(
        lambda j: masks[pat_idx, codes[txt_idx, j]],
        _lengths(patterns)[pat_idx], _lengths(texts)[txt_idx], width,
    )


def bag_distance_many(
    patterns: Sequence[str],
    texts: Sequence[str],
    pat_idx: np.ndarray,
    txt_idx: np.ndarray,
) -> np.ndarray:
    """Bag distance of lowercased pairs: max of the characters only one
    side has, counted with multiplicity. A lower bound of the edit
    distance, and cheap: one histogram difference per pair."""
    pat_hist, txt_hist = _histograms(patterns), _histograms(texts)
    used = np.nonzero(pat_hist.any(axis=0) | txt_hist.any(axis=0))[0]
    pat_hist, txt_hist = pat_hist[:, used], txt_hist[:, used]
    out = np.empty(len(pat_idx), dtype=np.int64)
    for lo in range(0, len(pat_idx), _BAG_CHUNK):
        hi = lo + _BAG_CHUNK
        diff = pat_hist[pat_idx[lo:hi]] - txt_hist[txt_idx[lo:hi]]
        out[lo:hi] = np.maximum(
            np.where(diff > 0, diff, 0).sum(axis=1), np.where(diff < 0, -diff, 0).sum(axis=1)
        )
    return out


def levenshtein_passing(
    patterns: Sequence[str],
    texts: Sequence[str],
    pat_idx: np.ndarray,
    txt_idx: np.ndarray,
    threshold: float,
) -> np.ndarray:
    """Boolean mask: pair k passes the levenshtein threshold, computed
    with the same float arithmetic the engine's filter uses. Pairs whose
    bag distance already fails skip the edit distance."""
    bound = distance_bound(threshold)
    longest = np.maximum(
        np.maximum(_lengths(patterns)[pat_idx], _lengths(texts)[txt_idx]), 1
    )
    keep = bag_distance_many(patterns, texts, pat_idx, txt_idx) / longest <= bound
    idx = np.nonzero(keep)[0]
    dist = levenshtein_many(patterns, texts, pat_idx[idx], txt_idx[idx])
    keep[idx] = dist / longest[idx] <= bound
    return keep
