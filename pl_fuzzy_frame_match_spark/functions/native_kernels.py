"""Optional native (C, ctypes) batch string-distance kernels.

The reference delegates its hot scoring loop to Rust plugin kernels
(/root/reference/pl_fuzzy_frame_match/process.py:46-50 via
``polars-distance``). The Spark engine's equivalent FFI boundary is an
Arrow batch: this module provides C kernels compiled on first use with
the system compiler (``cc``) and called through ``ctypes`` — the fused
candidate scan and the batch kernels on flat uint32 codepoint buffers,
and the refine rounds' entry point (:func:`arrow_score_pairs`) on the
Arrow UTF-8 buffers of a ``mapInArrow`` batch. When no toolchain is
available the engine transparently falls back to codegen levenshtein,
the numpy batch kernels (:mod:`np_kernels`) and per-row Python
(:mod:`py_kernels`) — same pinned semantics, property-tested for exact
equality.

Per-pair costs (fuzzbench multi_refine names, ~35 chars, one core):
jaro-winkler 0.26 us bit-parallel vs 3.5 us with the classic window
scan; the Arrow entry point, UTF-8 decode included, 0.33 us
(jaro-winkler) and 0.22 us (capped levenshtein).

The compiled .so is cached per source-hash in the process temp dir and
published with an atomic rename, so concurrent Python workers (32 on
local[32]; one compile per node on a cluster) never observe a partial
file.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
from typing import Optional, Sequence

import numpy as np

_C_SOURCE = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

/* ---------- jaro / jaro-winkler ---------- */

static double jaro_one(const uint32_t *s1, int64_t l1,
                       const uint32_t *s2, int64_t l2,
                       uint8_t *f1, uint8_t *f2) {
    if (l1 == l2 && (l1 == 0 || memcmp(s1, s2, (size_t)l1 * 4) == 0))
        return 1.0;
    if (l1 == 0 || l2 == 0) return 0.0;
    int64_t maxl = l1 > l2 ? l1 : l2;
    int64_t window = maxl / 2 - 1;
    if (window < 0) window = 0;
    memset(f1, 0, (size_t)l1);
    memset(f2, 0, (size_t)l2);
    int64_t matches = 0;
    for (int64_t i = 0; i < l1; i++) {
        int64_t lo = i > window ? i - window : 0;
        int64_t hi = i + window + 1;
        if (hi > l2) hi = l2;
        for (int64_t j = lo; j < hi; j++) {
            if (!f2[j] && s2[j] == s1[i]) {
                f1[i] = 1; f2[j] = 1; matches++;
                break;
            }
        }
    }
    if (!matches) return 0.0;
    int64_t t = 0, j = 0;
    for (int64_t i = 0; i < l1; i++) {
        if (f1[i]) {
            while (!f2[j]) j++;
            if (s1[i] != s2[j]) t++;
            j++;
        }
    }
    t /= 2;
    double m = (double)matches;
    return (m / l1 + m / l2 + (m - t) / m) / 3.0;
}

/* Winkler's prefix boost of a Jaro similarity j */
static double jw_boost(double j, const uint32_t *s1, int64_t l1,
                       const uint32_t *s2, int64_t l2) {
    if (j <= 0.7) return j;
    int64_t pmax = l1 < l2 ? l1 : l2;
    if (pmax > 4) pmax = 4;
    int64_t prefix = 0;
    for (int64_t i = 0; i < pmax && s1[i] == s2[i]; i++) prefix++;
    return j + prefix * 0.1 * (1.0 - j);
}

/* ---------- damerau-levenshtein (full / unrestricted) ---------- */

/* open-addressing map: codepoint -> last row index in s1 */
typedef struct { uint32_t key; int64_t val; uint8_t used; } da_slot;

static int64_t da_get(da_slot *map, uint64_t mask, uint32_t key) {
    uint64_t h = ((uint64_t)key * 2654435761u) & mask;
    while (map[h].used) {
        if (map[h].key == key) return map[h].val;
        h = (h + 1) & mask;
    }
    return 0;
}

static void da_put(da_slot *map, uint64_t mask, uint32_t key, int64_t val) {
    uint64_t h = ((uint64_t)key * 2654435761u) & mask;
    while (map[h].used && map[h].key != key) h = (h + 1) & mask;
    map[h].key = key; map[h].val = val; map[h].used = 1;
}

static int64_t dl_one(const uint32_t *s1, int64_t l1,
                      const uint32_t *s2, int64_t l2,
                      int64_t *d, int64_t stride,
                      da_slot *map, uint64_t mask) {
    if (l1 == l2 && (l1 == 0 || memcmp(s1, s2, (size_t)l1 * 4) == 0))
        return 0;
    if (l1 == 0) return l2;
    if (l2 == 0) return l1;
    int64_t maxdist = l1 + l2;
    memset(map, 0, (size_t)(mask + 1) * sizeof(da_slot));
    /* d is (l1+2) x (l2+2), row-major with the given stride */
    d[0] = maxdist;
    for (int64_t i = 0; i <= l1; i++) {
        d[(i + 1) * stride + 0] = maxdist;
        d[(i + 1) * stride + 1] = i;
    }
    for (int64_t j = 0; j <= l2; j++) {
        d[0 * stride + j + 1] = maxdist;
        d[1 * stride + j + 1] = j;
    }
    for (int64_t i = 1; i <= l1; i++) {
        int64_t db = 0;
        for (int64_t j = 1; j <= l2; j++) {
            int64_t k = da_get(map, mask, s2[j - 1]);
            int64_t m = db;
            int64_t cost = 1;
            if (s1[i - 1] == s2[j - 1]) { cost = 0; db = j; }
            int64_t sub = d[i * stride + j] + cost;
            int64_t ins = d[(i + 1) * stride + j] + 1;
            int64_t del = d[i * stride + j + 1] + 1;
            int64_t tra = d[k * stride + m] + (i - k - 1) + 1 + (j - m - 1);
            int64_t best = sub;
            if (ins < best) best = ins;
            if (del < best) best = del;
            if (tra < best) best = tra;
            d[(i + 1) * stride + j + 1] = best;
        }
        da_put(map, mask, s1[i - 1], i);
    }
    return d[(l1 + 1) * stride + l2 + 1];
}

/* ---------- indel (LCS) ---------- */

static int64_t lcs_one(const uint32_t *s1, int64_t l1,
                       const uint32_t *s2, int64_t l2,
                       int64_t *prev, int64_t *cur) {
    if (l1 == 0 || l2 == 0) return 0;
    memset(prev, 0, (size_t)(l2 + 1) * sizeof(int64_t));
    for (int64_t i = 1; i <= l1; i++) {
        uint32_t c1 = s1[i - 1];
        cur[0] = 0;
        for (int64_t j = 1; j <= l2; j++) {
            if (c1 == s2[j - 1])
                cur[j] = prev[j - 1] + 1;
            else
                cur[j] = cur[j - 1] >= prev[j] ? cur[j - 1] : prev[j];
        }
        int64_t *tmp = prev; prev = cur; cur = tmp;
    }
    /* after the swap, 'prev' holds the last computed row */
    return prev[l2];
}

/* ---------- banded levenshtein ---------- */

static int64_t lev_banded(const uint32_t *s1, int64_t l1,
                          const uint32_t *s2, int64_t l2,
                          int64_t cap, int64_t *prev, int64_t *cur) {
    /* normalized-threshold pruning: returns the exact distance when
       <= cap, else -1. Two-row DP with an early exit when a whole row
       exceeds the cap. */
    if (l1 > l2) {
        const uint32_t *ts = s1; s1 = s2; s2 = ts;
        int64_t tl = l1; l1 = l2; l2 = tl;
    }
    if (l2 - l1 > cap) return -1;
    if (l1 == 0) return l2 <= cap ? l2 : -1;
    for (int64_t i = 0; i <= l1; i++) prev[i] = i;
    for (int64_t j = 1; j <= l2; j++) {
        uint32_t c2 = s2[j - 1];
        cur[0] = j;
        int64_t rowmin = j;
        for (int64_t i = 1; i <= l1; i++) {
            int64_t cost = s1[i - 1] == c2 ? 0 : 1;
            int64_t v = prev[i - 1] + cost;
            if (prev[i] + 1 < v) v = prev[i] + 1;
            if (cur[i - 1] + 1 < v) v = cur[i - 1] + 1;
            cur[i] = v;
            if (v < rowmin) rowmin = v;
        }
        if (rowmin > cap) return -1;
        int64_t *t = prev; prev = cur; cur = t;
    }
    return prev[l1] <= cap ? prev[l1] : -1;
}

/* ---------- Myers bit-parallel levenshtein ----------
   Myers (JACM 1999) in Hyyro's (2001) formulation: exact edit distance
   of a pattern of length <= 64 against a text of any length, one
   word-op block per text char. The pattern's match-mask table (Peq) is
   built once per LEFT key and reused against every right key it is
   scored with: a direct table for ASCII, a generation-stamped hash for
   the rest (no per-key clear of the hash slots). */

typedef struct { uint32_t key; uint32_t gen; uint64_t mask; } peq_slot;
#define PEQ_SLOTS 256
#define PEQ_MASK  (PEQ_SLOTS - 1)

typedef struct {
    uint64_t ascii[128];
    peq_slot slot[PEQ_SLOTS];
    uint32_t gen;
} peq_table;

static void peq_build(peq_table *P, const uint32_t *s, int64_t m) {
    memset(P->ascii, 0, sizeof(P->ascii));
    if (++P->gen == 0) {                /* uint32 wrap: hard reset */
        memset(P->slot, 0, sizeof(P->slot));
        P->gen = 1;
    }
    for (int64_t i = 0; i < m; i++) {
        uint32_t c = s[i];
        if (c < 128) { P->ascii[c] |= 1ULL << i; continue; }
        size_t p = (size_t)((c * 0x9E3779B1u) & PEQ_MASK);
        while (P->slot[p].gen == P->gen && P->slot[p].key != c)
            p = (p + 1) & PEQ_MASK;
        if (P->slot[p].gen != P->gen) {
            P->slot[p].gen = P->gen; P->slot[p].key = c; P->slot[p].mask = 0;
        }
        P->slot[p].mask |= 1ULL << i;
    }
}

static inline uint64_t peq_get(const peq_table *P, uint32_t c) {
    if (c < 128) return P->ascii[c];
    size_t p = (size_t)((c * 0x9E3779B1u) & PEQ_MASK);
    while (P->slot[p].gen == P->gen) {
        if (P->slot[p].key == c) return P->slot[p].mask;
        p = (p + 1) & PEQ_MASK;
    }
    return 0;
}

static int64_t lev_myers(const peq_table *P, int64_t m,
                         const uint32_t *t, int64_t n, int64_t cap) {
    /* 0 < m <= 64. Returns the distance when <= cap, else -1 (Ukkonen
       cut-off: the last row can drop by at most 1 per remaining text
       char). */
    uint64_t Pv = ~0ULL, Mv = 0;
    int64_t score = m;
    uint64_t high = 1ULL << (m - 1);
    for (int64_t j = 0; j < n; j++) {
        uint64_t Eq = peq_get(P, t[j]);
        uint64_t Xv = Eq | Mv;
        uint64_t Xh = (((Eq & Pv) + Pv) ^ Pv) | Eq;
        uint64_t Ph = Mv | ~(Xh | Pv);
        uint64_t Mh = Pv & Xh;
        if (Ph & high) score++;
        else if (Mh & high) score--;
        Ph = (Ph << 1) | 1ULL;
        Mh <<= 1;
        Pv = Mh | ~(Xv | Ph);
        Mv = Ph & Xv;
        if (score - (n - 1 - j) > cap) return -1;
    }
    return score <= cap ? score : -1;
}

/* ---------- bit-parallel jaro ----------
   Jaro over the match-mask table P of the pattern p (both lengths
   <= 64), as in rapidfuzz: each text char takes the lowest unmatched
   pattern position inside its window in one AND / lowest-set-bit
   step, then the transpositions pair the k-th matched text char with
   the k-th matched pattern char. Per character this greedy matching is
   the same whichever side iterates (both pair equal chars in order,
   never crossing), so the value equals jaro_one's with the arguments
   in either order; m / lp + m / lt is an exact commutative sum. */

static double jaro_bits(const peq_table *P, const uint32_t *p, int64_t lp,
                        const uint32_t *t, int64_t lt) {
    if (lp == lt && (lp == 0 || memcmp(p, t, (size_t)lp * 4) == 0))
        return 1.0;
    if (lp == 0 || lt == 0) return 0.0;
    int64_t w = (lp > lt ? lp : lt) / 2 - 1;
    if (w < 0) w = 0;
    /* window of text position j: pattern positions [j - w, j + w] */
    uint64_t win = (1ULL << (w + 1)) - 1;
    uint64_t pflag = 0, tflag = 0;
    for (int64_t j = 0; j < lt; j++) {
        uint64_t pm = peq_get(P, t[j]) & win & ~pflag;
        pflag |= pm & (0 - pm);
        tflag |= (uint64_t)(pm != 0) << j;
        win = j < w ? (win << 1) | 1ULL : win << 1;
    }
    int64_t m = __builtin_popcountll(pflag);
    if (!m) return 0.0;
    int64_t tr = 0;
    while (tflag) {
        if (t[__builtin_ctzll(tflag)] != p[__builtin_ctzll(pflag)]) tr++;
        tflag &= tflag - 1;
        pflag &= pflag - 1;
    }
    tr /= 2;
    double md = (double)m;
    return (md / lp + md / lt + (md - tr) / md) / 3.0;
}

/* jaro (winkler = 0) or jaro-winkler of s1, s2; P is scratch unless
   have_p says it already holds s1's table (the scan builds it once per
   left key) */
static double jaro_pair(peq_table *P, int have_p,
                        const uint32_t *s1, int64_t l1,
                        const uint32_t *s2, int64_t l2,
                        uint8_t *f1, uint8_t *f2, int winkler) {
    double j;
    if (l1 > 64 || l2 > 64) {
        j = jaro_one(s1, l1, s2, l2, f1, f2);
    } else {
        if (!have_p) peq_build(P, s1, l1);
        j = jaro_bits(P, s1, l1, s2, l2);
    }
    return winkler ? jw_boost(j, s1, l1, s2, l2) : j;
}

/* ---------- bag-distance lower bound ----------
   Character histograms folded to HIST_W one-byte buckets. With A, B the
   strings' character multisets, S = sum |h_A - h_B| and dl = |A| - |B|:
   bag distance max(|A\B|, |B\A|) = (S + |dl|) / 2 <= levenshtein (each
   edit changes each side of the bag difference by at most one). Folding
   buckets and saturating counts at 255 can only shrink S, so
   (S_folded + |dl|) > 2 * cap still proves levenshtein > cap. */

#define HIST_W 64

static inline int hist_bucket(uint32_t c) {
    if (c - 'a' < 26u) return (int)(c - 'a');
    if (c - '0' < 10u) return 26 + (int)(c - '0');
    return 36 + (int)(((c * 0x9E3779B1u) >> 16) % 28u);
}

static void char_hist(const uint32_t *s, int64_t l, uint8_t *h) {
    memset(h, 0, HIST_W);
    for (int64_t k = 0; k < l; k++) {
        uint8_t *b = h + hist_bucket(s[k]);
        if (*b < 255) (*b)++;
    }
}

static inline int64_t hist_l1(const uint8_t *a, const uint8_t *b) {
    int s = 0;
    for (int k = 0; k < HIST_W; k++) s += abs((int)a[k] - (int)b[k]);
    return s;
}

/* ---------- batch drivers ----------
   inputs: flat utf-32 codepoint buffers + (n+1) offset arrays.
   out: normalized DISTANCE in [0,1] (engine flips to similarity). */

static int64_t max_len(const int64_t *off, int64_t n) {
    int64_t m = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t l = off[i + 1] - off[i];
        if (l > m) m = l;
    }
    return m;
}

/* classic jaro / jaro-winkler, kept as the reference the bit-parallel
   routine is tested against */
int batch_jaro_classic(const uint32_t *fa, const int64_t *oa,
                       const uint32_t *fb, const int64_t *ob,
                       int64_t n, int winkler, double *out) {
    int64_t m1 = max_len(oa, n), m2 = max_len(ob, n);
    uint8_t *f1 = malloc((size_t)(m1 > 0 ? m1 : 1));
    uint8_t *f2 = malloc((size_t)(m2 > 0 ? m2 : 1));
    if (!f1 || !f2) { free(f1); free(f2); return -1; }
    for (int64_t i = 0; i < n; i++) {
        const uint32_t *s1 = fa + oa[i];
        const uint32_t *s2 = fb + ob[i];
        int64_t l1 = oa[i + 1] - oa[i], l2 = ob[i + 1] - ob[i];
        double j = jaro_one(s1, l1, s2, l2, f1, f2);
        out[i] = 1.0 - (winkler ? jw_boost(j, s1, l1, s2, l2) : j);
    }
    free(f1); free(f2);
    return 0;
}

/* ---------- one pair, any metric ----------
   Shared by the fused scan, the batch kernels and the Arrow refine
   pass. The workspace is sized for the longest strings of one call. */

typedef struct {
    peq_table *peq;          /* s1's match masks: levenshtein, jaro */
    int64_t *prev, *cur;     /* DP rows: banded levenshtein, indel */
    uint8_t *f1, *f2;        /* match flags of the classic jaro */
    int64_t *dmat, stride;   /* damerau matrix */
    da_slot *map;
    uint64_t mapmask;
} pair_work;

static void work_free(pair_work *W) {
    free(W->peq); free(W->prev); free(W->cur); free(W->f1); free(W->f2);
    free(W->dmat); free(W->map);
    memset(W, 0, sizeof(*W));
}

static int work_init(pair_work *W, int metric, int64_t lmax, int64_t rmax) {
    memset(W, 0, sizeof(*W));
    int64_t w = (lmax > rmax ? lmax : rmax) + 2;
    W->prev = malloc((size_t)w * sizeof(int64_t));
    W->cur = malloc((size_t)w * sizeof(int64_t));
    if (!W->prev || !W->cur) return -1;
    if (metric <= 2 && !(W->peq = calloc(1, sizeof(peq_table)))) return -1;
    if (metric == 1 || metric == 2) {
        W->f1 = malloc((size_t)(lmax > 0 ? lmax : 1));
        W->f2 = malloc((size_t)(rmax > 0 ? rmax : 1));
        if (!W->f1 || !W->f2) return -1;
    } else if (metric == 3) {
        W->stride = rmax + 2;
        W->dmat = malloc((size_t)(lmax + 2) * (size_t)W->stride
                         * sizeof(int64_t));
        uint64_t cap = 8;
        while (cap < (uint64_t)(2 * (lmax + rmax) + 4)) cap <<= 1;
        W->map = malloc((size_t)cap * sizeof(da_slot));
        W->mapmask = cap - 1;
        if (!W->dmat || !W->map) return -1;
    }
    return 0;
}

/* metric ids: 0 levenshtein, 1 jaro, 2 jaro_winkler,
   3 damerau_levenshtein, 4 indel, 5 hamming.
   Normalized distance of one lowercased pair: returns 1 and sets *d
   when it is <= bound, else 0. With have_p, W->peq already holds s1's
   table (the scan builds it once per left key whenever 0 < l1 <= 64).
   Levenshtein is capped at floor(bound * maxlen), the codegen path's
   cap, and skips the DP when the length difference or the folded
   bag-distance bound (h1/h2, may be NULL) already exceeds it; damerau
   and indel skip pairs whose length difference alone is past the
   bound. The skips only drop pairs the full score would reject.
   Forced inline: as a call, the scan's levenshtein loop (~100M
   pairs/s, most pairs rejected by the length and bag filters) runs
   ~30% slower. */
static inline __attribute__((always_inline))
int score_one(pair_work *W, int metric, double bound, int have_p,
              const uint32_t *s1, int64_t l1,
              const uint32_t *s2, int64_t l2,
              const uint8_t *h1, const uint8_t *h2, double *d) {
    int64_t ml = l1 > l2 ? l1 : l2;
    int64_t dl = l1 > l2 ? l1 - l2 : l2 - l1;
    if (!ml) {
        *d = 0.0;
    } else if (metric == 0) {
        int64_t cap = (int64_t)(bound * (double)ml);
        if (cap >= ml) cap = ml;
        if (dl > cap) return 0;
        if (h1 && hist_l1(h1, h2) + dl > 2 * cap) return 0;
        int64_t dist;
        if (l1 > 0 && l1 <= 64) {
            if (!have_p) peq_build(W->peq, s1, l1);
            dist = lev_myers(W->peq, l1, s2, l2, cap);
        } else {
            dist = lev_banded(s1, l1, s2, l2, cap, W->prev, W->cur);
        }
        if (dist < 0) return 0;
        *d = (double)dist / (double)ml;
    } else if (metric == 1 || metric == 2) {
        *d = 1.0 - jaro_pair(W->peq, have_p, s1, l1, s2, l2, W->f1, W->f2,
                             metric == 2);
    } else if (metric == 3) {
        if ((double)dl / (double)ml > bound) return 0;
        *d = (double)dl_one(s1, l1, s2, l2, W->dmat, W->stride, W->map,
                            W->mapmask) / (double)ml;
    } else if (metric == 4) {
        int64_t tot = l1 + l2;
        if ((double)dl / (double)tot > bound) return 0;
        *d = (double)(tot - 2 * lcs_one(s1, l1, s2, l2, W->prev, W->cur))
             / (double)tot;
    } else {
        int64_t lmin = l1 < l2 ? l1 : l2;
        int64_t mism = 0;
        for (int64_t t = 0; t < lmin; t++)
            if (s1[t] != s2[t]) mism++;
        *d = (double)(mism + dl) / (double)ml;
    }
    return *d <= bound;
}

/* ---------- fused scan + exact-metric scoring ----------
   Two candidate modes, one scoring loop:

   - sketch (lsk != NULL): for each left sketch, XOR+popcount against
     every right sketch (the right side is nr*8 bytes, cache-resident),
     keep hamming <= max_ham, then the top_n smallest by (hamming, j)
     (j ascending = key-rank order, matching the numpy path bit for
     bit). Lossy by design.
   - exact (lsk == NULL): every right key is a candidate. Lossless.

   Each candidate is scored with the exact metric on the lowercased
   strings and emitted when its normalized distance is <= bound. For
   levenshtein a pair is rejected before the DP when the length
   difference or (exact mode) the bag-distance bound already exceeds
   its cap floor(bound * maxlen); in exact mode a right side sorted by
   length also restricts each left key to the admissible length window.
   Filters only skip pairs whose DP would reject them, so the emitted
   set is unchanged.

   Left keys are processed from i0 until the next key might overflow
   max_out; *next_i returns where to resume. Returns the number of
   emitted pairs, or -1 on allocation failure. */

typedef struct { uint32_t key; int64_t j; } scan_cand;

int64_t sketch_scan_score(const uint64_t *lsk, int64_t nl,
                          const uint64_t *rsk, int64_t nr,
                          int64_t max_ham, int64_t top_n, int metric,
                          const uint32_t *lflat, const int64_t *loff,
                          const uint32_t *rflat, const int64_t *roff,
                          double bound, int64_t i0, int64_t *next_i,
                          int64_t max_out,
                          int64_t *out_li, int32_t *out_rj, double *out_d) {
    int exact = lsk == NULL;
    int64_t per_key = exact ? nr : (top_n < nr ? top_n : nr);
    scan_cand *cand = NULL, *cand2 = NULL;
    uint8_t *rhist = NULL;
    int len_sorted = 0;
    pair_work W;
    int64_t rmax = max_len(roff, nr);
    int64_t out_n = 0, i = i0;
    if (work_init(&W, metric, max_len(loff, nl), rmax) < 0
        || per_key > max_out)
        goto fail;
    if (!exact) {
        cand = malloc((size_t)(nr > 0 ? nr : 1) * sizeof(scan_cand));
        cand2 = malloc((size_t)(nr > 0 ? nr : 1) * sizeof(scan_cand));
        if (!cand || !cand2) goto fail;
    }
    if (metric == 0 && exact) {
        rhist = malloc((size_t)(nr > 0 ? nr : 1) * HIST_W);
        if (!rhist) goto fail;
        len_sorted = 1;
        for (int64_t j = 0; j < nr; j++) {
            char_hist(rflat + roff[j], roff[j + 1] - roff[j],
                      rhist + j * HIST_W);
            if (j && roff[j + 1] - roff[j] < roff[j] - roff[j - 1])
                len_sorted = 0;
        }
    }
    for (; i < nl && out_n + per_key <= max_out; i++) {
        const uint32_t *s1 = lflat + loff[i];
        int64_t l1 = loff[i + 1] - loff[i];
        int64_t jlo = 0, jhi = nr, nc = 0;
        if (!exact) {
            uint64_t s = lsk[i];
            for (int64_t j = 0; j < nr; j++) {
                int64_t h = __builtin_popcountll(s ^ rsk[j]);
                if (h <= max_ham) {
                    cand[nc].key = ((uint32_t)h << 21) | (uint32_t)j;
                    cand[nc].j = j;
                    nc++;
                }
            }
            if (nc > top_n) {
                /* counting selection on the <=65 hamming buckets: the
                   (h asc, j asc) order of a sort on (h<<21|j) — per-
                   bucket order is scan order = j ascending — at
                   O(nc + 65) instead of O(nc log nc). */
                int64_t hist[66];
                memset(hist, 0, sizeof(hist));
                for (int64_t c = 0; c < nc; c++)
                    hist[(cand[c].key >> 21) + 1]++;
                for (int64_t h = 1; h <= 65; h++) hist[h] += hist[h - 1];
                for (int64_t c = 0; c < nc; c++) {
                    int64_t h = cand[c].key >> 21;
                    cand2[hist[h]++] = cand[c];
                }
                scan_cand *t = cand; cand = cand2; cand2 = t;
                nc = top_n;
            }
        } else if (len_sorted) {
            /* admissible right lengths: l2 <= l1 needs l1 - l2 <= cap(l1);
               l2 > l1 needs l2 - l1 <= bound * l2, i.e. l2 <= l1 / (1 -
               bound) (+1 absorbs float rounding; the per-pair test below
               stays exact) */
            int64_t cap1 = (int64_t)(bound * (double)l1);
            if (cap1 > l1) cap1 = l1;
            int64_t lo_len = l1 - cap1;
            int64_t hi_len = bound >= 1.0
                ? rmax : (int64_t)((double)l1 / (1.0 - bound)) + 1;
            int64_t a = 0, b = nr;
            while (a < b) {
                int64_t mid = (a + b) / 2;
                if (roff[mid + 1] - roff[mid] < lo_len) a = mid + 1; else b = mid;
            }
            jlo = a;
            b = nr;
            while (a < b) {
                int64_t mid = (a + b) / 2;
                if (roff[mid + 1] - roff[mid] <= hi_len) a = mid + 1; else b = mid;
            }
            jhi = a;
        }
        /* the pattern table of this left key, shared by all its pairs */
        if (metric <= 2 && l1 > 0 && l1 <= 64) peq_build(W.peq, s1, l1);
        uint8_t lh[HIST_W];
        if (rhist) char_hist(s1, l1, lh);
        int64_t n_iter = exact ? jhi - jlo : nc;
        for (int64_t c = 0; c < n_iter; c++) {
            int64_t j = exact ? jlo + c : cand[c].j;
            double d;
            if (score_one(&W, metric, bound, 1, s1, l1,
                          rflat + roff[j], roff[j + 1] - roff[j],
                          rhist ? lh : NULL,
                          rhist ? rhist + j * HIST_W : NULL, &d)) {
                out_li[out_n] = i;
                out_rj[out_n] = (int32_t)j;
                out_d[out_n] = d;
                out_n++;
            }
        }
    }
    *next_i = i;
    free(cand); free(cand2); free(rhist); work_free(&W);
    return out_n;
fail:
    free(cand); free(cand2); free(rhist); work_free(&W);
    return -1;
}

/* every metric through score_one, no bound: out[i] = distance */
int batch_distance(const uint32_t *fa, const int64_t *oa,
                   const uint32_t *fb, const int64_t *ob,
                   int64_t n, int metric, double *out) {
    pair_work W;
    if (work_init(&W, metric, max_len(oa, n), max_len(ob, n)) < 0) {
        work_free(&W);
        return -1;
    }
    for (int64_t i = 0; i < n; i++)
        score_one(&W, metric, 2.0, 0, fa + oa[i], oa[i + 1] - oa[i],
                  fb + ob[i], ob[i + 1] - ob[i], NULL, NULL, out + i);
    work_free(&W);
    return 0;
}

/* ---------- refine rounds over Arrow string arrays ----------
   Row i pairs element a0 + i of one Arrow UTF-8 array (int32 offsets)
   with element b0 + i of another, read straight from their validity,
   offset and data buffers (a0 / b0: the arrays' slice offsets; a NULL
   validity buffer means no nulls). The values arrive lowercased. Null
   rows never match. Keeps the rows whose normalized distance is
   <= bound and writes each kept row's index and similarity (1 - d),
   the same double the pandas-UDF / codegen path computes. Returns the
   number of kept rows, or -1 on allocation failure. */

static int64_t utf8_decode(const uint8_t *s, int64_t nb, uint32_t *out) {
    int64_t n = 0, k = 0;
    while (k < nb) {
        uint32_t c = s[k];
        int len = c >= 0xF0 ? 4 : c >= 0xE0 ? 3 : c >= 0xC0 ? 2 : 1;
        if (len == 1 || k + len > nb) {     /* ASCII or a stray byte */
            out[n++] = c;
            k++;
            continue;
        }
        c &= 0x3Fu >> (len - 1);
        for (int q = 1; q < len; q++) c = (c << 6) | (s[k + q] & 0x3Fu);
        out[n++] = c;
        k += len;
    }
    return n;
}

static inline int arrow_valid(const uint8_t *v, int64_t i) {
    return !v || ((v[i >> 3] >> (i & 7)) & 1);
}

int64_t arrow_score_pairs(int metric, double bound, int64_t n,
                          const uint8_t *av, int64_t a0, const int32_t *ao,
                          const uint8_t *ad,
                          const uint8_t *bv, int64_t b0, const int32_t *bo,
                          const uint8_t *bd,
                          int32_t *out_i, double *out_s) {
    /* byte lengths bound the code-point lengths */
    int64_t amax = 0, bmax = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t la = ao[a0 + i + 1] - ao[a0 + i];
        int64_t lb = bo[b0 + i + 1] - bo[b0 + i];
        if (la > amax) amax = la;
        if (lb > bmax) bmax = lb;
    }
    pair_work W;
    uint32_t *s1 = malloc((size_t)(amax + 1) * sizeof(uint32_t));
    uint32_t *s2 = malloc((size_t)(bmax + 1) * sizeof(uint32_t));
    int64_t out_n = -1;
    if (work_init(&W, metric, amax, bmax) < 0 || !s1 || !s2) goto done;
    out_n = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t ia = a0 + i, ib = b0 + i;
        if (!arrow_valid(av, ia) || !arrow_valid(bv, ib)) continue;
        int64_t l1 = utf8_decode(ad + ao[ia], ao[ia + 1] - ao[ia], s1);
        int64_t l2 = utf8_decode(bd + bo[ib], bo[ib + 1] - bo[ib], s2);
        double d;
        if (score_one(&W, metric, bound, 0, s1, l1, s2, l2, NULL, NULL, &d)) {
            out_i[out_n] = (int32_t)i;
            out_s[out_n] = 1.0 - d;
            out_n++;
        }
    }
done:
    free(s1); free(s2); work_free(&W);
    return out_n;
}
"""

_LIB: Optional[ctypes.CDLL] = None
_TRIED = False


# Flag tiers, best first. -march=native matters enormously for the
# sketch scan: without it __builtin_popcountll lowers to a ~15-op SWAR
# sequence and the XOR+popcount loop stays scalar (measured 42M
# pairs/s/core); with it the compiler emits hardware POPCNT and
# auto-vectorizes the scan. Per-NODE compile + cache means native is
# safe on heterogeneous clusters (each node builds for its own ISA);
# the plain tier is the fallback for compilers that reject -march.
# -ffp-contract=off: with FMA available the compiler would fuse the
# Winkler boost j + p * 0.1 * (1 - j) into one rounding, and scores
# would differ from the Python and numpy tiers in the last bit.
_CFLAG_TIERS = (
    ["-O3", "-march=native", "-funroll-loops", "-ffp-contract=off"],
    ["-O3", "-ffp-contract=off"],
)


def _compile() -> Optional[ctypes.CDLL]:
    src_hash = hashlib.sha256(
        (_C_SOURCE + repr(_CFLAG_TIERS)).encode()
    ).hexdigest()[:16]
    cache_dir = os.path.join(tempfile.gettempdir(), "plffm_native")
    so_path = os.path.join(cache_dir, f"kernels_{src_hash}_v2.so")
    if not os.path.exists(so_path):
        os.makedirs(cache_dir, exist_ok=True)
        c_path = os.path.join(cache_dir, f"kernels_{src_hash}.c")
        with open(c_path, "w") as fh:
            fh.write(_C_SOURCE)
        tmp_so = so_path + f".tmp.{os.getpid()}"
        last_err: Optional[Exception] = None
        for flags in _CFLAG_TIERS:
            try:
                subprocess.run(
                    ["cc", *flags, "-shared", "-fPIC", "-o", tmp_so, c_path],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
                last_err = None
                break
            except Exception as exc:  # try the next flag tier
                last_err = exc
        if last_err is not None:
            raise last_err
        os.rename(tmp_so, so_path)  # atomic publish for concurrent workers
    lib = ctypes.CDLL(so_path)
    u32p = ctypes.POINTER(ctypes.c_uint32)
    i64p = ctypes.POINTER(ctypes.c_int64)
    f64p = ctypes.POINTER(ctypes.c_double)
    for fn in (lib.batch_distance, lib.batch_jaro_classic):
        fn.argtypes = [
            u32p, i64p, u32p, i64p, ctypes.c_int64, ctypes.c_int, f64p
        ]
        fn.restype = ctypes.c_int
    u64p = ctypes.POINTER(ctypes.c_uint64)
    i32p = ctypes.POINTER(ctypes.c_int32)
    lib.sketch_scan_score.argtypes = [
        u64p, ctypes.c_int64, u64p, ctypes.c_int64,
        ctypes.c_int64, ctypes.c_int64, ctypes.c_int,
        u32p, i64p, u32p, i64p,
        ctypes.c_double, ctypes.c_int64, i64p, ctypes.c_int64,
        i64p, i32p, f64p,
    ]
    lib.sketch_scan_score.restype = ctypes.c_int64
    vp = ctypes.c_void_p
    lib.arrow_score_pairs.argtypes = [
        ctypes.c_int, ctypes.c_double, ctypes.c_int64,
        vp, ctypes.c_int64, vp, vp,
        vp, ctypes.c_int64, vp, vp,
        i32p, f64p,
    ]
    lib.arrow_score_pairs.restype = ctypes.c_int64
    return lib


def _get_lib() -> Optional[ctypes.CDLL]:
    global _LIB, _TRIED
    if not _TRIED:
        _TRIED = True
        try:
            _LIB = _compile()
        except Exception:
            _LIB = None
    return _LIB


def native_available() -> bool:
    return _get_lib() is not None


def _flatten(strings: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    n = len(strings)
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    total = int(off[-1])
    if total:
        flat = np.frombuffer(
            "".join(strings).encode("utf-32-le"), dtype=np.uint32
        )
    else:
        flat = np.zeros(1, dtype=np.uint32)
    return flat, off


def _run(fn_name: str, a: Sequence[str], b: Sequence[str], *extra) -> np.ndarray:
    lib = _get_lib()
    if lib is None:
        raise RuntimeError("native kernels unavailable")
    n = len(a)
    out = np.empty(n, dtype=np.float64)
    if n == 0:
        return out
    fa, oa = _flatten(a)
    fb, ob = _flatten(b)
    u32p = ctypes.POINTER(ctypes.c_uint32)
    i64p = ctypes.POINTER(ctypes.c_int64)
    f64p = ctypes.POINTER(ctypes.c_double)
    rc = getattr(lib, fn_name)(
        fa.ctypes.data_as(u32p),
        oa.ctypes.data_as(i64p),
        fb.ctypes.data_as(u32p),
        ob.ctypes.data_as(i64p),
        ctypes.c_int64(n),
        *extra,
        out.ctypes.data_as(f64p),
    )
    if rc != 0:
        raise MemoryError("native kernel allocation failed")
    return out


_METRIC_IDS = {
    "levenshtein": 0,
    "jaro": 1,
    "jaro_winkler": 2,
    "damerau_levenshtein": 3,
    "indel": 4,
    "hamming": 5,
}


def _batch(metric: str):
    mid = ctypes.c_int(_METRIC_IDS[metric])
    return lambda a, b: _run("batch_distance", a, b, mid)


# metric -> batch distance over (list[str], list[str]) -> np.ndarray
NATIVE_DISTANCE = {m: _batch(m) for m in _METRIC_IDS}


def classic_jaro_distance(a, b, winkler: bool) -> np.ndarray:
    """1 - (jaro | jaro-winkler) through the classic window-scan routine
    that the bit-parallel kernel replaces (the reference it is tested
    against)."""
    return _run("batch_jaro_classic", a, b, ctypes.c_int(int(winkler)))


def arrow_score_pairs(a, b, metric: str, bound: float):
    """Score row i of Arrow string array ``a`` against row i of ``b``
    (both already lowercased) in C, straight from the Arrow buffers.
    Returns ``(rows, similarity)``: the int32 indices of the rows whose
    normalized distance is <= ``bound`` and their similarity ``1 - d``.
    Null rows never match."""
    import pyarrow as pa

    lib = _get_lib()
    if lib is None:
        raise RuntimeError("native kernels unavailable")
    n = len(a)
    if len(b) != n:
        raise ValueError("arrow_score_pairs needs arrays of equal length")
    rows = np.empty(n, dtype=np.int32)
    sim = np.empty(n, dtype=np.float64)
    if n == 0:
        return rows, sim
    args = []
    for arr in (a, b):
        if not pa.types.is_string(arr.type):
            arr = arr.cast(pa.string())
        valid, offsets, data = arr.buffers()
        args += [
            valid.address if valid is not None and arr.null_count else None,
            arr.offset,
            offsets.address,
            data.address if data is not None else None,
        ]
    k = lib.arrow_score_pairs(
        _METRIC_IDS[metric],
        float(bound),
        n,
        *args,
        rows.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
        sim.ctypes.data_as(ctypes.POINTER(ctypes.c_double)),
    )
    if k < 0:
        raise MemoryError("arrow_score_pairs failed")
    return rows[:k], sim[:k]


def sketch_scan_score(
    lsk: Optional["np.ndarray"],
    rsk: Optional["np.ndarray"],
    l_strs,
    r_flat: "np.ndarray",
    r_off: "np.ndarray",
    max_hamming: int,
    top_n: int,
    metric: str,
    bound: float,
):
    """Fused C scan + exact-metric scoring of left strings ``l_strs``
    against the right side ``r_flat``/``r_off`` (from
    :func:`flatten_strings`, so the right side flattens once per task).

    With sketches ``lsk``/``rsk``: XOR+popcount every (left, right)
    sketch pair, keep hamming <= ``max_hamming``, per-left top-N by
    (hamming, right rank), rescore. With ``lsk = rsk = None``: every
    pair is a candidate (lossless); for levenshtein, pass the right side
    sorted by length so each left key scans only its admissible length
    window. Either way only pairs with normalized distance <= ``bound``
    come back, as (left_row_idx int64, right_idx int32, distance
    float64) arrays."""
    lib = _get_lib()
    if lib is None:
        raise RuntimeError("native kernels unavailable")
    nl, nr = len(l_strs), len(r_off) - 1
    exact = lsk is None
    per_key = nr if exact else min(top_n, nr)
    # output buffer: at least one left key's worst case; the kernel
    # stops before a key that might overflow it and the loop resumes
    cap = max(per_key, 1 << 16)
    out_li = np.empty(cap, dtype=np.int64)
    out_rj = np.empty(cap, dtype=np.int32)
    out_d = np.empty(cap, dtype=np.float64)
    if nl == 0 or nr == 0:
        return out_li[:0], out_rj[:0], out_d[:0]
    lflat, loff = _flatten(l_strs)
    u64p = ctypes.POINTER(ctypes.c_uint64)
    u32p = ctypes.POINTER(ctypes.c_uint32)
    i64p = ctypes.POINTER(ctypes.c_int64)
    i32p = ctypes.POINTER(ctypes.c_int32)
    f64p = ctypes.POINTER(ctypes.c_double)
    if exact:
        lsk_p = rsk_p = None
    else:
        lsk = np.ascontiguousarray(lsk, dtype=np.uint64)
        rsk = np.ascontiguousarray(rsk, dtype=np.uint64)
        lsk_p, rsk_p = lsk.ctypes.data_as(u64p), rsk.ctypes.data_as(u64p)
    parts = []
    i, next_i = 0, ctypes.c_int64(0)
    while i < nl:
        rc = lib.sketch_scan_score(
            lsk_p,
            ctypes.c_int64(nl),
            rsk_p,
            ctypes.c_int64(nr),
            ctypes.c_int64(max_hamming),
            ctypes.c_int64(top_n),
            ctypes.c_int(_METRIC_IDS[metric]),
            lflat.ctypes.data_as(u32p),
            loff.ctypes.data_as(i64p),
            r_flat.ctypes.data_as(u32p),
            r_off.ctypes.data_as(i64p),
            ctypes.c_double(float(bound)),
            ctypes.c_int64(i),
            ctypes.byref(next_i),
            ctypes.c_int64(cap),
            out_li.ctypes.data_as(i64p),
            out_rj.ctypes.data_as(i32p),
            out_d.ctypes.data_as(f64p),
        )
        if rc < 0:
            raise MemoryError("sketch_scan_score failed")
        n = int(rc)
        parts.append((out_li[:n].copy(), out_rj[:n].copy(), out_d[:n].copy()))
        i = next_i.value
    if len(parts) == 1:
        return parts[0]
    return tuple(np.concatenate(p) for p in zip(*parts))


def flatten_strings(strings):
    """Public alias of the UTF-32 flattener for callers that prepare a
    side once and reuse it across kernel calls."""
    return _flatten(strings)
