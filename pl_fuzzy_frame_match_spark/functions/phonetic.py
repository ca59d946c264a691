"""Phonetic keys: Soundex blocking for fuzzy joins.

A classic recall-oriented candidate generator for name matching: two
strings that *sound* alike get the same 4-character code, so a cheap
equi-join on the code replaces the cartesian before the expensive
string-distance scoring — the same role the engine's n-gram/FastSS
tiers play, with different (pronunciation-shaped) recall.

Algorithm: the textbook Soundex variant of Knuth (TAOCP vol. 3,
§5.3.5 "Phonetic codes"), defined precisely so the Catalyst
expression here and the DuckDB oracle SQL in ``queries.py`` implement
the *same spec*:

1. ``letters`` = the lowercase alphabetic characters of the input
   (everything else stripped); empty -> NULL code.
2. Map every letter to a digit: b f p v -> 1, c g j k q s x z -> 2,
   d t -> 3, l -> 4, m n -> 5, r -> 6, and the separators
   a e i o u y h w -> 0.
3. Collapse runs of the SAME adjacent digit to one (a 0 between two
   equal digits keeps them distinct — in this variant h/w separate
   like vowels).
4. Drop the first digit (it belongs to the first letter), then drop
   all 0s from the remainder.
5. Code = uppercase first letter + the first 3 remaining digits,
   right-padded with '0' to length 4.

Everything is ``translate`` + ``regexp_replace`` — pure Catalyst,
whole-stage codegen, zero Python.

Scale note (100 TB): the Soundex keyspace is tiny — at most
26 x 7^3 = 8,918 codes — so on a web-scale corpus every block is
huge and the blocked join degenerates toward a skewed cartesian.
Use it the way the engine uses its other candidate tiers: score
DISTINCT keys (``phonetic_blocked_pairs`` dedups names first, the
same move as ``operators/matcher.build_key_frame``), cap or salt hot
codes, and compose with a second filter (length band, n-gram prefix)
before scoring when blocks exceed memory. The reference library
(pl-fuzzy-frame-match ``pre_process.py:200-327``) has no phonetic
tier; this is an engine-original blocking strategy.
"""

from __future__ import annotations

import string

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernels import jvm_lower

# letter -> digit table for 'abcdefghijklmnopqrstuvwxyz'
SOUNDEX_DIGITS = "01230120022455012623010202"


def soundex_code(col: Column) -> Column:
    """Knuth-variant Soundex code (see module docstring for the exact
    spec). NULL for NULL input or input with no ascii letters."""
    letters = F.regexp_replace(jvm_lower(col), "[^a-z]", "")
    codes = F.translate(letters, string.ascii_lowercase, SOUNDEX_DIGITS)
    # Java regex supports backreferences; the DuckDB oracle mirrors
    # this with one run-collapse regexp per digit (RE2 has no \1).
    collapsed = F.regexp_replace(codes, r"([0-9])\1+", "$1")
    tail = F.translate(F.substring(collapsed, 2, 1_000_000), "0", "")
    code = F.rpad(
        F.concat(F.upper(F.substring(letters, 1, 1)), F.substring(tail, 1, 3)),
        4,
        "0",
    )
    return F.when(F.length(letters) > 0, code)


def with_soundex(df: DataFrame, text_col: str, out_col: str = "soundex") -> DataFrame:
    """Map-only projection: attach the phonetic code. Zero shuffle."""
    return df.withColumn(out_col, soundex_code(F.col(text_col)))


def phonetic_blocked_pairs(
    df: DataFrame,
    name_col: str,
    metric: str = "jaro_winkler",
    threshold: float = 0.0,
    max_block: int | None = None,
    score: bool = True,
    distinct_keys: DataFrame | None = None,
) -> DataFrame:
    """Within-corpus candidate pairs via Soundex blocking.

    Dedups to DISTINCT non-null names first (each name pair is scored
    exactly once no matter how many rows carry it — the engine's
    distinct-key move), equi-joins on the phonetic code, scores with
    the shared kernel tiers, and keeps pairs with similarity >=
    ``threshold``. Output: (left_name, right_name, similarity) with
    left_name < right_name (no self pairs, no mirrored duplicates).

    Plan shape: one distinct aggregation over names, one hash
    equi-join on the 4-char code (broadcastable when the distinct-name
    frame is small; AQE handles skewed codes above that), one map-side
    score + filter. No cartesian, no Python in the hot path for
    Catalyst-expressible metrics.

    ``max_block`` is BLOCK PURGING (Papadakis et al.'s block
    cleaning): a Soundex block with more than ``max_block`` distinct
    names is dropped entirely — at corpus scale the ~8,918-code
    keyspace guarantees some blocks go quadratic (measured: 147M
    scored pairs from 1M names, PLANS.md round 9 session B), and a
    hot block's pairs are better recalled by the linear tiers. None
    (the default) disables purging — gate-scale behavior unchanged.

    ``score=False`` returns the raw (left_name, right_name) candidate
    set with no kernel evaluation; ``distinct_keys`` injects a
    pre-distinct non-null ``left_name`` frame — both for composition
    sites that union tiers and score the distinct union once
    (`operators/blocking.resolve_entities`, round-12 optimization).
    """
    from .kernels import distance_column

    names = (
        df.select(F.col(name_col).alias("left_name"))
        .where(F.col("left_name").isNotNull())
        .distinct()
        if distinct_keys is None
        else distinct_keys
    ).withColumn("_code", soundex_code(F.col("left_name"))).where(
        F.col("_code").isNotNull()
    )
    if max_block is not None:
        small = (
            names.groupBy("_code")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") <= F.lit(int(max_block)))
            .select("_code")
        )
        names = names.join(small, "_code")
    right = names.select(
        F.col("left_name").alias("right_name"), F.col("_code").alias("_rcode")
    )
    pairs = names.join(
        right,
        (F.col("_code") == F.col("_rcode"))
        & (F.col("left_name") < F.col("right_name")),
    )
    if not score:
        return pairs.select("left_name", "right_name")
    sim = F.lit(1.0) - distance_column(
        metric, jvm_lower("left_name"), jvm_lower("right_name")
    )
    return (
        pairs.withColumn("similarity", sim)
        .where(F.col("similarity") >= F.lit(threshold))
        .select("left_name", "right_name", "similarity")
    )


def token_sort_normalized(col: Column) -> Column:
    """Token-sort canonical form (the fuzzywuzzy ``token_sort_ratio``
    normalization): lowercase whitespace tokens, sorted, re-joined
    with single spaces — word order stops mattering before an edit
    distance is taken. Pure Catalyst."""
    from .text import tokens

    return F.array_join(F.array_sort(tokens(col)), " ")


def token_sort_similarity(a: Column, b: Column) -> Column:
    """Normalized token-sort similarity: 1 - lev(sort(a), sort(b)) /
    max(len) over the canonical forms — catches 'ring small' ==
    'small ring' that plain edit distance scores as far apart; the
    popular fuzzy-matching companion metric to the six core
    kernels."""
    from .kernels import distance_column

    na, nb = token_sort_normalized(a), token_sort_normalized(b)
    return F.lit(1.0) - distance_column("levenshtein", na, nb)


def token_set_similarity(a: Column, b: Column) -> Column:
    """Token-set similarity (the fuzzywuzzy ``token_set_ratio``
    construction under this engine's normalized-levenshtein kernel):
    with I = sorted distinct shared tokens, L = I + sorted
    left-only, R = I + sorted right-only (space-joined), the score is
    max(sim(I,L), sim(I,R), sim(L,R)) — near 1.0 whenever one side's
    tokens are a subset of the other's, however much extra text the
    superset carries. Pure Catalyst set algebra
    (array_distinct/sort/intersect/except) + the shared kernel."""
    from .kernels import distance_column
    from .text import tokens

    ta = F.array_sort(F.array_distinct(tokens(a)))
    tb = F.array_sort(F.array_distinct(tokens(b)))
    inter = F.array_intersect(ta, tb)
    s0 = F.array_join(inter, " ")
    s1 = F.array_join(F.concat(inter, F.array_except(ta, tb)), " ")
    s2 = F.array_join(F.concat(inter, F.array_except(tb, ta)), " ")

    def sim(x, y):
        return F.lit(1.0) - distance_column("levenshtein", x, y)

    return F.greatest(sim(s0, s1), sim(s0, s2), sim(s1, s2))
