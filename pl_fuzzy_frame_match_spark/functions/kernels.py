"""Spark column builders for normalized string distance / similarity.

Capability parity with the reference's scoring step
(/root/reference/pl_fuzzy_frame_match/process.py:8-56): lowercase both
sides, compute a normalized distance in [0,1], flip to similarity with
``1 - d``.

Spark-first design:
- ``levenshtein`` is a JVM expression (built-in ``F.levenshtein``
  normalized by ``greatest(length)``, banded by the threshold cap), so
  it scores in whole-stage codegen with no Python.
- the other five metrics run as one Arrow-batched pandas UDF
  parameterized by metric (reference delegates to a Rust plugin;
  pandas UDF is the idiomatic Spark equivalent of that FFI boundary).

The fuzzy join does not score through these columns when the native
kernels are available: its first round's exact and sketch tiers score
key pairs inside the fused C scan (operators/candidates.py), and the
refine rounds score row pairs in one ``mapInArrow`` pass whose C entry
point reads the Arrow buffers directly (operators/matcher.py). These
columns serve the no-toolchain fallbacks (cross join, refine rounds)
and the SQL function.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from .py_kernels import NORMALIZED_DISTANCE

# metrics computable as pure Catalyst expressions (codegen, no Python)
JVM_METRICS = ("levenshtein",)

_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def jvm_lower(col) -> Column:
    """Spark's ``lower`` of a key column, lowered in the JVM: the one
    lowercasing rule of every matching tier, so key equality and scores
    agree across them (Python's ``str.lower`` follows another Unicode
    version and differs on some code points). ``lower`` maps through
    ICU's case tables (``spark.sql.icu.caseMappings``), whose first use
    in a process costs ~2 s and ~200 MB of driver memory (measured on a
    4-core host); on an all-ASCII value it is exactly A-Z -> a-z, so
    those values take ``translate`` and only non-ASCII values (more
    bytes than chars) reach ``lower``."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    return F.when(
        F.length(c) == F.octet_length(c),
        F.translate(c, _ASCII_UPPER, _ASCII_UPPER.lower()),
    ).otherwise(F.lower(c))


def _batch_distance(metric: str, a: pd.Series, b: pd.Series) -> pd.Series:
    """Normalized distance over one Arrow batch. Kernel tiers (pinned to
    identical semantics, property-tested): compiled C via ctypes when a
    toolchain exists (~0.3-2 us/pair), numpy batch DP otherwise, per-row
    Python as the last resort. Nulls never match (reference
    process.py:94,97); candidate frames are null-filtered upstream, but
    stay safe here."""
    import numpy as np

    from .native_kernels import NATIVE_DISTANCE, native_available
    from .np_kernels import BATCH_DISTANCE

    mask = a.notna() & b.notna()
    av = a[mask].tolist()
    bv = b[mask].tolist()
    if native_available() and metric in NATIVE_DISTANCE:
        vals = NATIVE_DISTANCE[metric](av, bv)
    elif metric in BATCH_DISTANCE:
        vals = BATCH_DISTANCE[metric](av, bv)
    else:
        fn = NORMALIZED_DISTANCE[metric]
        vals = np.array([fn(x, y) for x, y in zip(av, bv)], dtype=np.float64)
    out = pd.Series(np.nan, index=a.index, dtype="float64")
    out[mask] = vals
    return out


def _pandas_distance_udf(metric: str):
    # built per call, never cached: a UDF binds the accumulator server
    # of the SparkContext that was live when it was first used, and
    # after a context restart a cached one would report to the stopped
    # server ("Failed to update accumulator")
    @F.pandas_udf(DoubleType())
    def dist(a: pd.Series, b: pd.Series) -> pd.Series:
        return _batch_distance(metric, a, b)

    return dist


def distance_column(
    metric: str,
    left: Column,
    right: Column,
    dist_bound: float | None = None,
) -> Column:
    """Normalized distance in [0,1] between two *already lowercased*
    string columns.

    ``dist_bound``: when the caller will discard every pair whose
    normalized distance exceeds this value (the threshold filter,
    reference process.py:54), levenshtein switches to Spark's banded
    ``levenshtein(l, r, threshold)`` with the per-pair cap
    ``floor(bound * maxlen)`` — O(maxlen * cap) with early exit
    instead of O(len_l * len_r). A pair past the cap yields -1, which
    is mapped to 2.0 so the caller's ``d <= bound`` filter rejects it;
    surviving pairs get the exact distance, so scores are unchanged.
    """
    if metric == "levenshtein":
        maxlen = F.greatest(F.length(left), F.length(right), F.lit(1))
        if dist_bound is not None and 0.0 < dist_bound < 1.0:
            cap = F.floor(F.lit(float(dist_bound)) * maxlen).cast("int")
            d = F.call_function("levenshtein", left, right, cap)
            return F.when(d < 0, F.lit(2.0)).otherwise(
                d / maxlen
            ).cast("double")
        return (F.levenshtein(left, right) / maxlen).cast("double")
    if metric not in NORMALIZED_DISTANCE:
        raise ValueError(f"unknown fuzzy metric: {metric!r}")
    return _pandas_distance_udf(metric)(left, right)


def similarity_column(metric: str, left: Column, right: Column) -> Column:
    """Similarity = 1 - normalized distance, on lowercased inputs."""
    return F.lit(1.0) - distance_column(metric, jvm_lower(left), jvm_lower(right))


def register_sql_functions(spark) -> None:
    """Register ``fuzzy_sim(metric, a, b)`` for ``spark.sql`` users:

        SELECT * FROM t1 JOIN t2
        ON fuzzy_sim('jaro_winkler', t1.name, t2.name) >= 0.8

    A SQL function lowers both strings in the JVM (Spark's ``lower``,
    the lowercasing rule of every matching tier) and calls one
    Arrow-batched pandas UDF, registered as ``_fuzzy_sim_lowered``,
    that dispatches on the metric value per batch (metrics are almost
    always literals, so the dispatch dict lookup is once per row over a
    cached function table). The DataFrame API's
    :func:`similarity_column` stays the fast path — it keeps
    ``levenshtein`` in whole-stage codegen — but the SQL entry point
    makes every metric reachable from plain SQL."""

    @F.pandas_udf(DoubleType())
    def fuzzy_sim(metric: pd.Series, a: pd.Series, b: pd.Series) -> pd.Series:
        out = pd.Series(float("nan"), index=metric.index, dtype="float64")
        # metrics are almost always literals -> one batch kernel call
        # per distinct metric value in the batch
        for m in metric.dropna().unique():
            if m not in NORMALIZED_DISTANCE:
                continue
            sel = metric == m
            out[sel] = 1.0 - _batch_distance(m, a[sel], b[sel])
        return out

    spark.udf.register("_fuzzy_sim_lowered", fuzzy_sim)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION"
        " fuzzy_sim(m STRING, a STRING, b STRING) RETURNS DOUBLE"
        " RETURN _fuzzy_sim_lowered(m, lower(a), lower(b))"
    )
