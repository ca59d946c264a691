"""Kernel parity: pure-Python metrics vs DuckDB's SQL functions and the
reference's golden floats (reference tests/test_pl_fuzzy_frame_match.py:339-404,
tests/test_process.py:10-11,70-89)."""

import random

import duckdb
import pytest

from pl_fuzzy_frame_match_spark.functions import py_kernels as k
from pl_fuzzy_frame_match_spark.functions.kernels import distance_column
from pyspark.sql import functions as F

METRICS = ["levenshtein", "jaro", "jaro_winkler", "hamming", "damerau_levenshtein", "indel"]
THRESHOLDS = [0.3, 0.5, 0.7, 0.9]

PAIRS = [
    ("John", "Johny"),
    ("Edward", "Eduward"),
    ("Thompson", "Thomson"),
    ("apple inc.", "apple incorporated"),
    ("microsft", "microsoft corp"),
    ("gogle", "google llc"),
    ("tim cook", "timothy cook"),
    ("", ""),
    ("a", ""),
    ("same", "same"),
]


def test_reference_golden_floats():
    # pinned by reference tests/test_pl_fuzzy_frame_match.py:360-364
    assert k.jaro_winkler_sim("apple inc.", "apple incorporated") == pytest.approx(0.88, abs=1e-12)
    assert k.jaro_winkler_sim("microsft", "microsoft corp") == pytest.approx(0.9142857142857143, abs=1e-12)
    assert 1 - k.levenshtein_norm("tim cook", "timothy cook") == pytest.approx(0.6666666666666667, abs=1e-12)


def test_duckdb_parity_random():
    con = duckdb.connect()
    rng = random.Random(7)

    def rnd():
        return "".join(rng.choice("abcdef gh") for _ in range(rng.randint(1, 14)))

    for _ in range(300):
        a, b = rnd(), rnd()
        assert k.levenshtein_dist(a, b) == con.sql("SELECT levenshtein(?, ?)", params=[a, b]).fetchone()[0]
        assert k.damerau_levenshtein_dist(a, b) == con.sql("SELECT damerau_levenshtein(?, ?)", params=[a, b]).fetchone()[0]
        if a != b:
            assert k.jaro_sim(a, b) == pytest.approx(
                con.sql("SELECT jaro_similarity(?, ?)", params=[a, b]).fetchone()[0], abs=1e-12
            )
            assert k.jaro_winkler_sim(a, b) == pytest.approx(
                con.sql("SELECT jaro_winkler_similarity(?, ?)", params=[a, b]).fetchone()[0], abs=1e-12
            )
        if len(a) == len(b):
            assert k.hamming_norm(a, b) == pytest.approx(
                con.sql("SELECT hamming(?, ?)/greatest(length(?),1)", params=[a, b, a]).fetchone()[0], abs=1e-12
            )


@pytest.mark.parametrize("metric", METRICS)
def test_normalized_range_and_threshold(metric):
    fn = k.NORMALIZED_DISTANCE[metric]
    for a, b in PAIRS:
        d = fn(a, b)
        assert 0.0 <= d <= 1.0, (metric, a, b, d)
        for th in THRESHOLDS:
            # threshold filter semantics: keep iff d <= th; just sanity
            assert (d <= th) == (not d > th)


def test_identical_strings_score_one():
    for metric in METRICS:
        assert k.NORMALIZED_DISTANCE[metric]("same", "same") == 0.0


def test_indel_known_values():
    # (l1+l2-2*lcs)/(l1+l2): "abc" vs "abd" -> lcs 2 -> 2/6
    assert k.indel_norm("abc", "abd") == pytest.approx(2 / 6)
    assert k.indel_norm("abc", "abc") == 0.0
    assert k.indel_norm("", "abc") == 1.0


@pytest.mark.parametrize("metric", METRICS)
def test_spark_distance_column_matches_python(spark, metric):
    df = spark.createDataFrame([(a, b) for a, b in PAIRS if a or b], ["a", "b"])
    rows = df.select(
        "a", "b", distance_column(metric, F.lower("a"), F.lower("b")).alias("d")
    ).collect()
    fn = k.NORMALIZED_DISTANCE[metric]
    for r in rows:
        assert r["d"] == pytest.approx(fn(r["a"].lower(), r["b"].lower()), abs=1e-12)


def _typo_pairs(n=800, seed=13):
    rng = random.Random(seed)
    alphabet = "abcdefghijklmnop qrstuvwxyzéü-"

    def rnd():
        return "".join(
            rng.choice(alphabet) for _ in range(rng.randint(0, 28))
        )

    def typo(s):
        if not s:
            return s
        i = rng.randrange(len(s))
        op = rng.randrange(4)
        if op == 0:
            return s[:i] + rng.choice(alphabet) + s[i:]
        if op == 1:
            return s[:i] + s[i + 1:]
        if op == 2:
            return s[:i] + rng.choice(alphabet) + s[i + 1:]
        return s[:i] + s[i:i + 2][::-1] + s[i + 2:]

    a = [rnd() for _ in range(n)]
    b = [typo(x) if rng.random() < 0.7 else rnd() for x in a]
    a += ["", "", "x", "apple inc.", "abc", "ca", "kitten"]
    b += ["", "y", "", "apple incorporated", "abc", "abc", "sitting"]
    return a, b


def test_numpy_batch_kernels_match_per_row():
    """The numpy batch tier (np_kernels) must agree exactly with the
    per-row reference implementations (py_kernels) on randomized typo
    data plus edge cases."""
    import numpy as np

    from pl_fuzzy_frame_match_spark.functions import np_kernels as nk

    a, b = _typo_pairs()
    for metric, batch_fn in nk.BATCH_DISTANCE.items():
        got = batch_fn(a, b)
        exp = np.array(
            [k.NORMALIZED_DISTANCE[metric](x, y) for x, y in zip(a, b)]
        )
        bad = np.where(~np.isclose(got, exp, atol=1e-12))[0]
        assert len(bad) == 0, (metric, [(a[i], b[i], got[i], exp[i]) for i in bad[:3]])


def test_native_kernels_match_per_row():
    """The compiled-C tier (native_kernels) must agree exactly with the
    per-row reference implementations; skipped when no toolchain."""
    import numpy as np

    from pl_fuzzy_frame_match_spark.functions import native_kernels as natk

    if not natk.native_available():
        pytest.skip("no C toolchain in this environment")
    a, b = _typo_pairs(seed=29)
    for metric, nat_fn in natk.NATIVE_DISTANCE.items():
        got = nat_fn(a, b)
        exp = np.array(
            [k.NORMALIZED_DISTANCE[metric](x, y) for x, y in zip(a, b)]
        )
        bad = np.where(~np.isclose(got, exp, atol=1e-12))[0]
        assert len(bad) == 0, (metric, [(a[i], b[i], got[i], exp[i]) for i in bad[:3]])


def test_batch_distance_handles_nulls():
    """The UDF-level dispatcher must keep nulls null through the fast
    tiers (nulls never match — reference process.py:94,97)."""
    import pandas as pd

    from pl_fuzzy_frame_match_spark.functions.kernels import _batch_distance

    a = pd.Series(["abc", None, "xy", None])
    b = pd.Series(["abd", "q", None, None])
    for metric in METRICS:
        if metric == "levenshtein":
            continue  # JVM path, never reaches the UDF
        out = _batch_distance(metric, a, b)
        assert out.isna().tolist() == [False, True, True, True], metric
        assert out[0] == pytest.approx(k.NORMALIZED_DISTANCE[metric]("abc", "abd"))


def test_pandas_udf_scoring_survives_session_restart(spark, restart_spark):
    """After a SparkContext restart the pandas-UDF kernels must bind the
    live context, not the stopped one: a UDF built before the restart
    reports to a dead accumulator server ("Failed to update
    accumulator"). Scores again through the UDF column and the fused
    join tier on the fresh session."""
    from pl_fuzzy_frame_match_spark import FuzzyMapping, fuzzy_match_dfs
    from pl_fuzzy_frame_match_spark.functions import kernels

    def score(session):
        df = session.createDataFrame(
            [("martha", "marhta"), ("dixon", "dicksonx")], ["a", "b"]
        )
        d = distance_column("jaro_winkler", F.col("a"), F.col("b"))
        return [round(r[0], 9) for r in df.select(d).collect()]

    def join(session):
        left = session.createDataFrame(
            [(1, "Acme Corp"), (2, "Globex Inc")], ["lid", "lname"]
        )
        right = session.createDataFrame([(7, "Acme Corp.")], ["rid", "rname"])
        maps = [FuzzyMapping("lname", "rname", 80.0, "jaro_winkler")]
        return [(r["lid"], r["rid"]) for r in fuzzy_match_dfs(left, right, maps).collect()]

    before = score(spark)
    assert before == [
        round(k.NORMALIZED_DISTANCE["jaro_winkler"](a, b), 9)
        for a, b in (("martha", "marhta"), ("dixon", "dicksonx"))
    ]
    assert join(spark) == [(1, 7)]
    fresh = restart_spark()
    udf = kernels._pandas_distance_udf("jaro_winkler")
    acc = udf._unwrapped._judf.func().accumulator()
    assert acc.equals(fresh.sparkContext._javaAccumulator)
    assert score(fresh) == before
    assert join(fresh) == [(1, 7)]
