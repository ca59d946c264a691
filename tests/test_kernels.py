"""Kernel parity: pure-Python metrics vs DuckDB's SQL functions and the
reference's golden floats (reference tests/test_pl_fuzzy_frame_match.py:339-404,
tests/test_process.py:10-11,70-89)."""

import random
import sys

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


def _native_or_skip():
    from pl_fuzzy_frame_match_spark.functions import native_kernels as natk

    if not natk.native_available():
        pytest.skip("no C toolchain in this environment")
    return natk


def _jaro_cases():
    """A few hundred pairs: lengths 0, 1, 63, 64, 65 and 100 on both
    sides (the bit-parallel routine covers <= 64 code points, longer
    strings take the classic one), small alphabets that force
    transpositions, non-ASCII code points and near-copies."""
    rng = random.Random(41)
    lengths = [0, 1, 63, 64, 65, 100]
    alphabets = ["ab", "abc", "aé中😀", "abcdefghij klmnop"]
    a, b = [], []
    for la in lengths:
        for lb in lengths:
            for alpha in alphabets:
                a.append("".join(rng.choice(alpha) for _ in range(la)))
                b.append("".join(rng.choice(alpha) for _ in range(lb)))
    for _ in range(120):  # near-copies: swaps and single edits
        alpha = rng.choice(alphabets)
        s = "".join(rng.choice(alpha) for _ in range(rng.randint(2, 70)))
        i = rng.randrange(len(s) - 1)
        t = s[:i] + s[i + 1] + s[i] + s[i + 2:]
        if rng.random() < 0.5:
            t = t[:rng.randrange(len(t))] + rng.choice(alpha) + t[1:]
        a.append(s)
        b.append(t)
    return a, b


@pytest.mark.parametrize("metric", ["jaro", "jaro_winkler"])
def test_bit_parallel_jaro_equals_classic(metric):
    """Bit-parallel Jaro / Jaro-Winkler equal the classic window scan
    bit for bit, with the arguments in either order, through the batch
    kernel and through the fused scan (which builds the pattern table
    once per left key)."""
    import numpy as np

    natk = _native_or_skip()
    winkler = metric == "jaro_winkler"
    a, b = _jaro_cases()
    classic = natk.classic_jaro_distance(a, b, winkler)
    assert (natk.NATIVE_DISTANCE[metric](a, b) == classic).all()
    assert (
        natk.NATIVE_DISTANCE[metric](b, a)
        == natk.classic_jaro_distance(b, a, winkler)
    ).all()
    exp = np.array([k.NORMALIZED_DISTANCE[metric](x, y) for x, y in zip(a, b)])
    assert (classic == exp).all()
    # fused scan, lossless mode: every (left, right) pair of a block
    left, right = a[:48], b[:48]
    r_flat, r_off = natk.flatten_strings(right)
    li, rj, d = natk.sketch_scan_score(
        None, None, left, r_flat, r_off, 0, 0, metric, 1.0
    )
    assert len(li) == len(left) * len(right)
    want = natk.classic_jaro_distance(
        [left[i] for i in li], [right[j] for j in rj], winkler
    )
    assert (d == want).all()


def _arrow_pairs(spark):
    """(a, b) pairs with 1-, 2-, 3- and 4-byte UTF-8 code points, empty
    strings and nulls, lowered by the JVM and returned as Arrow arrays
    exactly as a refine round receives them."""
    rng = random.Random(43)
    # the last alphabet pairs code points that differ only in the top
    # payload bit of their UTF-8 lead byte (a U+0101 / U+0501,
    # U+4E00 / U+CE00, 'a' / U+100061), so a decoder that drops it
    # makes them equal
    alphabets = [
        "abcde", "abéüñ", "ab中文字", "a😀🚀b", "aé中😀 ",
        "aāԁ一츀\U00100061",
    ]
    rows = []
    for alpha in alphabets:
        for _ in range(50):
            s = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12)))
            t = list(s)
            if t and rng.random() < 0.7:
                t[rng.randrange(len(t))] = rng.choice(alpha)
            else:
                t = [rng.choice(alpha) for _ in range(rng.randint(0, 12))]
            rows.append((s.upper() if rng.random() < 0.2 else s, "".join(t)))
    rows += [("", ""), ("", "x"), (None, "abc"), ("abc", None), (None, None)]
    df = spark.createDataFrame(rows, "a string, b string")
    table = df.select(
        F.lower("a").alias("a"), F.lower("b").alias("b")
    ).toArrow()
    return (
        table.column("a").combine_chunks(),
        table.column("b").combine_chunks(),
        df,
    )


@pytest.mark.parametrize("metric", METRICS)
def test_arrow_entry_point_matches_batch_kernels(spark, metric):
    """The Arrow refine entry point reads the UTF-8 buffers directly and
    must keep the same rows with the same similarities as the batch
    kernels over Python strings (1 - NATIVE_DISTANCE), nulls never
    matching, also on sliced arrays (non-zero Arrow offset)."""
    import numpy as np

    natk = _native_or_skip()
    a, b, _ = _arrow_pairs(spark)
    for lo, hi in ((0, len(a)), (7, len(a) - 3)):
        sa, sb = a.slice(lo, hi - lo), b.slice(lo, hi - lo)
        av, bv = sa.to_pylist(), sb.to_pylist()
        ok = [i for i in range(len(av)) if av[i] is not None and bv[i] is not None]
        dist = natk.NATIVE_DISTANCE[metric](
            [av[i] for i in ok], [bv[i] for i in ok]
        )
        for bound in (0.0, 0.01, 0.3, 0.5, 0.99, 1.0):
            rows, sim = natk.arrow_score_pairs(sa, sb, metric, bound)
            keep = dist <= bound
            assert rows.tolist() == np.array(ok)[keep].tolist(), (metric, bound)
            assert (sim == 1.0 - dist[keep]).all(), (metric, bound)


def test_arrow_entry_point_matches_codegen_levenshtein(spark):
    """Levenshtein through the Arrow entry point keeps exactly the pairs
    and scores of the banded codegen levenshtein it replaces."""
    _native_or_skip()
    from pl_fuzzy_frame_match_spark.functions.native_kernels import (
        arrow_score_pairs,
    )

    a, b, df = _arrow_pairs(spark)
    indexed = df.withColumn("i", F.monotonically_increasing_id()).select(
        "i", F.lower("a").alias("a"), F.lower("b").alias("b")
    )
    ids = [r["i"] for r in indexed.select("i").collect()]
    for bound in (0.01, 0.25, 0.5, 0.99):
        d = distance_column("levenshtein", F.col("a"), F.col("b"), bound)
        codegen = sorted(
            (ids.index(r["i"]), 1.0 - r["d"])
            for r in indexed.select("i", d.alias("d"))
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
            .filter(F.col("d") <= bound)
            .collect()
        )
        rows, sim = arrow_score_pairs(a, b, "levenshtein", bound)
        assert list(zip(rows.tolist(), sim.tolist())) == codegen, bound


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zip importers re-read lazily"
)
def test_zip_importer_rereads_only_changed_archives(
    spark, tmp_path, monkeypatch
):
    """Python workers invalidate the import caches at every task start;
    with the engine imported there, a zip importer re-reads its archive
    only if the archive changed (modification time or size), and then
    finds the new contents. The driver keeps the stock importer."""
    import os
    import zipfile
    import zipimport

    from pl_fuzzy_frame_match_spark import _zip_cache

    def importer_module(_):
        import zipimport

        import pl_fuzzy_frame_match_spark  # noqa: F401

        yield zipimport.zipimporter.invalidate_caches.__module__

    workers = spark.sparkContext.parallelize([0], 1).mapPartitions(
        importer_module
    )
    assert workers.collect() == [_zip_cache.__name__]
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

    # install in this process too, undone at teardown
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    _zip_cache.install()
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("first_mod.py", "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importer.invalidate_caches()  # no stamp yet: reads
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) == 1
    assert importer.find_spec("first_mod") is not None

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("first_mod.py", "X = 1\n")
        z.writestr("second_mod.py", "Y = 2\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importer.invalidate_caches()
    assert len(reads) == 2
    assert importer.find_spec("second_mod") is not None
    importer.invalidate_caches()
    assert len(reads) == 2
