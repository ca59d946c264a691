"""End-to-end fuzzy-join tests replicating the reference's golden suite
(reference tests/test_pl_fuzzy_frame_match.py:339-404 and the edge cases
in tests/match_utils.py:116-193)."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from pl_fuzzy_frame_match_spark import FuzzyMapping, fuzzy_match_dfs

LEFT = {
    "id": [1, 2, 3, 4, 5],
    "company_name": ["Apple Inc.", "Microsft", "Amazon", "Gogle", "Facebok"],
    "address": [
        "1 Apple Park", "One Microsoft Way", "410 Terry Ave N",
        "1600 Amphitheatre", "1 Hacker Way",
    ],
    "contact": ["Tim Cook", "Satya Ndella", "Andy Jessy", "Sundar Pichai", "Mark Zukerberg"],
}
RIGHT = {
    "id": [101, 102, 103, 104, 105],
    "organization": [
        "Apple Incorporated", "Microsoft Corp", "Amazon.com Inc",
        "Google LLC", "Facebook Inc",
    ],
    "location": [
        "Apple Park, Cupertino", "Microsoft Way, Redmond",
        "Terry Ave North, Seattle", "Amphitheatre Pkwy, Mountain View",
        "Hacker Way, Menlo Park",
    ],
    "ceo": ["Timothy Cook", "Satya Nadella", "Andy Jassy", "Sundar Pichai", "Mark Zuckerberg"],
}

GOLDEN_JW = [0.88, 0.9142857142857143, 0.8857142857142858, 0.8666666666666667, 0.9166666666666667]
GOLDEN_LEV = [0.6666666666666667, 0.9230769230769231, 0.9, 1.0, 0.9333333333333333]


def _df(spark, data):
    cols = list(data.keys())
    rows = list(zip(*data.values()))
    return spark.createDataFrame(rows, cols)


def _mappings():
    return [
        FuzzyMapping("company_name", "organization", fuzzy_type="jaro_winkler", threshold_score=20.0),
        FuzzyMapping("contact", "ceo", fuzzy_type="levenshtein", threshold_score=30.0),
    ]


def test_golden_five_by_five(spark):
    result = fuzzy_match_dfs(_df(spark, LEFT), _df(spark, RIGHT), _mappings())
    assert result.columns == [
        "id", "company_name", "address", "contact",
        "id_right", "organization", "location", "ceo",
        "company_name_vs_organization_jaro_winkler", "contact_vs_ceo_levenshtein",
    ]
    rows = sorted(result.collect(), key=lambda r: r["id"])
    assert len(rows) == 5
    for i, r in enumerate(rows):
        assert r["id"] == LEFT["id"][i]
        assert r["id_right"] == RIGHT["id"][i]
        assert r["company_name"] == LEFT["company_name"][i]
        assert r["organization"] == RIGHT["organization"][i]
        assert r["company_name_vs_organization_jaro_winkler"] == pytest.approx(GOLDEN_JW[i], abs=1e-9)
        assert r["contact_vs_ceo_levenshtein"] == pytest.approx(GOLDEN_LEV[i], abs=1e-9)


def test_golden_with_column_collision(spark):
    # left company_name renamed to organization -> right becomes organization_right
    left = _df(spark, LEFT).withColumnRenamed("company_name", "organization")
    maps = [
        FuzzyMapping("organization", "organization", fuzzy_type="jaro_winkler", threshold_score=20.0),
        FuzzyMapping("contact", "ceo", fuzzy_type="levenshtein", threshold_score=30.0),
    ]
    result = fuzzy_match_dfs(left, _df(spark, RIGHT), maps)
    assert "organization_right" in result.columns
    assert "organization_vs_organization_right_jaro_winkler" in result.columns
    rows = sorted(result.collect(), key=lambda r: r["id"])
    assert len(rows) == 5
    for i, r in enumerate(rows):
        assert r["organization_vs_organization_right_jaro_winkler"] == pytest.approx(GOLDEN_JW[i], abs=1e-9)


def test_single_mapping_keeps_more_rows(spark):
    # permissive threshold on one mapping -> more than the diagonal
    result = fuzzy_match_dfs(
        _df(spark, LEFT), _df(spark, RIGHT),
        [FuzzyMapping("company_name", "organization", fuzzy_type="jaro_winkler", threshold_score=20.0)],
    )
    assert result.count() > 5


def test_multi_mapping_monotone_shrinkage(spark):
    # reference tests/test_pl_fuzzy_frame_match.py:284-325: each extra
    # mapping can only shrink the match set
    left, right = _df(spark, LEFT), _df(spark, RIGHT)
    m1 = [FuzzyMapping("company_name", "organization", fuzzy_type="jaro_winkler", threshold_score=20.0)]
    m2 = m1 + [FuzzyMapping("contact", "ceo", fuzzy_type="levenshtein", threshold_score=30.0)]
    c1 = fuzzy_match_dfs(left, right, m1).count()
    c2 = fuzzy_match_dfs(left, right, m2).count()
    assert c2 <= c1
    assert c2 == 5


def test_empty_inputs(spark):
    left = _df(spark, LEFT).limit(0)
    right = _df(spark, RIGHT)
    result = fuzzy_match_dfs(left, right, _mappings())
    assert result.count() == 0
    assert "company_name_vs_organization_jaro_winkler" in result.columns


def test_null_keys_never_match(spark):
    left = spark.createDataFrame(
        [(1, None), (2, "Acme Corp")], ["id", "name"]
    )
    right = spark.createDataFrame(
        [(10, None), (11, "Acme Corp")], ["id", "name"]
    )
    result = fuzzy_match_dfs(
        left, right, [FuzzyMapping("name", "name", fuzzy_type="levenshtein", threshold_score=50.0)]
    )
    rows = result.collect()
    # nulls never match (reference process.py:94,97): only the non-null pair
    assert len(rows) == 1
    assert rows[0]["id"] == 2 and rows[0]["id_right"] == 11


def test_one_to_many_and_many_to_one(spark):
    one = spark.createDataFrame([(1, "ACME Corporation")], ["id", "name"])
    many = spark.createDataFrame(
        [(i, v) for i, v in enumerate(
            ["ACME Corp", "ACME Corporation", "ACME Co", "Acme Corporation Inc", "Completely Different"]
        )],
        ["id", "name"],
    )
    maps = [FuzzyMapping("name", "name", fuzzy_type="jaro_winkler", threshold_score=80.0)]
    assert fuzzy_match_dfs(one, many, maps).count() == 4
    assert fuzzy_match_dfs(many, one, maps).count() == 4


def test_duplicate_rows_produce_pairwise_matches(spark):
    # row identity: every input row pairs independently
    left = spark.createDataFrame([(1, "same"), (2, "same")], ["id", "name"])
    right = spark.createDataFrame([(10, "same")], ["id", "name"])
    maps = [FuzzyMapping("name", "name", threshold_score=90.0)]
    assert fuzzy_match_dfs(left, right, maps).count() == 2


def test_exact_cross_cardinality_no_matches(spark):
    # deterministic non-matching data: threshold high, disjoint strings
    left = spark.createDataFrame([(i, f"Company_{i}") for i in range(10)], ["id", "name"])
    right = spark.createDataFrame([(i, f"Zebra_{i}{i}{i}") for i in range(8)], ["id", "name"])
    maps = [FuzzyMapping("name", "name", threshold_score=95.0)]
    assert fuzzy_match_dfs(left, right, maps).count() == 0


def test_forced_ann_subset_of_exact(spark):
    # ANN path is lossy by design: subset of the exact result
    # (reference tests/test_pl_fuzzy_frame_match.py:132-133)
    left = _df(spark, LEFT)
    right = _df(spark, RIGHT)
    maps = [FuzzyMapping("company_name", "organization", fuzzy_type="jaro_winkler", threshold_score=80.0)]
    exact = {
        (r["id"], r["id_right"])
        for r in fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=False).collect()
    }
    approx = {
        (r["id"], r["id_right"])
        for r in fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=True).collect()
    }
    assert approx <= exact
    assert len(exact) > 0


def test_reference_compat_entry_points(spark):
    """The reference's full exported surface works unchanged
    (reference __init__.py:5-16): with_context + temp-dir context
    manager + long-form kwargs + positional logger."""
    import logging
    from pl_fuzzy_frame_match_spark import (
        FuzzyMapping,
        fuzzy_match_dfs,
        fuzzy_match_dfs_with_context,
        fuzzy_match_temp_dir,
    )

    left = spark.createDataFrame(
        [("apple inc",), ("globex corp",)], ["company_name"]
    )
    right = spark.createDataFrame(
        [("apple incorporated",), ("initech llc",)], ["organization"]
    )
    maps = [FuzzyMapping("company_name", "organization", threshold_score=60.0)]
    base = fuzzy_match_dfs(left, right, maps).collect()

    with fuzzy_match_temp_dir() as td:
        lazy = fuzzy_match_dfs_with_context(
            left, right, maps, logging.getLogger(__name__), td,
            use_appr_nearest_neighbor_for_new_matches=False,
            top_n_for_new_matches=500,
        )
        assert sorted(map(tuple, lazy.collect())) == sorted(map(tuple, base))

    forced = fuzzy_match_dfs(
        left, right, maps,
        use_appr_nearest_neighbor_for_new_matches=False,
        top_n_for_new_matches=100,
    )
    assert sorted(map(tuple, forced.collect())) == sorted(map(tuple, base))


def test_blocked_sketch_scan_equals_unblocked(spark, monkeypatch):
    """Hash-splitting the right side into broadcast blocks and merging
    per-block top-N must reproduce the unblocked scan exactly (every
    global top-N candidate is in its own block's top-N; ties resolve
    by the same (hamming, right key) order)."""
    from pyspark.sql import functions as F
    import pl_fuzzy_frame_match_spark.operators.candidates as cand

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    left_keys = (
        cust.select(F.col("c_name").alias("lk")).distinct()
        .withColumn("__left_index", F.monotonically_increasing_id())
        .groupBy("lk").agg(F.collect_list("__left_index").alias("__left_index"))
    )
    right_keys = (
        cust.select(F.col("c_name").alias("rk")).distinct()
        .withColumn("__right_index", F.monotonically_increasing_id())
        .groupBy("rk").agg(F.collect_list("__right_index").alias("__right_index"))
    )
    n = cust.select("c_name").distinct().count()

    def pairs(limit):
        monkeypatch.setattr(cand, "BROADCAST_KEY_LIMIT", limit)
        out = cand.approx_candidates(
            left_keys, right_keys, "lk", "rk",
            top_n=7, n_left_keys=n, n_right_keys=n,
        )
        return {(r["lk"], r["rk"]) for r in out.collect()}

    unblocked = pairs(2_000_000)
    blocked = pairs(40)  # forces ~5 blocks at sf0.001 (150 keys)
    assert blocked == unblocked and len(unblocked) > 0


def test_ann_with_all_empty_right_keys(spark, monkeypatch):
    """A right frame whose keys are all empty strings passes the O7
    empty-frame early-exit but must yield an empty (not crashing)
    ANN result — on BOTH the top-N tier (default at this volume) and
    the sketch-scan tier (forced)."""
    from pl_fuzzy_frame_match_spark.operators import candidates as cand

    left = spark.createDataFrame([("alpha",), ("beta",)], ["a"])
    right = spark.createDataFrame([("",), ("",)], ["b"])
    maps = [FuzzyMapping("a", "b", threshold_score=50.0)]
    out = fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=True)
    assert out.count() == 0
    monkeypatch.setattr(cand, "ANN_CATALYST_CAP", -1.0)
    out = fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=True)
    assert out.count() == 0


def test_multi_mapping_with_forced_ann_first_round(spark):
    """Conjunction semantics must hold when round 1 runs the ANN path
    and with a pandas-UDF metric (jaro_winkler) scoring the slim
    candidate pairs."""
    left = spark.createDataFrame(
        [(1, "apple inc", "NY"), (2, "globex corp", "CA"), (3, "umbrella co", "CA")],
        ["lid", "company", "state"],
    )
    right = spark.createDataFrame(
        [(10, "apple incorporated", "NY"), (11, "globex corporation", "TX")],
        ["rid", "org", "st"],
    )
    maps = [
        FuzzyMapping("company", "org", threshold_score=70.0, fuzzy_type="jaro_winkler"),
        FuzzyMapping("state", "st", threshold_score=100.0),
    ]
    exact = {(r["lid"], r["rid"]) for r in fuzzy_match_dfs(
        left, right, maps, use_appr_nearest_neighbor=False).collect()}
    approx = {(r["lid"], r["rid"]) for r in fuzzy_match_dfs(
        left, right, maps, use_appr_nearest_neighbor=True).collect()}
    assert exact == {(1, 10)}
    assert approx <= exact  # ANN lossy-by-design, conjunction intact


def test_sql_registered_fuzzy_sim(spark):
    from pl_fuzzy_frame_match_spark.functions.kernels import register_sql_functions

    register_sql_functions(spark)
    spark.createDataFrame(
        [("kitten", "sitting"), ("apple inc.", "apple incorporated")], ["a", "b"]
    ).createOrReplaceTempView("pairs_t")
    rows = spark.sql(
        "SELECT a, b, fuzzy_sim('levenshtein', a, b) AS lev,"
        "       fuzzy_sim('jaro_winkler', a, b) AS jw"
        " FROM pairs_t ORDER BY a"
    ).collect()
    assert rows[1]["lev"] == pytest.approx(1.0 - 3.0 / 7.0, abs=1e-9)
    assert rows[0]["jw"] == pytest.approx(0.88, abs=0.01)  # reference golden
    # null-safe and unknown-metric-safe
    one = spark.sql("SELECT fuzzy_sim('nope', 'a', 'b') AS x").first()
    assert one["x"] is None


def test_sql_fuzzy_sim_lowers_like_similarity_column(spark):
    """``fuzzy_sim`` lowers its inputs with Spark's ``lower``, as
    ``similarity_column`` does: U+A7CB lowers to U+0264 there, while
    Python's ``str.lower`` leaves it unchanged (a 0.667 score)."""
    from pl_fuzzy_frame_match_spark.functions.kernels import (
        register_sql_functions,
        similarity_column,
    )

    register_sql_functions(spark)
    row = (
        spark.createDataFrame([("X\ua7cbY", "x\u0264y")], ["a", "b"])
        .select(
            F.expr("fuzzy_sim('levenshtein', a, b)").alias("sql"),
            similarity_column("levenshtein", F.col("a"), F.col("b")).alias("col"),
        )
        .first()
    )
    assert row["sql"] == row["col"] == 1.0


_ALL_METRICS = (
    "levenshtein", "jaro", "jaro_winkler", "damerau_levenshtein", "indel",
    "hamming",
)


def _sketch_tier_frames(spark):
    import random

    rng = random.Random(23)
    names = [f"Customer#{i:09d} {j}" for i in range(60) for j in range(3)]

    def typo(s):
        i = rng.randrange(len(s))
        return s[:i] + rng.choice("0123456789") + s[i + 1:]

    left = spark.createDataFrame(
        [(i, typo(n)) for i, n in enumerate(names)], ["lid", "lname"]
    )
    right = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names[:90])], ["rid", "rname"]
    )
    return left, right


def _exact_tier_frames(spark):
    """A few hundred keys covering the exact tier's edge cases: empty
    keys on both sides (the cross join matches "" with ""), nulls,
    mixed case, non-ASCII keys, keys whose lowercase differs between
    the JVM and Python, and keys past 64 chars (the banded-DP branch
    of the C levenshtein)."""
    import random

    rng = random.Random(7)
    bases = [
        "Acme Corp", "Zürich Straße Holdings", "São Paulo Comércio",
        "北京 Trading 有限公司", "Ærøskøbing Færge", "Crème Brûlée Café",
        "Globex", "Initech Systems", "ŁÓDŹ Fabryka",
    ]
    names = [f"{b} {i:03d}" for b in bases for i in range(16)]
    names += [
        f"{b} international holdings and subsidiaries group limited {i}"
        for b in bases[:4] for i in range(6)
    ]

    def typo(s):
        i = rng.randrange(len(s))
        return s[:i] + rng.choice("xé北 Q") + s[i + 1:]

    left = [(i, typo(n) if i % 3 else n.upper()) for i, n in enumerate(names)]
    left += [(900, ""), (901, ""), (902, None), (903, "x")]
    # capitals that Spark's lower (the JVM's Unicode tables) folds but
    # Python's str.lower of an older Unicode version does not
    left += [(904, "X\ua7cbY"), (905, "abc\ua7dcd"), (906, "X\ua7cb\ua7cbY")]
    right = [(i, n) for i, n in enumerate(names[::2])]
    right += [(900, ""), (901, None), (902, "y")]
    right += [(903, "x\u0264y"), (904, "abc\u019bd"), (905, "x\u0264\u0264y")]
    return (
        spark.createDataFrame(left, "lid long, lname string"),
        spark.createDataFrame(right, "rid long, rname string"),
    )


def _on_many_rows(df, id_col, copies=3, parts=5):
    """``df`` with every row repeated ``copies`` times under new ids,
    spread round-robin over ``parts`` partitions."""
    copy = F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
    return (
        df.withColumn("__copy", copy)
        .withColumn(id_col, F.col(id_col) + 10_000 * F.col("__copy"))
        .drop("__copy")
        .repartition(parts)
    )


@pytest.mark.parametrize(
    "tier, metric, threshold",
    [
        pytest.param("sketch", m, 80.0, id=m)
        for m in ("levenshtein", "jaro_winkler", "indel", "damerau_levenshtein")
    ]
    + [
        pytest.param("exact", m, 75.0, id=f"exact-{m}")
        for m in _ALL_METRICS
    ]
    + [
        pytest.param("exact", m, t, id=f"exact-{m}-{t:g}")
        for m in ("levenshtein", "jaro_winkler")
        for t in (99.0, 1.0)
    ]
    + [
        pytest.param("topn", m, t, id=f"topn-{m}-{t:g}")
        for m, t in (("levenshtein", 60.0), ("jaro_winkler", 80.0))
    ]
    + [
        pytest.param("rows", m, 75.0, id=f"exact-rows-{m}")
        for m in ("levenshtein", "jaro_winkler")
    ]
    + [
        pytest.param(tier, "levenshtein", 75.0, id=f"exact-{tier}-levenshtein")
        for tier in ("rows-unbatched", "rows-grouped")
    ],
)
def test_fused_rescoring_matches_jvm_scoring(
    spark, monkeypatch, request, tier, metric, threshold
):
    """The in-kernel fused rescoring (native C metric kernels inside
    the scan) must produce exactly the rows + scores of the unfused
    shape (candidates out, Spark-side scoring, filter) for every metric
    branch of the C scanner: on the lossy sketch tier (forced ANN), on
    the lossless exact tier, whose unfused twin is the codegen /
    pandas-UDF cross join, and on the forced-ANN top-N tier (``topn``),
    which takes the top-N of the scan's pairs natively and of the cross
    join's without a toolchain. The ``rows`` cases are the exact tier
    with every key on several rows, spread over several input
    partitions and Arrow batches: the scan dedups keys per task and
    carries the row ids of both sides itself, in one task or in
    several; ``rows-unbatched`` lifts the Arrow batch limit (a
    non-positive ``maxRecordsPerBatch``), so each task scores its keys
    in one kernel call, and in ``rows-grouped`` the JVM groups both
    sides' rows by key before the scan."""
    from pl_fuzzy_frame_match_spark.functions import native_kernels as natk
    from pl_fuzzy_frame_match_spark.operators import candidates as cand

    if not natk.native_available():
        pytest.skip("no C toolchain")
    if tier == "sketch":
        # pin the SKETCH tier: at this volume the ANN path would
        # otherwise plan as the top-N tier and never touch the
        # sketch branch of the C scanner
        monkeypatch.setattr(cand, "ANN_CATALYST_CAP", -1.0)
        left, right = _sketch_tier_frames(spark)
        ann = True
    else:
        left, right = _exact_tier_frames(spark)
        ann = True if tier == "topn" else None
    lossless = tier == "exact" or tier.startswith("rows")
    if tier.startswith("rows"):
        left = _on_many_rows(left, "lid")
        right = _on_many_rows(right, "rid")
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        spark.conf.set(conf, "-1" if tier == "rows-unbatched" else "7")
        request.addfinalizer(lambda: spark.conf.unset(conf))
        # levenshtein probes in several hash-partitioned tasks, the
        # other metric in one coalesced task
        monkeypatch.setattr(cand, "EXACT_SCAN_PAIRS_PER_TASK", 2_000)
        if tier == "rows-grouped":  # 3 rows per key
            monkeypatch.setattr(cand, "SCAN_GROUP_ROWS_PER_KEY", 2)
    top_n = 3 if tier == "topn" else cand.DEFAULT_TOP_N
    maps = [
        FuzzyMapping(
            "lname", "rname", threshold_score=threshold, fuzzy_type=metric
        )
    ]
    score_col = f"lname_vs_rname_{metric}"

    def rows(df):
        return sorted(
            (r["lid"], r["rid"], round(r[score_col], 9))
            for r in df.collect()
        )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    fused_df = fuzzy_match_dfs(
        left, right, maps, use_appr_nearest_neighbor=ann, top_n=top_n
    )
    # the sketch scan runs in mapInPandas, the lossless scan in
    # mapInArrow
    scan_node = "MapInPandas" if tier == "sketch" else "MapInArrow"
    assert scan_node in plan(fused_df)
    if lossless:
        assert "ArrowEvalPython" not in plan(fused_df)
        # round 1 reads the indexed rows: a key aggregate only where
        # keys repeat over many rows
        grouped = "collect_list" in plan(fused_df)
        assert grouped == (tier == "rows-grouped")
    fused = rows(fused_df)
    assert fused  # fixture must match something
    if lossless:
        assert (900, 900, 1.0) in fused  # "" matches ""
    if tier == "topn":
        per_left = Counter(lid for lid, _, _ in fused)
        assert max(per_left.values()) == top_n  # the budget binds
    # disable the native tier -> unfused JVM-scored shape
    monkeypatch.setattr(natk, "native_available", lambda: False)
    unfused_df = fuzzy_match_dfs(
        left, right, maps, use_appr_nearest_neighbor=ann, top_n=top_n
    )
    if tier != "sketch":  # the cross join
        assert "MapInPandas" not in plan(unfused_df)
        assert "MapInArrow" not in plan(unfused_df)
    assert fused == rows(unfused_df)
