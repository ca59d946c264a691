"""Physical-plan shape guards: the scale properties PLANS.md claims
must stay visible in `.explain()` — a regression that silently
reintroduces a nested-loop join or an extra shuffle should fail CI,
not a 100 TB run."""

import datetime as dt

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _ts_frames(spark):
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    points = spark.createDataFrame(
        [(i, i % 3, t(i % 50)) for i in range(100)], ["pid", "k", "ts"]
    )
    intervals = spark.createDataFrame(
        [(i % 3, t(i), t(i + 5)) for i in range(40)], ["k", "lo", "hi"]
    )
    return points, intervals


def test_interval_join_is_hash_join_not_nested_loop(spark):
    from pl_fuzzy_frame_match_spark.operators.rangejoin import interval_join

    points, intervals = _ts_frames(spark)
    # with an equi key the bucket just sharpens the join key; the
    # critical case is NO equi key, where raw inequalities force Spark
    # into an O(|P|*|I|) nested loop — the bucket IS the join key then
    for by in (["k"], []):
        pts = points if by else points.drop("k")
        ivs = intervals if by else intervals.drop("k")
        plan = _plan(interval_join(pts, ivs, "ts", "lo", "hi", by, 300))
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert "HashJoin" in plan or "SortMergeJoin" in plan

    # the naive key-less formulation DOES nested-loop (the premise)
    naive = points.drop("k").join(
        intervals.drop("k"),
        (points["ts"] >= intervals["lo"]) & (points["ts"] < intervals["hi"]),
    )
    assert "NestedLoop" in _plan(naive) or "CartesianProduct" in _plan(naive)


def test_asof_join_single_shuffle(spark):
    from pl_fuzzy_frame_match_spark.operators.asof import asof_join

    points, intervals = _ts_frames(spark)
    right = intervals.select("k", F.col("lo").alias("ts"), F.col("hi"))
    plan = _plan(asof_join(points, right, "ts", ["k"]))
    # union + one keyed window: exactly one shuffle, no join operator
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_threshold_100_mapping_plans_as_equi_join(spark):
    from pl_fuzzy_frame_match_spark.models import FuzzyMapping
    from pl_fuzzy_frame_match_spark.operators.matcher import (
        first_round_matches,
    )

    left = spark.createDataFrame(
        [(i, f"K{i % 40}") for i in range(200)], ["__left_index", "lk"]
    )
    right = spark.createDataFrame(
        [(i, f"k{i % 25}") for i in range(100)], ["__right_index", "rk"]
    )
    m = FuzzyMapping("lk", "rk", threshold_score=100.0)
    out = first_round_matches(left, right, m, 40, 25, None, 500, 1e8)
    plan = _plan(out)
    # exact mapping: equi-join on the lowercase key, never a cartesian
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "levenshtein" not in plan.lower() or "Join" in plan
    # results: case-insensitive equality matches only, score 1.0
    rows = out.collect()
    assert rows and all(r[m.output_column_name] == 1.0 for r in rows)
    n_expect = sum(
        1
        for i in range(200)
        for j in range(100)
        if f"k{i % 40}" == f"k{j % 25}"
    )
    assert len(rows) == n_expect


def test_exact_candidates_broadcast_small_side(spark):
    from pl_fuzzy_frame_match_spark.operators.candidates import (
        exact_candidates,
    )

    left = spark.range(1000).select(F.col("id").cast("string").alias("lk"))
    right = spark.range(30).select(F.col("id").cast("string").alias("rk"))
    plan = _plan(exact_candidates(left, right, 1000, 30))
    # small side broadcast: candidate generation itself never shuffles
    # the pair frame (the only Exchange is the parallelism repartition)
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_prefix_filter_jaccard_matches_quadratic_and_avoids_bnlj(spark):
    """prefix_filter_jaccard_pairs must produce EXACTLY the pairs of the
    quadratic theta-join formulation (prefix filtering is lossless) with
    no nested-loop/cartesian stage in the plan."""
    from pl_fuzzy_frame_match_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over a lazy dog",
        "pack my box with five dozen liquor jugs",
        "pack my box with five dozen liquor mugs today",
        "completely unrelated text about spark plans",
        "the quick brown fox jumps over the lazy dog",  # exact dup
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base)], ["doc_id", "text"]
    )
    for th in (0.3, 0.6, 0.9):
        fast = prefix_filter_jaccard_pairs(docs, "text", "doc_id", th)
        slow = ngram_jaccard_pairs(docs, "text", "doc_id", th)
        got = sorted(
            (r["left_id"], r["right_id"], round(r["jaccard_sim"], 9))
            for r in fast.collect()
        )
        exp = sorted(
            (r["left_id"], r["right_id"], round(r["jaccard_sim"], 9))
            for r in slow.collect()
        )
        assert got == exp, th
    plan = _plan(prefix_filter_jaccard_pairs(docs, "text", "doc_id", 0.6))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_pipeline_corpus_clean_has_no_quadratic_stage(spark):
    """The flagship corpus-clean pipeline must not contain a
    BroadcastNestedLoopJoin / cartesian anywhere (VERDICT r1 wrong #3)."""
    from pl_fuzzy_frame_match_spark import queries as q

    df = q.queries()["pipeline_corpus_clean"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key with the same bucket count
    must join with NO shuffle on either side (the write-time bucketing
    satisfies the distribution requirement)."""
    from pl_fuzzy_frame_match_spark.sources.bucketing import (
        bucketed_join,
        write_bucketed_table,
    )

    a = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(3000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_bucketed_table(
        a, "bkt_a", ["k"], 8, sort_cols=["k"], path=str(tmp_path / "a")
    )
    write_bucketed_table(
        b, "bkt_b", ["k"], 8, sort_cols=["k"], path=str(tmp_path / "b")
    )
    # disable broadcast so the join must rely on distribution, not size
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "bkt_a", "bkt_b", ["k"])
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 3000
        # the non-bucketed formulation of the same join DOES shuffle
        naive = a.join(b, on="k")
        assert "Exchange" in _plan(naive)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_parquet_scan_pushdown_and_pruning(spark):
    """Filters and projections must reach the parquet scan: a filter
    that scans all columns (or all rows) for a 2-column projection is
    the wrong plan at any scale."""
    from pl_fuzzy_frame_match_spark.sources.tables import load_table

    df = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id", "n_chars")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # ReadSchema carries only the projected + filter columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "lang", "n_chars"}, cols


def test_corpus_analysis_ops_have_no_nested_loop_join(spark):
    """contamination / boilerplate join exploded shingles against a
    BROADCAST reference set; a BroadcastNestedLoopJoin or cartesian in
    these plans would mean the equi-join degenerated."""
    from pl_fuzzy_frame_match_spark.queries import (
        boilerplate_frac,
        contamination_ngram,
    )

    for fn in (contamination_ngram, boilerplate_frac):
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__


def test_repetition_stats_is_map_only(spark):
    """The Gopher repetition signals must stay a pure scan: any
    Exchange in the plan means a per-document statistic acquired a
    corpus-wide shuffle."""
    from pl_fuzzy_frame_match_spark.queries import text_repetition

    plan = _plan(text_repetition(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan, plan


def test_audit_api_counts_and_asserts(spark):
    """The public plan-audit API (plans/audit.py) agrees with the raw
    string checks these tests do by hand."""
    import pytest

    from pl_fuzzy_frame_match_spark.plans.audit import (
        PlanAssertionError,
        assert_max_shuffles,
        assert_no_nested_loop,
        assert_scan_pruned,
        audit,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "n_chars")
    )
    a = audit(docs)
    assert a.exchanges == 0
    assert a.nested_loop_joins == 0 and a.cartesian_products == 0
    assert a.pushed_filters
    assert_no_nested_loop(docs)
    assert_max_shuffles(docs, 0)
    assert_scan_pruned(docs, {"doc_id", "lang", "n_chars"})

    # a theta join must trip the nested-loop assert
    l = spark.range(10).select(F.col("id").alias("a"))
    r = spark.range(10).select(F.col("id").alias("b"))
    theta = l.join(r, l["a"] < r["b"])
    with pytest.raises(PlanAssertionError):
        assert_no_nested_loop(theta)

    # an aggregate has exactly one real shuffle
    agg = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).groupBy("lang").count()
    assert_max_shuffles(agg, 1)
    a2 = audit(agg)
    assert a2.exchanges == 1
    with pytest.raises(PlanAssertionError):
        assert_max_shuffles(agg, 0)


def test_audit_shuffle_count_with_broadcast_join(spark):
    """``audit().exchanges`` counts shuffle Exchanges only: a plan with
    a BroadcastHashJoin must NOT have its broadcast exchange
    double-discounted (the old ``exchanges - broadcast_exchanges``
    under-counted and passed over-budget plans)."""
    import pytest

    from pl_fuzzy_frame_match_spark.plans.audit import (
        PlanAssertionError,
        assert_max_shuffles,
        audit,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dims = spark.createDataFrame([("en",), ("de",)], ["lang"])
    # broadcast join (0 shuffles) feeding an aggregate (1 shuffle)
    joined = docs.join(F.broadcast(dims), on="lang", how="inner")
    agg = joined.groupBy("lang").count()
    a = audit(agg)
    assert a.broadcast_hash_joins >= 1, a.plan
    assert a.broadcast_exchanges >= 1, a.plan
    assert a.exchanges == 1, a.plan  # the groupBy only; never negative
    assert_max_shuffles(agg, 1)
    with pytest.raises(PlanAssertionError):
        assert_max_shuffles(agg, 0)


def test_rank_limit_pushdown_pinned_on_topk_queries(spark):
    """VERDICT r3 #4: the global/grouped top-k ranking queries rely on
    Spark >= 3.5's InferWindowGroupLimit to avoid a single-partition
    global sort. Pin WindowGroupLimit/TakeOrderedAndProject in their
    physical plans so a conf change or regression can't silently bring
    the full sort back."""
    from pl_fuzzy_frame_match_spark import queries as q
    from pl_fuzzy_frame_match_spark.plans.audit import (
        PlanAssertionError,
        assert_rank_limit_pushed,
    )

    sf = "/root/testdata/sf0.001"
    for name in ("tpch_q10_shape", "window_top_orders", "docs_quality_topk"):
        assert_rank_limit_pushed(q.queries()[name](spark, sf))

    # sanity: the guard actually rejects an unranked plan
    import pytest

    with pytest.raises(PlanAssertionError):
        assert_rank_limit_pushed(
            spark.read.parquet(f"{sf}/orders.parquet").groupBy(
                "o_orderstatus"
            ).count()
        )
