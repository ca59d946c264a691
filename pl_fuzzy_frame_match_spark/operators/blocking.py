"""Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995).

The third classic candidate-generation tier next to the engine's
phonetic (Soundex) and n-gram/FastSS blocks: sort the corpus by a
blocking key and score only records whose sort positions are within a
fixed window ``w``. Recall profile is complementary to code-equality
blocks — it catches near-matches that share a PREFIX but land in
different phonetic/n-gram buckets, and its cost is strictly linear
(each record scores against at most w-1 neighbors, vs quadratic
within a hot Soundex block).

Scale shape: the global sort position comes from
``operators/suffixdedup.global_dense_rank`` (range-repartition +
local sort + per-partition offsets — never a single-task
``Window.orderBy``); window pairing is an EXPLODE + EQUI-JOIN on the
rank (each row emits w-1 probe ranks), not a non-equi range join, so
Catalyst plans a plain hash join with linear volume. Scoring reuses
the shared kernel tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.kernels import jvm_lower


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    window: int = 3,
    metric: str = "jaro_winkler",
    threshold: float = 0.0,
    score: bool = True,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs whose DISTINCT blocking keys sort within
    ``window`` positions of each other, scored with ``metric`` and
    kept at similarity >= ``threshold``.

    Output: (left_name, right_name, similarity) with
    left_name < right_name (rank order == key order, so no mirrored
    or self pairs). Each distinct key pair is scored exactly once no
    matter how many rows carry the keys.

    ``score=False`` returns the UNSCORED candidate set
    (left_name, right_name) — for composition sites like
    ``resolve_entities`` that union several tiers, dedupe, and score
    once: with the default a threshold-0 tier scores every candidate
    with the kernel only to have the caller discard the column and
    re-score the distinct union (round-12 optimization; guide §1.2
    "don't compute things you throw away"). ``ranked`` injects a
    precomputed ``(left_name, _rank)`` dense-rank frame so a caller
    that already ranked the keys (resolve_entities ranks them for the
    component ids anyway) does not pay a second global rank pass."""
    if window < 2:
        raise ValueError("window must be >= 2 (w-1 neighbors per key)")
    from ..functions.kernels import distance_column
    from .suffixdedup import global_dense_rank

    if ranked is None:
        keys = (
            df.select(F.col(key_col).alias("left_name"))
            .where(F.col("left_name").isNotNull())
            .distinct()
        )
        ranked = global_dense_rank(keys, ["left_name"], rank_col="_rank")
    probes = ranked.select(
        "left_name",
        F.explode(
            F.array(*[F.col("_rank") + F.lit(d) for d in range(1, window)])
        ).alias("_probe"),
    )
    right = ranked.select(
        F.col("left_name").alias("right_name"), F.col("_rank").alias("_r")
    )
    pairs = probes.join(right, probes["_probe"] == right["_r"])
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


def prefix_block_pairs(
    df: DataFrame,
    key_col: str,
    prefix_len: int = 3,
    metric: str = "jaro_winkler",
    threshold: float = 0.0,
    max_block: int | None = None,
    score: bool = True,
    distinct_keys: DataFrame | None = None,
) -> DataFrame:
    """Prefix blocking: candidate pairs of DISTINCT keys sharing their
    first ``prefix_len`` lowercased characters — the cheapest classic
    block (an equi-join on a short prefix), with the usual recall
    blind spot for edits inside the prefix. Output contract matches
    the other tiers: (left_name, right_name, similarity),
    left_name < right_name. ``score=False`` skips the kernel and
    returns the raw (left_name, right_name) candidates;
    ``distinct_keys`` injects a pre-distinct non-null single-column
    ``left_name`` frame (see ``sorted_neighborhood_pairs``)."""
    from ..functions.kernels import distance_column

    keys = (
        df.select(F.col(key_col).alias("left_name"))
        .where(F.col("left_name").isNotNull())
        .distinct()
        if distinct_keys is None
        else distinct_keys
    ).withColumn("_pfx", F.substring(jvm_lower("left_name"), 1, prefix_len))
    if max_block is not None:
        # block purging, same contract as phonetic_blocked_pairs
        small = (
            keys.groupBy("_pfx")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") <= F.lit(int(max_block)))
            .select("_pfx")
        )
        keys = keys.join(small, "_pfx")
    right = keys.select(
        F.col("left_name").alias("right_name"), F.col("_pfx").alias("_rp")
    )
    pairs = keys.join(
        right,
        (F.col("_pfx") == F.col("_rp"))
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


def blocking_quality(
    df: DataFrame,
    key_col: str,
    threshold: float = 0.88,
    window: int = 4,
    prefix_len: int = 3,
    metric: str = "jaro_winkler",
) -> DataFrame:
    """Record-linkage blocking evaluation (Christen's pairs-
    completeness / reduction-ratio): for each candidate tier —
    phonetic (Soundex), sorted-neighborhood, prefix — how much of the
    TRUE match set (brute-force distinct-key pairs scoring >=
    ``threshold``) does the block recall, and what fraction of the
    distinct-pair cartesian does it avoid?

    Output, one row per tier:
    (tier, n_candidates, n_found, n_true, recall, reduction_ratio).

    The ground truth is the quadratic distinct-key cross — this is an
    EVALUATION harness: at corpus scale you run it on a sample (or a
    stratum) to pick a tier, then deploy the chosen linear-cost block;
    the harness itself stays one lazy plan (tiers unioned with a
    label, left-joined against the truth pairs, one groupBy)."""
    from ..functions.kernels import distance_column
    from ..functions.phonetic import phonetic_blocked_pairs

    names = (
        df.select(F.col(key_col).alias("left_name"))
        .where(F.col("left_name").isNotNull())
        .distinct()
    )
    right = names.select(F.col("left_name").alias("right_name"))
    sim = F.lit(1.0) - distance_column(
        metric, jvm_lower("left_name"), jvm_lower("right_name")
    )
    truth = (
        names.join(right, F.col("left_name") < F.col("right_name"))
        .where(sim >= F.lit(threshold))
        .select("left_name", "right_name", F.lit(1).alias("_hit"))
    )
    tiers = [
        ("phonetic", phonetic_blocked_pairs(df, key_col, metric=metric)),
        (
            "sorted_neighborhood",
            sorted_neighborhood_pairs(df, key_col, window=window, metric=metric),
        ),
        ("prefix", prefix_block_pairs(df, key_col, prefix_len=prefix_len, metric=metric)),
    ]
    cands = None
    for tier, frame in tiers:
        labeled = frame.select(
            F.lit(tier).alias("tier"), "left_name", "right_name"
        )
        cands = labeled if cands is None else cands.unionByName(labeled)
    totals = names.agg(F.count(F.lit(1)).alias("_n")).select(
        (F.col("_n") * (F.col("_n") - 1) / 2).cast("long").alias("total_pairs")
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    per_tier = (
        cands.join(truth, ["left_name", "right_name"], "left")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias(
                "n_found"
            ),
        )
    )
    # a tier that produced ZERO candidates must still report
    # (0 candidates, 0 found, recall 0, reduction_ratio 1) — the
    # groupBy alone would silently drop its row
    tier_names = df.sparkSession.createDataFrame(
        [(t,) for t, _ in tiers], "tier string"
    )
    per_tier = (
        tier_names.join(per_tier, "tier", "left")
        .fillna(0, ["n_candidates", "n_found"])
    )
    # Degenerate-input guard (ADVICE r9): with 0 or 1 distinct keys
    # total_pairs is 0 and n_true is 0 — emit the clean fixed points
    # (recall 1.0: the empty truth set is vacuously recalled;
    # reduction_ratio 1.0: nothing to reduce) instead of the nulls a
    # silent x/0 would produce.
    return (
        per_tier.crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(totals))
        .select(
            "tier",
            "n_candidates",
            "n_found",
            "n_true",
            F.when(F.col("n_true") > 0, F.round(
                F.col("n_found") / F.col("n_true"), 6
            )).otherwise(F.lit(1.0)).alias("recall"),
            F.when(F.col("total_pairs") > 0, F.round(
                1.0 - F.col("n_candidates") / F.col("total_pairs"), 6
            )).otherwise(F.lit(1.0)).alias("reduction_ratio"),
        )
    )


# Default block-size cap for resolve_entities. The repo's own 1M-name
# scale probe (scripts/probe_blocking_scale.py, PLANS.md r9) measured
# the uncapped configuration as degenerate — 147M Soundex + 192M prefix
# candidate pairs, run died in GC — while max_block=50 completed in
# 57 s. The composed flagship must therefore be bounded BY DEFAULT;
# pass ``max_block=None`` explicitly for exhaustive small-corpus runs
# (the oracle-gate configuration). (ADVICE r9)
DEFAULT_MAX_BLOCK = 50


def purged_block_report(
    df: DataFrame,
    key_col: str,
    max_block: int = DEFAULT_MAX_BLOCK,
    prefix_len: int = 3,
) -> DataFrame:
    """Recall-loss visibility for block purging (ADVICE r10):
    per purging tier, how many blocks a ``max_block`` cap drops and
    how many distinct keys sit inside them. ``resolve_entities``
    purges silently by design (an action inside the operator would
    force an extra job on every call); callers who need the signal
    run THIS lazy diagnostic on the same inputs — a nonzero
    ``n_purged_blocks`` means the cap is trading recall for the
    measured 1M-name blowup documented at ``DEFAULT_MAX_BLOCK``.

    Output: (tier, n_purged_blocks, n_keys_in_purged,
    largest_block). One distinct + one groupBy per tier; no pair
    enumeration — the report is linear even when the purged blocks
    are quadratically hot."""
    from ..functions.phonetic import soundex_code

    keys = (
        df.select(F.col(key_col).alias("k"))
        .where(F.col("k").isNotNull())
        .distinct()
    )
    out = None
    for tier, code in (
        ("phonetic", soundex_code(F.col("k"))),
        ("prefix", F.substring(jvm_lower("k"), 1, prefix_len)),
    ):
        over = (
            keys.select(code.alias("_b"))
            .where(F.col("_b").isNotNull())
            .groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") > F.lit(int(max_block)))
            .agg(
                F.lit(tier).alias("tier"),
                F.count(F.lit(1)).alias("n_purged_blocks"),
                F.coalesce(F.sum("_bn"), F.lit(0)).alias(
                    "n_keys_in_purged"
                ),
                F.coalesce(F.max("_bn"), F.lit(0)).alias("largest_block"),
            )
        )
        out = over if out is None else out.unionByName(over)
    return out


def resolve_entities(
    df: DataFrame,
    key_col: str,
    threshold: float = 0.88,
    window: int = 4,
    prefix_len: int = 3,
    metric: str = "jaro_winkler",
    max_block: int | None = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """END-TO-END entity resolution over a name column: union the
    three blocking tiers (Soundex, sorted-neighborhood, prefix) for
    candidates, score with ``metric``, keep matches >= ``threshold``,
    close them transitively (connected components — match graphs are
    not transitive: A~B and B~C does not imply the A~C score passes),
    and emit one canonical name per entity (the lexicographic
    minimum of the component).

    Output: (name, canonical_name) for every DISTINCT non-null name —
    unmatched names are their own canonical.

    ``max_block`` purges phonetic/prefix blocks holding more than that
    many keys (default ``DEFAULT_MAX_BLOCK`` — see the module constant
    for the measured 1M-name failure that motivates a bounded default).
    ``None`` disables purging for exhaustive small-corpus resolution.
    Purging is silent here (no extra job per call); run
    ``purged_block_report`` on the same inputs to see how many blocks
    and keys the cap drops (ADVICE r10).

    Scale shape: tiers are linear candidate generators (see each
    tier's notes); components run on integer ranks from
    `global_dense_rank` (strings never enter the label-propagation
    shuffle); canonicalization is one min-agg + two joins. This is
    the composed flagship of the blocking family, the record-linkage
    sibling of `queries.pipeline_training_data`."""
    from ..functions.kernels import distance_column
    from ..functions.phonetic import phonetic_blocked_pairs
    from .graph import connected_components
    from .suffixdedup import global_dense_rank

    names = (
        df.select(F.col(key_col).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
    )
    # Round-12 restructure (guide §1.2 / §2.4): rank the distinct
    # names ONCE and derive everything from it. Before, each tier
    # re-scanned + re-distinct-ed the input, the sorted-neighborhood
    # tier ran its own second global rank pass, and every tier scored
    # ALL its candidates with the kernel at threshold 0 only for the
    # scores to be discarded here and the distinct union re-scored —
    # double Python-kernel work plus four redundant exchanges.
    # global_dense_rank materializes its sort internally; the extra
    # eager checkpoint here pins the RANK OUTPUT too, so the ~6
    # consumers below (two tier key sides, the neighborhood rank
    # frame, both id joins, the final label join) read plain blocks
    # instead of each re-running the Arrow rank-assignment pass.
    ranked = global_dense_rank(names, ["name"], rank_col="_rid").localCheckpoint(
        eager=True
    )
    keyed = ranked.select(F.col("name").alias("left_name"))
    cands = (
        phonetic_blocked_pairs(
            df, key_col, metric=metric, max_block=max_block,
            score=False, distinct_keys=keyed,
        )
        .unionByName(
            sorted_neighborhood_pairs(
                df, key_col, window=window, metric=metric, score=False,
                ranked=ranked.select(
                    F.col("name").alias("left_name"),
                    F.col("_rid").alias("_rank"),
                ),
            )
        )
        .unionByName(
            prefix_block_pairs(
                df, key_col, prefix_len=prefix_len, metric=metric,
                max_block=max_block, score=False, distinct_keys=keyed,
            )
        )
        .distinct()
    )
    sim = F.lit(1.0) - distance_column(
        metric, jvm_lower("left_name"), jvm_lower("right_name")
    )
    matches = cands.where(sim >= F.lit(threshold))
    lid = ranked.select(
        F.col("name").alias("left_name"), F.col("_rid").alias("left_id")
    )
    rid = ranked.select(
        F.col("name").alias("right_name"), F.col("_rid").alias("right_id")
    )
    edges = matches.join(lid, "left_name").join(rid, "right_name").select(
        "left_id", "right_id"
    )
    comp = connected_components(edges, "left_id", "right_id")
    labeled = ranked.join(
        comp, ranked["_rid"] == comp["node"], "left"
    ).select(
        "name",
        F.coalesce(F.col("component"), F.col("_rid")).alias("_comp"),
    )
    canon = labeled.groupBy("_comp").agg(F.min("name").alias("canonical_name"))
    return labeled.join(canon, "_comp").select("name", "canonical_name")


def er_quality(
    df: DataFrame,
    key_col: str,
    threshold: float = 0.88,
    window: int = 4,
    prefix_len: int = 3,
    metric: str = "jaro_winkler",
    max_block: int | None = None,
) -> DataFrame:
    """Survivorship quality of the blocked entity-resolution pipeline
    (VERDICT r9 #8): pair-counting precision/recall of
    `resolve_entities`' clustering against the TRUTH clustering — the
    transitive closure of the brute-force match set (every distinct
    key pair scoring >= ``threshold``, no blocking).

    Pair counts come from component sizes, never from enumerating
    pairs: for resolved clusters of sizes n_a, truth clusters n_b and
    joint intersections n_ab,

        resolved_pairs = sum C(n_a, 2)
        truth_pairs    = sum C(n_b, 2)
        common_pairs   = sum C(n_ab, 2)

    (the Rand-index pair decomposition), so the metric side is LINEAR
    in the corpus and survives any scale the pipeline itself survives.
    The quadratic part is the truth cross join — like
    `blocking_quality`, this is an EVALUATION harness: run it on a
    sample/stratum to certify a configuration, then deploy the linear
    pipeline.

    Output (one row): (n_names, resolved_pairs, truth_pairs,
    common_pairs, pair_precision, pair_recall); precision/recall are
    1.0 when their denominator is 0 (nothing resolved / no true
    matches — vacuously perfect).
    """
    from ..functions.kernels import distance_column
    from .graph import connected_components
    from .suffixdedup import global_dense_rank

    resolved = resolve_entities(
        df, key_col, threshold=threshold, window=window,
        prefix_len=prefix_len, metric=metric, max_block=max_block,
    )

    names = (
        df.select(F.col(key_col).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
    )
    right = names.select(F.col("name").alias("right_name"))
    sim = F.lit(1.0) - distance_column(
        metric, jvm_lower("name"), jvm_lower("right_name")
    )
    truth_matches = (
        names.join(right, F.col("name") < F.col("right_name"))
        .where(sim >= F.lit(threshold))
        .select("name", "right_name")
    )
    ranked = global_dense_rank(names, ["name"], rank_col="_rid")
    lid = ranked.select("name", F.col("_rid").alias("left_id"))
    rid = ranked.select(
        F.col("name").alias("right_name"), F.col("_rid").alias("right_id")
    )
    tedges = truth_matches.join(lid, "name").join(rid, "right_name").select(
        "left_id", "right_id"
    )
    tcomp = connected_components(tedges, "left_id", "right_id")
    truth_labels = ranked.join(
        tcomp, ranked["_rid"] == tcomp["node"], "left"
    ).select(
        "name",
        F.coalesce(F.col("component"), F.col("_rid")).alias("_tlabel"),
    )

    c2 = lambda n: (n * (n - F.lit(1))) / F.lit(2)  # noqa: E731
    joint = (
        resolved.join(truth_labels, "name")
        .groupBy("canonical_name", "_tlabel")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.sum(c2(F.col("_n"))).cast("long").alias("common_pairs"))
    )
    res_pairs = (
        resolved.groupBy("canonical_name")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.sum(c2(F.col("_n"))).cast("long").alias("resolved_pairs"))
    )
    tru_pairs = (
        truth_labels.groupBy("_tlabel")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.sum(c2(F.col("_n"))).cast("long").alias("truth_pairs"))
    )
    n_names = names.agg(F.count(F.lit(1)).alias("n_names"))
    return (
        n_names.crossJoin(F.broadcast(res_pairs))
        .crossJoin(F.broadcast(tru_pairs))
        .crossJoin(F.broadcast(joint))
        .select(
            "n_names",
            "resolved_pairs",
            "truth_pairs",
            "common_pairs",
            F.when(
                F.col("resolved_pairs") > 0,
                F.round(F.col("common_pairs") / F.col("resolved_pairs"), 6),
            ).otherwise(F.lit(1.0)).alias("pair_precision"),
            F.when(
                F.col("truth_pairs") > 0,
                F.round(F.col("common_pairs") / F.col("truth_pairs"), 6),
            ).otherwise(F.lit(1.0)).alias("pair_recall"),
        )
    )
