"""The composite fuzzy-join operator — the engine's flagship.

Capability parity with the reference's pipeline
(/root/reference/pl_fuzzy_frame_match/matcher.py:419-658, process.py):

  PHASE A  plan: counts, approx-distinct selectivity, mapping order,
           low-uniqueness input dedup, collision renames, output order
  PHASE B  row identity: __left_index / __right_index
  PHASE C  per-mapping loop: key dedup (group->index list) -> adaptive
           candidate generation + scoring on DISTINCT key pairs (exact:
           fused native scan, cross join fallback | approx: sketch scan
           / LSH) -> threshold filter -> explode
  PHASE D  conjunction of all mappings + payload re-attach

Spark-first deviations from the reference (same *semantics*, different
machinery — documented per the survey's guidance):

- Row ids come from ``monotonically_increasing_id`` + an immediate
  ``localCheckpoint`` (ids must not change across re-evaluation; the
  reference pins them by spilling to Arrow IPC, matcher.py:416).
- Refinement rounds 2..n carry score columns forward instead of
  materializing per-round frames and re-intersecting them at the end
  (reference ``combine_matches``, matcher.py:388-392). With the native
  kernels each round is one ``mapInArrow`` pass over the surviving row
  pairs (C over the Arrow buffers, threshold applied in C), so all
  rounds stay one lazy plan; without a toolchain a round scores
  through codegen levenshtein or a pandas UDF.
- The reference's explicit spill-to-temp-dir machinery (_utils.py) and
  manual chunking/partitioned-dedup (matcher.py:52-96, 343-385)
  dissolve into Spark's native shuffle spill / partitioning.
- Filter-before-explode ordering (reference process.py:150-155) is
  preserved by construction: the threshold filter runs on the grouped
  (distinct-key) frame, so the row-level expansion only materializes
  surviving pairs.
"""

from __future__ import annotations

import logging
import tempfile
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions import native_kernels
from ..functions.kernels import distance_column
from ..models import FuzzyMapping
from ..naming import (
    get_rename_right_columns_to_ensure_no_overlap,
    rename_fuzzy_right_mapping,
    set_output_column_names,
)
from ..plans.planner import (
    DEFAULT_CROSS_OVER,
    choose_candidate_strategy,
    estimate_exact_survivors,
    get_count_and_approx_uniqueness,
    get_count_uniqueness_and_maxlen,
    order_mappings_by_selectivity,
    promote_exact_mappings,
    should_deduplicate_inputs,
)
from .candidates import (
    BROADCAST_KEY_LIMIT,
    DEFAULT_TOP_N,
    approx_scored_pairs,
    attach_index_lists,
    exact_candidates,
    max_key_length,
    neighborhood_scored_pairs,
)

# Attempt the deletion-neighborhood rewrite (cap <= NEIGHBORHOOD_MAX_
# EDITS) only when the distance bound is small enough that SOME
# realistic key length satisfies floor(bound * maxlen) <= cap —
# avoids paying the max-length probe on clearly-inapplicable
# thresholds.
NEIGHBORHOOD_BOUND_GATE = 0.3
# largest edit cap the rewrite handles exactly: U_k deletion
# neighborhoods are complete for lev <= k; fan-out grows ~L^k/k! per
# key, so k = 2 (~L^2/2 variants) is the practical ceiling before the
# variant join itself dominates
NEIGHBORHOOD_MAX_EDITS = 2

LEFT_INDEX = "__left_index"
RIGHT_INDEX = "__right_index"
_DIST = "__fuzzy_dist"

# Refine rounds score far fewer pairs per task than the cross-join
# tier (PAIRS_PER_TASK): the surviving pair set is usually small, and
# one coalesced partition serializes the kernel — spread it thinner.
# (Fallback paths only; the native pass uses the budget below.)
REFINE_PAIRS_PER_TASK = 20_000

# Per-task row-pair budget of the native refine passes (JVM lower +
# Arrow + C, ~1 us per pair per round on one core). Measured on a
# 4-core host with the fuzzbench multi_refine inputs (seed 3), whole
# joins, medians of 4 warm repetitions interleaved in one process:
# 306K refine pairs joined in 1.55 s on one task, 1.67 s split 4 ways
# and 2.20 s split 8 ways (task and Python-worker fixed cost outweigh
# the spread); 1.2M pairs (4x the left rows) took 3.19 s on one task,
# 2.42 / 2.48 / 2.91 s split 2 / 4 / 8 ways. Splitting pays from about
# 300-600K pairs per task.
REFINE_NATIVE_PAIRS_PER_TASK = 500_000

# Above this uniqueness ratio on BOTH refine columns, the distinct
# value-pair frame would be ~the row-level pair frame, so refine
# scores rows directly (no distinct, no join-back, no eager
# checkpoint — the round stays one lazy plan).
REFINE_DIRECT_UNIQUENESS = 0.8

# Broadcast an indexed input frame into pair-level joins when its row
# count (known exactly from the planner pass) is below this. The frames
# sit behind checkpoints, so AQE has no stats and would otherwise
# sort-merge the (often much larger) match-pair frame against them.
BROADCAST_ROW_LIMIT = 1_000_000


def _maybe_broadcast(df: DataFrame, n_rows: Optional[int]) -> DataFrame:
    if n_rows is not None and 0 < n_rows <= BROADCAST_ROW_LIMIT:
        return F.broadcast(df)
    return df


def add_index_column(df: DataFrame, name: str) -> DataFrame:
    """Assign stable synthetic row ids (reference matcher.py:395-416).

    ``monotonically_increasing_id`` is unique but plan-dependent, so the
    lineage is truncated immediately with ``localCheckpoint`` — the
    Spark analogue of the reference's spill-to-IPC id pinning. The ids
    are opaque join keys only; sequentiality is never relied upon.
    """
    return df.withColumn(name, F.monotonically_increasing_id()).localCheckpoint(
        eager=True
    )


def build_key_frame(df: DataFrame, col: str, index_col: str) -> DataFrame:
    """Key dedup (A1): one row per distinct non-null key value carrying
    all source row ids — scoring then happens once per distinct string,
    not once per row (reference process.py:59-111)."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.collect_list(index_col).alias(index_col))
    )


_LC_PREFIX = "__lc_"


def score_and_explode(
    candidates: DataFrame, mapping: FuzzyMapping
) -> DataFrame:
    """C5: lowercase -> normalized distance -> threshold filter ->
    similarity flip -> double explode of the index lists
    (reference process.py:8-56, 114-155). Returns
    (__left_index, __right_index, <score col>).

    When the candidate frame carries pre-lowered key columns
    (``__lc_<col>``, added per DISTINCT key before the cross join),
    scoring uses them: a ``lower()`` above the join is re-evaluated
    per PAIR in whole-stage codegen (2 string allocations x pair
    volume — measured ~15% of the 80M-pair exact path), below the
    join it runs once per key row / once at broadcast build."""
    la, lb = _LC_PREFIX + mapping.left_col, _LC_PREFIX + mapping.right_col
    a = F.col(la) if la in candidates.columns else F.lower(
        F.col(mapping.left_col)
    )
    b = F.col(lb) if lb in candidates.columns else F.lower(
        F.col(mapping.right_col)
    )
    d = distance_column(
        mapping.fuzzy_type, a, b, mapping.reversed_threshold_score
    )
    scored = candidates.withColumn(_DIST, d).filter(
        F.col(_DIST) <= F.lit(mapping.reversed_threshold_score)
    )
    return _explode_index_lists(scored, F.lit(1.0) - F.col(_DIST), mapping)


def _explode_index_lists(
    pairs: DataFrame, score, mapping: FuzzyMapping
) -> DataFrame:
    """Key pairs carrying both index lists -> one row per (left row,
    right row): ``(__left_index, __right_index, <score col>)``."""
    return (
        pairs.select(
            LEFT_INDEX, RIGHT_INDEX, score.alias(mapping.output_column_name)
        )
        .withColumn(LEFT_INDEX, F.explode(LEFT_INDEX))
        .withColumn(RIGHT_INDEX, F.explode(RIGHT_INDEX))
    )


def _explode_scored_pairs(
    scored: DataFrame,
    left_keys: DataFrame,
    right_keys: DataFrame,
    mapping: FuzzyMapping,
    n_left_keys: int,
    n_right_keys: int,
) -> DataFrame:
    """Thresholded key pairs ``(left key, right key, __fuzzy_dist)`` ->
    row pairs. Index lists re-attach to the surviving pairs only, and
    the pairs are distinct, so the exploded index pairs are unique."""
    survivors = attach_index_lists(
        scored, left_keys, right_keys, mapping.left_col, mapping.right_col,
        n_left_keys, n_right_keys,
    )
    return _explode_index_lists(
        survivors, F.lit(1.0) - F.col(_DIST), mapping
    )


def first_round_matches(
    left: DataFrame,
    right: DataFrame,
    mapping: FuzzyMapping,
    n_left_keys: int,
    n_right_keys: int,
    use_appr_nearest_neighbor: Optional[bool],
    top_n: int,
    cross_over: float,
    max_len_left: Optional[int] = None,
    max_len_right: Optional[int] = None,
    n_parts: Optional[int] = None,
) -> DataFrame:
    """Round 1 of the per-mapping loop (reference matcher.py:419-504):
    build key frames, pick exact/approx strategy on the cartesian of
    distinct-key counts, generate candidates, score.

    ``n_left_keys`` / ``n_right_keys`` are the planner's HyperLogLog
    approximate distinct counts — the reference recounts the key frames
    exactly (process.py:101-102); reusing the estimates saves two
    materializations per mapping, and the strategy/broadcast thresholds
    they feed are order-of-magnitude heuristics where ~2% HLL error is
    immaterial. The whole round stays lazy: one Spark job executes
    groupBy -> cross/LSH join -> score -> explode end-to-end.
    """
    left_keys = build_key_frame(left, mapping.left_col, LEFT_INDEX)
    right_keys = build_key_frame(right, mapping.right_col, RIGHT_INDEX)
    if mapping.reversed_threshold_score == 0.0:
        # threshold 100: similarity must be exactly 1, and for all six
        # metrics d(a, b) = 0 iff a == b (lowercased). Plan it as a
        # hash EQUI-join on the lowercase key — no cartesian, no ANN
        # budget, no scoring; pair volume stops being a planning
        # concern entirely for exact mappings mixed into fuzzy specs.
        eq = "__eq_key"
        joined = left_keys.withColumn(
            eq, F.lower(F.col(mapping.left_col))
        ).join(
            right_keys.withColumn(eq, F.lower(F.col(mapping.right_col))),
            on=eq,
            how="inner",
        )
        if n_parts:
            joined = joined.repartition(n_parts)
        return _explode_index_lists(joined, F.lit(1.0), mapping)
    from .candidates import SKETCH_SCAN_CAP

    cartesian = max(n_left_keys, 1) * max(n_right_keys, 1)
    neighborhood_cap = (
        int(
            mapping.reversed_threshold_score
            * max(
                max_len_left
                if max_len_left is not None
                else max_key_length(left_keys, mapping.left_col),
                max_len_right
                if max_len_right is not None
                else max_key_length(right_keys, mapping.right_col),
            )
        )
        if (
            mapping.fuzzy_type == "levenshtein"
            and 0.0
            < mapping.reversed_threshold_score
            <= NEIGHBORHOOD_BOUND_GATE
        )
        else NEIGHBORHOOD_MAX_EDITS + 1
    )
    neighborhood_ok = (
        use_appr_nearest_neighbor is not True  # forced ANN stays ANN
        and neighborhood_cap <= NEIGHBORHOOD_MAX_EDITS
    )
    # Mid-volume promotion adjudicated AGAINST (round 10, VERDICT r9
    # #5): a probe-gated cap-1 O9 promotion was built and A/B'd at the
    # auto_xl shape (15K x 15K, probed candidate volume 2.18M) — even
    # with the parallelism fix below, variant join + rescore +
    # distinct measures 1.5 s warmed PLUS a 1.3 s volume probe, vs
    # 1.94 s for the fused sketch scan, and the O9 output is larger
    # (lossless) so the downstream index joins pay more too. The
    # round-5 policy note stands: in the mid-volume ANN window the
    # sketch scan's constant wins. Full A/B in PLANS.md round 10.
    if neighborhood_ok and (
        cartesian <= cross_over  # replaces the cartesian: always wins
        or cartesian > SKETCH_SCAN_CAP  # replaces lossy banding: exact AND cheaper
        or use_appr_nearest_neighbor is False  # forced exact at any volume
    ):
        # O9 (engine-original rewrite, no reference analogue): every
        # pair's banded cap floor(bound * maxlen) is <= 2, so the
        # threshold can only admit lev <= cap pairs — plan candidate
        # generation as a deletion-neighborhood EQUI-join (FastSS):
        # |key|+1 (cap 1) / ~|key|^2/2 (cap 2) variant rows per key,
        # hash join, exact rescore. Lossless and linear in the key
        # count. Policy: below the crossover it replaces the cartesian
        # outright; in the mid-volume ANN window the fused sketch scan
        # stays (its measured constant beats the variant join's
        # shuffles); past the sketch cap it replaces MinHash banding —
        # an EXACT plan where the reference can only go lossy, at any
        # volume (the 1e14 abort stops applying to these thresholds).
        scored = neighborhood_scored_pairs(
            left_keys, right_keys, mapping.left_col, mapping.right_col,
            mapping.reversed_threshold_score, dist_col=_DIST,
            n_left_keys=n_left_keys, n_right_keys=n_right_keys,
            cap=max(neighborhood_cap, 1),
        )
        return _explode_scored_pairs(
            scored, left_keys, right_keys, mapping, n_left_keys, n_right_keys
        )
    strategy = choose_candidate_strategy(
        n_left_keys, n_right_keys, use_appr_nearest_neighbor, cross_over
    )
    # O4 exact tier: the fused native scan scores every key pair in C
    # against the broadcast smaller side (lossless; only survivors
    # cross Arrow). The codegen cross join stays as the fallback with
    # no C toolchain or with both key sides past one broadcast.
    fused_exact = (
        not strategy.use_approx
        and min(n_left_keys, n_right_keys) <= BROADCAST_KEY_LIMIT
        and native_kernels.native_available()
    )
    if not (strategy.use_approx or fused_exact):
        cands = exact_candidates(
            left_keys.withColumn(
                _LC_PREFIX + mapping.left_col,
                F.lower(F.col(mapping.left_col)),
            ),
            right_keys.withColumn(
                _LC_PREFIX + mapping.right_col,
                F.lower(F.col(mapping.right_col)),
            ),
            n_left_keys,
            n_right_keys,
        )
        return score_and_explode(cands, mapping)
    # Scored+thresholded key pairs straight from the candidate layer
    # (in-kernel scoring on the scan paths), larger key set on the
    # probe side (reference matcher.py:16-49). Index lists re-attach
    # only for survivors: most candidates fail the threshold and must
    # not pay the index joins.
    if n_left_keys >= n_right_keys:
        scored = approx_scored_pairs(
            left_keys, right_keys, mapping.left_col, mapping.right_col,
            mapping.fuzzy_type, mapping.reversed_threshold_score,
            top_n=top_n, n_left_keys=n_left_keys,
            n_right_keys=n_right_keys, dist_col=_DIST, lossless=fused_exact,
        )
    else:
        scored = approx_scored_pairs(
            right_keys, left_keys, mapping.right_col, mapping.left_col,
            mapping.fuzzy_type, mapping.reversed_threshold_score,
            top_n=top_n, n_left_keys=n_right_keys,
            n_right_keys=n_left_keys, dist_col=_DIST, lossless=fused_exact,
        )
    return _explode_scored_pairs(
        scored, left_keys, right_keys, mapping, n_left_keys, n_right_keys
    )


def _refine_input_parts(
    spark, maps, left_uniq, right_uniq, left_count, right_count
) -> Optional[int]:
    """Partitions for round 1's key pairs when round 1 is an equi-join
    that native refine rounds follow: AQE coalesces the few key pairs
    to one partition, so every refine pass over their exploded row
    pairs would run on one core. Past ``REFINE_NATIVE_PAIRS_PER_TASK``
    estimated row pairs (O10's estimate) the KEY pairs are spread
    before the explode; spreading the exploded rows instead costs a
    shuffle dearer per pair than the scoring it spreads."""
    if (
        maps[0].reversed_threshold_score != 0.0
        or not any(m.reversed_threshold_score > 0.0 for m in maps[1:])
        or not native_kernels.native_available()
    ):
        return None
    est = estimate_exact_survivors(
        maps[:1], left_uniq, right_uniq, left_count, right_count
    )
    if est <= REFINE_NATIVE_PAIRS_PER_TASK:
        return None
    cores = spark.sparkContext.defaultParallelism
    return min(-(-est // REFINE_NATIVE_PAIRS_PER_TASK), cores * 2)


def refine_matches(
    left: DataFrame,
    right: DataFrame,
    existing: DataFrame,
    mapping: FuzzyMapping,
    n_left: Optional[int] = None,
    n_right: Optional[int] = None,
    direct: bool = False,
) -> DataFrame:
    """Rounds 2..n (reference matcher.py:188-238, 456-491): restrict to
    surviving index pairs, score their (left value, right value) pairs,
    keep pairs passing this mapping's threshold, carry all prior score
    columns forward. Conjunction semantics — output can only shrink
    (pinned by the reference's monotonicity tests).

    With the native kernels (threshold < 100) the round is one
    ``mapInArrow`` pass over the row pairs (:func:`_score_rows_native`):
    ``existing`` is referenced once and never checkpointed, and there
    is no repartition (the opaque pass cannot sink below one), so every
    round stays one lazy plan on the partitions it receives (see
    :func:`_refine_input_parts`).

    Without a toolchain the round scores through
    :func:`distance_column` (codegen levenshtein / pandas UDF). The
    ``direct`` path (planner-flagged near-unique columns) scores the
    rows behind a repartition + lazy checkpoint; the general path
    scores each DISTINCT value pair once and joins back, and
    materializes ``existing`` first (the Spark analogue of the
    reference's per-round spill, matcher.py:492), because its plan
    references it on two branches. The exact-match shortcut
    (threshold 100) references ``existing`` once and stays lazy on
    every path (VERDICT r4 #4: this was the fuzzy_join_multi
    fixed-cost gap; the reference's O8 skipped per-round recounts the
    same way)."""

    def _vals(frame: DataFrame) -> DataFrame:
        return (
            frame.join(
                _maybe_broadcast(
                    left.select(LEFT_INDEX, mapping.left_col), n_left
                ),
                on=LEFT_INDEX,
                how="inner",
            )
            .join(
                _maybe_broadcast(
                    right.select(RIGHT_INDEX, mapping.right_col), n_right
                ),
                on=RIGHT_INDEX,
                how="inner",
            )
            .filter(
                F.col(mapping.left_col).isNotNull()
                & F.col(mapping.right_col).isNotNull()
            )
        )

    if mapping.reversed_threshold_score == 0.0:
        # exact-match shortcut (threshold 100): no distinct-pair frame,
        # no scoring, no join-back — just the equality filter; single
        # reference to `existing`, so no checkpoint either
        return (
            _vals(existing)
            .filter(
                F.lower(F.col(mapping.left_col))
                == F.lower(F.col(mapping.right_col))
            )
            .withColumn(mapping.output_column_name, F.lit(1.0))
            .drop(mapping.left_col, mapping.right_col)
        )
    if native_kernels.native_available():
        return _score_rows_native(_vals(existing), mapping)
    if direct:
        # near-unique refine columns (planner-flagged): the distinct
        # value-pair frame would be ~the row-level frame, so the
        # distinct + join-back machinery is pure overhead — score the
        # rows directly. Single reference to `existing` => the whole
        # round stays one lazy plan with NO eager checkpoint (the
        # exact-shortcut insight, extended). The round-robin
        # repartition + LAZY checkpoint barrier parallelizes the
        # kernel (AQE coalesces the surviving-pair exchange to ~1
        # partition otherwise) without a separate blocking job.
        cores = existing.sparkSession.sparkContext.defaultParallelism
        la, lb = _LC_PREFIX + "refine_l", _LC_PREFIX + "refine_r"
        return (
            _vals(existing)
            .repartition(cores * 2)
            .localCheckpoint(eager=False)
            .withColumn(la, F.lower(F.col(mapping.left_col)))
            .withColumn(lb, F.lower(F.col(mapping.right_col)))
            .withColumn(
                _DIST,
                distance_column(
                    mapping.fuzzy_type,
                    F.col(la),
                    F.col(lb),
                    mapping.reversed_threshold_score,
                ),
            )
            .filter(F.col(_DIST) <= F.lit(mapping.reversed_threshold_score))
            .withColumn(
                mapping.output_column_name, F.lit(1.0) - F.col(_DIST)
            )
            .drop(la, lb, _DIST, mapping.left_col, mapping.right_col)
        )
    existing = existing.localCheckpoint(eager=True)
    vals = _vals(existing)
    distinct_pairs = vals.select(mapping.left_col, mapping.right_col).distinct()
    # Parallelize the refine-round scoring (O10 made this path carry
    # real fuzzy work): AQE coalesces the small distinct-pair exchange
    # to ONE partition, serializing the distance kernel (the same
    # measured gotcha as the dedup verify stages). Repartition by the
    # surviving-pair volume — the count is free off the checkpoint —
    # behind a LAZY localCheckpoint barrier so Catalyst cannot sink
    # the scoring projection below the round-robin exchange back into
    # the single-partition aggregate stage.
    n_pairs = existing.count()
    cores = existing.sparkSession.sparkContext.defaultParallelism
    n_parts = int(min(max(n_pairs // REFINE_PAIRS_PER_TASK, 1), cores * 2))
    if n_parts > 1:
        distinct_pairs = distinct_pairs.repartition(n_parts).localCheckpoint(
            eager=False
        )
    # alias the lowercased pair in a projection: an inline lower() is
    # re-evaluated at every reference in the distance expression tree
    # (levenshtein args + both lengths + the banded cap — ~6x per row);
    # the alias binds one codegen variable per row
    la, lb = _LC_PREFIX + "refine_l", _LC_PREFIX + "refine_r"
    scored = (
        distinct_pairs.withColumn(la, F.lower(F.col(mapping.left_col)))
        .withColumn(lb, F.lower(F.col(mapping.right_col)))
        .withColumn(
            _DIST,
            distance_column(
                mapping.fuzzy_type,
                F.col(la),
                F.col(lb),
                mapping.reversed_threshold_score,
            ),
        )
        .drop(la, lb)
        .filter(F.col(_DIST) <= F.lit(mapping.reversed_threshold_score))
        .withColumn(mapping.output_column_name, F.lit(1.0) - F.col(_DIST))
        .drop(_DIST)
    )
    # the distinct-value-pair frame is tiny relative to row-level pairs;
    # AQE turns this into a broadcast join at runtime when it fits
    return vals.join(
        scored, on=[mapping.left_col, mapping.right_col], how="inner"
    ).drop(mapping.left_col, mapping.right_col)


def _score_rows_native(vals: DataFrame, mapping: FuzzyMapping) -> DataFrame:
    """Score the row-level value pairs of a refine round in one
    ``mapInArrow`` pass: the JVM lowers both value columns, C reads
    them straight from the Arrow buffers, scores and thresholds each
    row, and the batch is filtered by the kept row indices, so the
    index and prior-score columns pass through untouched. Output: the
    ``vals`` columns minus the two value columns, with the score
    appended (or replacing a prior column of the same name, as
    ``withColumn`` does on the fallback paths)."""
    la, lb = _LC_PREFIX + "refine_l", _LC_PREFIX + "refine_r"
    out = mapping.output_column_name
    cols = [
        c for c in vals.columns if c not in (mapping.left_col, mapping.right_col)
    ]
    if out not in cols:
        cols.append(out)
    keep = [c for c in cols if c != out]
    schema = StructType(
        [
            StructField(out, DoubleType(), False) if c == out else vals.schema[c]
            for c in cols
        ]
    )
    names = schema.names
    metric, bound = mapping.fuzzy_type, mapping.reversed_threshold_score
    n_keep, at = len(keep), cols.index(out)

    def score(batches):
        import pyarrow as pa

        from ..functions.native_kernels import arrow_score_pairs

        for batch in batches:
            rows, sim = arrow_score_pairs(
                batch.column(n_keep), batch.column(n_keep + 1), metric, bound
            )
            if len(rows):
                take = pa.array(rows)
                arrays = [batch.column(k).take(take) for k in range(n_keep)]
                arrays.insert(at, pa.array(sim))
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    return vals.select(
        *keep,
        F.lower(F.col(mapping.left_col)).alias(la),
        F.lower(F.col(mapping.right_col)).alias(lb),
    ).mapInArrow(score, schema)


def _empty_result(
    spark, left: DataFrame, right: DataFrame, fuzzy_maps: Sequence[FuzzyMapping]
) -> DataFrame:
    fields = list(left.schema.fields) + list(right.schema.fields) + [
        StructField(m.output_column_name, DoubleType(), True) for m in fuzzy_maps
    ]
    return spark.createDataFrame([], StructType(fields))


def fuzzy_match_dfs(
    left: DataFrame,
    right: DataFrame,
    fuzzy_maps: Sequence[FuzzyMapping],
    logger=None,
    *,
    use_appr_nearest_neighbor: Optional[bool] = None,
    top_n: int = DEFAULT_TOP_N,
    cross_over_for_appr_nearest_neighbor: float = DEFAULT_CROSS_OVER,
    use_appr_nearest_neighbor_for_new_matches: Optional[bool] = None,
    top_n_for_new_matches: Optional[int] = None,
    how: str = "inner",
) -> DataFrame:
    """Fuzzy-join ``left`` and ``right`` on every mapping in
    ``fuzzy_maps`` (conjunction). Returns a lazy DataFrame with all left
    columns ++ all (collision-renamed) right columns ++ one similarity
    score column per mapping, in that order (reference matcher.py:624,
    661-722).

    ``how`` extends the reference's inner-only contract Spark-first:
    ``"left"`` keeps unmatched left rows (right columns and scores
    null — exactly SQL's LEFT JOIN on the fuzzy predicate),
    ``"left_semi"`` returns just the left rows WITH a fuzzy match,
    ``"left_anti"`` the left rows WITHOUT one (the "new entities"
    query of an entity-resolution pipeline). Candidate generation and
    scoring are identical across modes — only the final payload join
    changes, so every optimizer rewrite applies to all four.

    The result is lazy — this is the union of the reference's eager
    ``fuzzy_match_dfs`` and lazy ``fuzzy_match_dfs_with_context`` entry
    points; call an action to materialize.

    ``logger`` and the long-form kwarg spellings
    (``use_appr_nearest_neighbor_for_new_matches`` /
    ``top_n_for_new_matches``) are accepted for drop-in compatibility
    with the reference's signature (matcher.py:661-722); long-form
    spellings win when both are given.
    """
    if use_appr_nearest_neighbor_for_new_matches is not None:
        use_appr_nearest_neighbor = use_appr_nearest_neighbor_for_new_matches
    if top_n_for_new_matches is not None:
        top_n = top_n_for_new_matches
    if logger is None:
        logger = logging.getLogger(__name__)
    if not fuzzy_maps:
        raise ValueError("fuzzy_maps must be non-empty")
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(f"unsupported how: {how!r}")
    spark = left.sparkSession

    # ---- PHASE A: plan (reference pre_process.py:281-327)
    rename = get_rename_right_columns_to_ensure_no_overlap(
        left.columns, right.columns
    )
    if rename:
        right = right.withColumnsRenamed(rename)
    maps = rename_fuzzy_right_mapping(list(fuzzy_maps), rename)

    # one aggregate pass per side: row count + per-column HLL distinct.
    # The stats jobs AND the row-identity checkpoints (phase B) are
    # mutually independent, so all the jobs launch concurrently — the
    # scheduler interleaves their stages and the per-query fixed cost
    # is one job round-trip instead of two serial waves (measured
    # ~0.2-0.3 s/query at bench shape, more on a cold session where
    # each wave pays codegen compilation). The only cross-dependency
    # is the O3 rewrite, which when it fires dedups the ALREADY
    # INDEXED frames below (dropDuplicates keeps schema; the surviving
    # ids stay stable because localCheckpoint already pinned them).
    #
    # O7 ordering (VERDICT r4 #7): the eager index checkpoints
    # materialize BOTH inputs in full, so an empty input must not pay
    # them. Each checkpoint is gated on two limit-1 emptiness probes
    # (milliseconds) instead of the full stats result — empty inputs
    # skip the checkpoints entirely, non-empty inputs keep the
    # concurrent-wave latency win.
    with ThreadPoolExecutor(max_workers=7) as pool:
        left_empty_fut = pool.submit(left.isEmpty)
        right_empty_fut = pool.submit(right.isEmpty)
        # the first round's fused scans need the native kernels: in a
        # cold process their compile (~0.6-0.9 s of cc) overlaps the
        # planner jobs instead of delaying the first-round plan
        native_fut = pool.submit(native_kernels.native_available)

        def _gated_index(df: DataFrame, name: str) -> Optional[DataFrame]:
            if left_empty_fut.result() or right_empty_fut.result():
                return None  # O7 will exit; don't materialize anything
            return add_index_column(df, name)

        left_fut = pool.submit(
            get_count_uniqueness_and_maxlen, left, [m.left_col for m in maps]
        )
        right_fut = pool.submit(
            get_count_uniqueness_and_maxlen, right, [m.right_col for m in maps]
        )
        left_idx_fut = pool.submit(_gated_index, left, LEFT_INDEX)
        right_idx_fut = pool.submit(_gated_index, right, RIGHT_INDEX)
        left_count, left_uniq, left_maxlen = left_fut.result()
        right_count, right_uniq, right_maxlen = right_fut.result()
        left_i = left_idx_fut.result()
        right_i = right_idx_fut.result()
        native_fut.result()
    maps = set_output_column_names(maps)
    if left_count == 0 or right_count == 0:  # O7 early exit
        if how == "left_anti":
            return left  # nothing can match: every left row is novel
        if how == "left_semi":
            return left.limit(0)
        empty = _empty_result(spark, left, right, maps)
        if how == "left":
            if left_count == 0:
                return empty
            null_rights = [
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in right.schema.fields
            ] + [
                F.lit(None).cast("double").alias(m.output_column_name)
                for m in maps
            ]
            return left.select("*", *null_rights)
        return empty

    maps = order_mappings_by_selectivity(
        maps, left_uniq, right_uniq, left_count, right_count
    )
    maps = promote_exact_mappings(  # O10: equi-joins shrink fuzzy rounds
        maps, left_uniq, right_uniq, left_count, right_count
    )
    logger.info(
        "fuzzy plan: %d x %d rows, mapping order %s",
        left_count,
        right_count,
        [(m.left_col, m.right_col, m.fuzzy_type) for m in maps],
    )
    if should_deduplicate_inputs(maps, left_count, right_count):  # O3
        # The input-dedup rewrite is only sound where row multiplicity is
        # not part of the output contract. inner: reference semantics
        # dedups both sides (reference process.py O3). left: SQL LEFT
        # JOIN must preserve BOTH sides' multiplicity — skip entirely.
        # left_semi/left_anti: EXISTS/NOT EXISTS care only whether a
        # match exists, so the right side may be deduped but every left
        # row (including key-duplicates) must survive.
        if how == "inner":
            logger.info("low uniqueness: deduplicating inputs on join keys")
            left_i = left_i.dropDuplicates([m.left_col for m in maps])
            right_i = right_i.dropDuplicates([m.right_col for m in maps])
        elif how in ("left_semi", "left_anti"):
            logger.info("low uniqueness: deduplicating right input only")
            right_i = right_i.dropDuplicates([m.right_col for m in maps])
    maps = set_output_column_names(maps)
    output_cols = (
        list(left.columns)
        + list(right.columns)
        + [m.output_column_name for m in maps]
    )

    # ---- PHASE C: per-mapping loop
    matches: Optional[DataFrame] = None
    key_pair_parts = _refine_input_parts(
        spark, maps, left_uniq, right_uniq, left_count, right_count
    )
    for mapping in maps:
        if matches is None:
            logger.info(
                "fuzzy match %s ~ %s (%s, threshold %s)",
                mapping.left_col,
                mapping.right_col,
                mapping.fuzzy_type,
                mapping.threshold_score,
            )
            matches = first_round_matches(
                left_i,
                right_i,
                mapping,
                left_uniq[mapping.left_col],
                right_uniq[mapping.right_col],
                use_appr_nearest_neighbor,
                top_n,
                cross_over_for_appr_nearest_neighbor,
                max_len_left=left_maxlen.get(mapping.left_col),
                max_len_right=right_maxlen.get(mapping.right_col),
                n_parts=key_pair_parts,
            )
        else:
            logger.info(
                "refining matches on %s ~ %s", mapping.left_col, mapping.right_col
            )
            direct = (
                left_uniq.get(mapping.left_col, 0)
                >= REFINE_DIRECT_UNIQUENESS * left_count
                and right_uniq.get(mapping.right_col, 0)
                >= REFINE_DIRECT_UNIQUENESS * right_count
            )
            matches = refine_matches(
                left_i,
                right_i,
                matches,
                mapping,
                left_count,
                right_count,
                direct=direct,
            )

    # ---- PHASE D: payload re-attach + frozen column order
    if how in ("left_semi", "left_anti"):
        return left_i.join(
            matches.select(LEFT_INDEX), on=LEFT_INDEX, how=how
        ).drop(LEFT_INDEX)
    if how == "left":
        enriched = matches.join(
            _maybe_broadcast(right_i, right_count), on=RIGHT_INDEX, how="inner"
        ).drop(RIGHT_INDEX)
        return (
            left_i.join(enriched, on=LEFT_INDEX, how="left")
            .select(*output_cols)
        )
    result = (
        matches.join(
            _maybe_broadcast(left_i, left_count), on=LEFT_INDEX, how="inner"
        )
        .join(
            _maybe_broadcast(right_i, right_count), on=RIGHT_INDEX, how="inner"
        )
        .select(*output_cols)
    )
    return result


def fuzzy_match_dfs_with_context(
    left: DataFrame,
    right: DataFrame,
    fuzzy_maps: Sequence[FuzzyMapping],
    logger=None,
    temp_dir: Optional[str] = None,
    use_appr_nearest_neighbor_for_new_matches: Optional[bool] = None,
    top_n_for_new_matches: int = DEFAULT_TOP_N,
    cross_over_for_appr_nearest_neighbor: float = DEFAULT_CROSS_OVER,
) -> DataFrame:
    """Reference-compatible lazy entry point (matcher.py:580-658).

    In the reference the caller owns a scratch directory for Arrow IPC
    spills; on Spark, intermediate pinning uses ``localCheckpoint`` so
    ``temp_dir`` is accepted for signature compatibility but unused
    (Spark's own ``spark.local.dir`` governs shuffle/checkpoint
    storage). The returned DataFrame is lazy — keep composing, then
    call an action.
    """
    return fuzzy_match_dfs(
        left,
        right,
        fuzzy_maps,
        logger,
        use_appr_nearest_neighbor=use_appr_nearest_neighbor_for_new_matches,
        top_n=top_n_for_new_matches,
        cross_over_for_appr_nearest_neighbor=cross_over_for_appr_nearest_neighbor,
    )


@contextmanager
def fuzzy_match_temp_dir():
    """Context-managed scratch directory (reference matcher.py:725-750).

    Provided for drop-in compatibility with
    ``fuzzy_match_dfs_with_context``; the Spark engine does not spill to
    it, but callers that write their own intermediates through it keep
    working and get the same cleanup-on-exit behavior."""
    d = tempfile.TemporaryDirectory()
    try:
        yield d.name
    finally:
        d.cleanup()
