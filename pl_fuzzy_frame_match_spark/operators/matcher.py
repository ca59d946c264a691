"""The composite fuzzy-join operator — the engine's flagship.

Capability parity with the reference's pipeline
(/root/reference/pl_fuzzy_frame_match/matcher.py:419-658, process.py):

  PHASE A  plan: counts, approx-distinct selectivity, mapping order,
           low-uniqueness input dedup, collision renames, output order
  PHASE B  row identity: __left_index / __right_index
  PHASE C  round 1: scoring on DISTINCT key pairs, each carrying its
           rows' index lists -> threshold filter -> explode (exact:
           fused native scan over the indexed rows, dedup per task |
           cross join fallback and approx tiers: groupBy key frames ->
           cross join / sketch scan / LSH -> index-list re-attach);
           rounds 2..n: one refine pass over round 1's row pairs
  PHASE D  conjunction of all mappings + payload re-attach

Spark-first deviations from the reference (same *semantics*, different
machinery — documented per the survey's guidance):

- Row ids come from ``monotonically_increasing_id`` + an immediate
  ``localCheckpoint`` (ids must not change across re-evaluation; the
  reference pins them by spilling to Arrow IPC, matcher.py:416).
- Refinement rounds 2..n carry score columns forward instead of
  materializing per-round frames and re-intersecting them at the end
  (reference ``combine_matches``, matcher.py:388-392). ALL rounds share
  one plan over round 1's row pairs: each side's lowered refine values
  come once per join from a value table (row id -> JVM-lowered values,
  collected and broadcast) or from one join, and each mapping filters
  the survivors of the one before. Only the scorer differs: with the
  native kernels C scores every mapping in one ``mapInArrow`` pass,
  without a toolchain each mapping is one filter over codegen
  levenshtein or a pandas UDF. The join stays one lazy plan.
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
from ..functions.kernels import distance_column, jvm_lower
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
    get_count_uniqueness_and_maxlen,
    order_mappings_by_selectivity,
    promote_exact_mappings,
    should_deduplicate_inputs,
)
from .candidates import (
    DEFAULT_TOP_N,
    approx_scored_pairs,
    attach_index_lists,
    exact_candidates,
    native_scan_fits,
)

LEFT_INDEX = "__left_index"
RIGHT_INDEX = "__right_index"
_DIST = "__fuzzy_dist"

# Per-task row-pair budget of the native refine pass (all refine
# rounds, values from the value tables). Measured on a 4-core host
# with the fuzzbench multi_refine inputs, seed 3, left rows scaled,
# whole joins, medians of 4 warm repetitions interleaved in one
# process, 1 / 2 / 4 / 8 tasks, after Python tasks stopped re-reading
# zip archives (~0.1 s per task before; the earlier 1M budget was set
# then): 317K estimated refine pairs 0.72 / 0.69 / 0.70 / 0.75 s; 633K
# 0.97 / 0.85 / 0.86 / 0.93 s; 1.27M 1.27 / 1.14 / 1.07 / 1.04 s; 2.5M
# 1.90 / 1.64 / 1.48 / 1.59 s. Splitting now pays from ~600K pairs, at
# ~300-600K pairs per task.
REFINE_NATIVE_PAIRS_PER_TASK = 500_000

# Broadcast an indexed input frame into pair-level joins when its row
# count (known exactly from the planner pass) is below this. The frames
# sit behind checkpoints, so AQE has no stats and would otherwise
# sort-merge the (often much larger) match-pair frame against them.
BROADCAST_ROW_LIMIT = 1_000_000

# A side's refine values are collected once per join as a value table
# (broadcast to the refine pass) up to BROADCAST_ROW_LIMIT rows and this
# many Arrow bytes (estimated before the collect by value_table_fits,
# checked on the collected table before the broadcast); past either
# bound one join per side carries the values into the pass instead. The
# same bounds pick which joined values are broadcast: without a
# toolchain a side that fits is broadcast-joined, any other side (and
# a table refused by the byte check) joins without a hint. Measured on
# a 4-core host (load average 4-5), N x N rows of random 30- and
# 40-char values, a threshold-100 key with 2N row pairs, then
# jaro_winkler and levenshtein refine rounds, medians of 2-3 whole
# joins, tables vs joined values: N = 100K (est. 9.6 MB) 2.00 vs
# 2.07 s; 400K (38 MB) 4.58 vs 4.85 s; 700K (67 MB) 11.1 vs 10.6 s;
# 1M (96 MB) 18.5 vs 15.6 s. Every task of the pass loads the whole
# table, so past ~50 MB the joins win. Below it the tables pay: on the
# fuzzbench multi_refine workload (~5K x 3K rows, same host, 10
# interleaved pairs of 8 s runs, seeds 401-410) tables vs joined
# values read 12.5M vs 10.1M pairs/s (medians; tables faster in 9 of
# 10 pairs).
REFINE_TABLE_BYTES = 48 << 20


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
    a = F.col(la) if la in candidates.columns else jvm_lower(mapping.left_col)
    b = F.col(lb) if lb in candidates.columns else jvm_lower(mapping.right_col)
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


def first_round_matches(
    left: DataFrame,
    right: DataFrame,
    mapping: FuzzyMapping,
    n_left_keys: int,
    n_right_keys: int,
    use_appr_nearest_neighbor: Optional[bool],
    top_n: int,
    cross_over: float,
    n_parts: Optional[int] = None,
    n_left_rows: int = 0,
    n_right_rows: int = 0,
) -> DataFrame:
    """Round 1 of the per-mapping loop (reference matcher.py:419-504):
    pick the exact/approx strategy on the cartesian of distinct-key
    counts, generate candidates, score, explode the row ids.

    A threshold-100 mapping is a hash equi-join of the key frames on
    the lowered key. The exact strategy has one lossless scorer, the
    fused native scan, which reads the indexed rows directly: the
    smaller key side is collected once through Arrow and broadcast
    grouped by key with its row ids, the larger side is hash-partitioned
    by key and each task dedups its keys, and every surviving key pair
    carries both row-id lists to the explode (no index-list join, and
    no key frame unless a side has many rows per key). With no C
    toolchain, or with both key sides past one broadcast, the codegen
    cross join of the key frames scores instead. The approximate strategy keeps the top-N per key: up to
    ``ANN_CATALYST_CAP`` pairs over the exact scorer's pairs, past it
    from the sketch scan, the blocked scan or MinHash banding
    (``operators/candidates.py``), then re-attaches the key frames'
    index lists to the survivors.

    ``n_left_keys`` / ``n_right_keys`` are the planner's HyperLogLog
    approximate distinct counts — the reference recounts the key frames
    exactly (process.py:101-102); reusing the estimates saves two
    materializations per mapping, and the strategy/broadcast thresholds
    they feed are order-of-magnitude heuristics where ~2% HLL error is
    immaterial. ``n_left_rows`` / ``n_right_rows`` (the planner's row
    counts) size the fused scan's tasks when keys repeat over many
    rows. The round stays lazy except for the native scans'
    build-side collect: one Spark job then runs the shuffle, scan and
    explode (or groupBy -> join -> score -> explode) end to end.
    """

    def scored_pairs(left_side, right_side, lossless):
        # scored+thresholded key pairs straight from the candidate
        # layer (in-kernel scoring on the scan paths), larger key set
        # on the probe side (reference matcher.py:16-49)
        sides = [
            (left_side, mapping.left_col, n_left_keys, LEFT_INDEX),
            (right_side, mapping.right_col, n_right_keys, RIGHT_INDEX),
        ]
        if n_left_keys < n_right_keys:
            sides.reverse()
        (pf, pcol, pn, pix), (bf, bcol, bn, bix) = sides
        rows = {}
        if lossless:  # the fused scan reads the indexed rows
            n_rows = {LEFT_INDEX: n_left_rows, RIGHT_INDEX: n_right_rows}
            rows = dict(
                index_cols=(pix, bix),
                n_left_rows=n_rows[pix],
                n_right_rows=n_rows[bix],
            )
        return approx_scored_pairs(
            pf, bf, pcol, bcol,
            mapping.fuzzy_type, mapping.reversed_threshold_score,
            top_n=top_n, n_left_keys=pn, n_right_keys=bn, dist_col=_DIST,
            lossless=lossless, **rows,
        )

    score = F.lit(1.0) - F.col(_DIST)
    if mapping.reversed_threshold_score != 0.0:
        strategy = choose_candidate_strategy(
            n_left_keys, n_right_keys, use_appr_nearest_neighbor, cross_over
        )
        if not strategy.use_approx and native_scan_fits(
            min(n_left_keys, n_right_keys)
        ):
            # O4 exact tier: the fused native scan over the indexed rows
            # (lossless; only survivors cross Arrow, with their row ids)
            return _explode_index_lists(
                scored_pairs(left, right, lossless=True), score, mapping
            )
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
            eq, jvm_lower(mapping.left_col)
        ).join(
            right_keys.withColumn(eq, jvm_lower(mapping.right_col)),
            on=eq,
            how="inner",
        )
        if n_parts:
            joined = joined.repartition(n_parts)
        return _explode_index_lists(joined, F.lit(1.0), mapping)
    if not strategy.use_approx:
        # no C toolchain, or both key sides past one broadcast
        cands = exact_candidates(
            left_keys.withColumn(
                _LC_PREFIX + mapping.left_col,
                jvm_lower(mapping.left_col),
            ),
            right_keys.withColumn(
                _LC_PREFIX + mapping.right_col,
                jvm_lower(mapping.right_col),
            ),
            n_left_keys,
            n_right_keys,
        )
        return score_and_explode(cands, mapping)
    # index lists re-attach only for survivors: most candidates fail the
    # threshold and must not pay the index joins. The scored key pairs
    # are distinct, so the exploded index pairs are unique.
    survivors = attach_index_lists(
        scored_pairs(left_keys, right_keys, lossless=False),
        left_keys, right_keys, mapping.left_col, mapping.right_col,
        n_left_keys, n_right_keys,
    )
    return _explode_index_lists(survivors, score, mapping)


def _refine_input_parts(
    spark, maps, left_uniq, right_uniq, left_count, right_count
) -> Optional[int]:
    """Partitions for round 1's key pairs when round 1 is an equi-join
    that native refine rounds follow: AQE coalesces the few key pairs
    to one partition, so the refine pass over their exploded row pairs
    would run on one core. Past ``REFINE_NATIVE_PAIRS_PER_TASK``
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


def value_table_fits(n_rows: int, max_lens: Sequence[int]) -> bool:
    """Whether one side's refine values fit a value table: at most
    ``BROADCAST_ROW_LIMIT`` rows and ``REFINE_TABLE_BYTES`` estimated
    Arrow bytes (an int64 id, and an int32 offset plus the planner's
    max length per value column, per row). The max length counts
    chars, so a non-ASCII side may collect up to ~4x the bound;
    :func:`_refine_values` ships a collected table only if its bytes
    fit."""
    est = n_rows * (8 + sum(4 + n for n in max_lens))
    return 0 < n_rows <= BROADCAST_ROW_LIMIT and est <= REFINE_TABLE_BYTES


def collect_value_table(df: DataFrame, index_col: str, cols: Sequence[str]):
    """One Arrow collect of ``(index, lower(col), ...)``, sorted by
    index: ``(ids, {col: lowered values})``. The JVM lowers each input
    row once, so the values equal Spark's ``lower`` by construction."""
    import numpy as np

    cols = list(dict.fromkeys(cols))
    tbl = df.select(
        index_col, *[jvm_lower(c).alias(c) for c in cols]
    ).toArrow()
    ids = tbl.column(0).to_numpy()
    order = np.argsort(ids, kind="stable")
    return ids[order], {
        c: tbl.column(c).take(order).combine_chunks() for c in cols
    }


def refine_matches(
    left: DataFrame,
    right: DataFrame,
    existing: DataFrame,
    mapping: FuzzyMapping,
    *,
    more: Sequence[FuzzyMapping] = (),
    tables=(None, None),
) -> DataFrame:
    """Rounds 2..n (reference matcher.py:188-238, 456-491): restrict the
    surviving index pairs to those whose (left value, right value)
    pairs pass ``mapping`` and then each mapping of ``more`` in turn,
    and carry all prior score columns forward. Conjunction semantics —
    output can only shrink (pinned by the reference's monotonicity
    tests). A score column of an existing name is replaced in place.

    One plan for both scorers: :func:`_refine_values` brings each
    side's lowered refine values to the row pairs once, for all rounds,
    and each mapping is then scored in the given order on the survivors
    of the one before (threshold-100 mappings as lowercase equality).
    ``tables`` (``(left, right)``) is the planner's per-side decision:
    a value table from :func:`collect_value_table`, True for values
    that fit one but were not collected (no toolchain), or None. Only
    the scorer depends on the toolchain: with the native kernels every
    mapping is scored in C in ONE ``mapInArrow`` pass
    (:func:`_refine_pass`); without them each mapping is one filter
    over Spark columns (:func:`_refine_filters`). ``existing`` is
    referenced once and never checkpointed eagerly, so the join stays
    one lazy plan."""
    maps = [mapping, *more]
    frame, side_cols, shipped = _refine_values(
        left, right, existing, maps, tables
    )
    scored = [m.output_column_name for m in maps]
    cols = list(existing.columns)
    cols += [c for c in dict.fromkeys(scored) if c not in cols]
    if native_kernels.native_available():
        return _refine_pass(frame, cols, maps, side_cols, shipped)
    return _refine_filters(frame, cols, maps, side_cols)


def _refine_col(side: int, k: int) -> str:
    return f"__refine_{side}_{k}"


def _refine_values(
    left: DataFrame,
    right: DataFrame,
    existing: DataFrame,
    maps: Sequence[FuzzyMapping],
    tables,
):
    """The refine values of both sides, once for every mapping:
    ``(frame, side_cols, shipped)``. ``side_cols`` lists each side's
    distinct refine columns. A value table whose collected Arrow bytes
    (ids, offsets and UTF-8 data of those columns) fit
    ``REFINE_TABLE_BYTES`` is shipped as ``(ids, arrays)`` for the
    native pass to look the values up in (tables are only collected
    with the native kernels); any other side joins
    ``(index, lower(col), ...)`` into ``existing`` as
    ``__refine_<side>_<k>`` columns. Such a join is broadcast only for
    a side marked True, so a side too wide for a table, or refused
    one by the byte check, is never broadcast either."""
    frame, side_cols, shipped = existing, [], []
    sides = (
        (left, LEFT_INDEX, tables[0], [m.left_col for m in maps]),
        (right, RIGHT_INDEX, tables[1], [m.right_col for m in maps]),
    )
    for s, (df, index, table, vcols) in enumerate(sides):
        vcols = list(dict.fromkeys(vcols))
        side_cols.append(vcols)
        if isinstance(table, tuple):
            # the planner's estimate counts chars; the bound holds on
            # the collected UTF-8 bytes
            ids, values = table
            arrays = [values[c] for c in vcols]
            if ids.nbytes + sum(a.nbytes for a in arrays) <= REFINE_TABLE_BYTES:
                shipped.append((ids, arrays))
                continue
        shipped.append(None)
        vals = df.select(
            index,
            *[jvm_lower(c).alias(_refine_col(s, k)) for k, c in enumerate(vcols)],
        )
        frame = frame.join(
            F.broadcast(vals) if table is True else vals, on=index, how="inner"
        )
    return frame, side_cols, shipped


def _refine_filters(
    frame: DataFrame,
    cols: Sequence[str],
    maps: Sequence[FuzzyMapping],
    side_cols,
) -> DataFrame:
    """The no-toolchain scorer: one filter per mapping, in order, over
    the joined values — threshold 100 as equality (score 1.0), any other
    threshold as ``distance_column(...) <= bound`` (score ``1 - d``;
    codegen levenshtein, the pandas UDF for the other metrics). If any
    mapping is fuzzy, a round-robin repartition behind a LAZY
    checkpoint spreads the scoring (AQE would coalesce the pairs to
    ~one partition and serialize the kernel) without a separate
    blocking job; the checkpoint keeps Catalyst from sinking the
    scoring below the exchange."""
    if any(m.reversed_threshold_score > 0.0 for m in maps):
        cores = frame.sparkSession.sparkContext.defaultParallelism
        frame = frame.repartition(cores * 2).localCheckpoint(eager=False)
    for m in maps:
        a = F.col(_refine_col(0, side_cols[0].index(m.left_col)))
        b = F.col(_refine_col(1, side_cols[1].index(m.right_col)))
        bound = m.reversed_threshold_score
        if bound == 0.0:
            frame = frame.filter(a == b).withColumn(
                m.output_column_name, F.lit(1.0)
            )
            continue
        frame = (
            frame.withColumn(_DIST, distance_column(m.fuzzy_type, a, b, bound))
            .filter(F.col(_DIST) <= F.lit(bound))
            .withColumn(m.output_column_name, F.lit(1.0) - F.col(_DIST))
        )
    return frame.select(*cols)


def _refine_pass(
    frame: DataFrame,
    cols: Sequence[str],
    maps: Sequence[FuzzyMapping],
    side_cols,
    shipped,
) -> DataFrame:
    """The native scorer: every refine mapping in one ``mapInArrow``
    pass over the row pairs of ``frame``. A side with a shipped value
    table (broadcast once) maps the batch's index column to table
    positions with ``np.searchsorted``, and ids absent from the table
    drop out, as in an inner join; a joined side reads its
    ``__refine_<side>_<k>`` columns. Each mapping is scored in C
    (``arrow_score_pairs`` on the ``take``n values; threshold 100 as
    Arrow equality) on the survivors of the mapping before it, and the
    batch is filtered by the kept rows, so the index and prior-score
    columns pass through untouched. Output: ``cols``, each new score
    column appended or replacing a prior column of the same name, as
    ``withColumn`` does on the fallback."""
    scored = [m.output_column_name for m in maps]
    schema = StructType(
        [
            StructField(c, DoubleType(), False)
            if c in scored
            else frame.schema[c]
            for c in cols
        ]
    )
    at = {c: i for i, c in enumerate(frame.columns)}
    index_at = (at[LEFT_INDEX], at[RIGHT_INDEX])
    value_at = [
        [at.get(_refine_col(s, k)) for k in range(len(side_cols[s]))]
        for s in (0, 1)
    ]
    spec = [
        (
            side_cols[0].index(m.left_col),
            side_cols[1].index(m.right_col),
            m.fuzzy_type,
            m.reversed_threshold_score,
            m.output_column_name,
        )
        for m in maps
    ]
    pass_at = [None if c in scored else at[c] for c in cols]
    names = schema.names
    bc = (
        frame.sparkSession.sparkContext.broadcast(tuple(shipped))
        if any(t is not None for t in shipped)
        else None
    )

    def score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..functions.native_kernels import arrow_score_pairs

        tabs = bc.value if bc is not None else (None, None)

        def values(batch, pos, rows, s, k):
            if tabs[s] is None:
                return batch.column(value_at[s][k]).take(rows)
            return tabs[s][1][k].take(pos[s][rows])

        for batch in batches:
            hit, pos = np.ones(batch.num_rows, dtype=bool), [None, None]
            for s in (0, 1):
                if tabs[s] is not None:
                    ids = tabs[s][0]
                    key = batch.column(index_at[s]).to_numpy()
                    pos[s] = np.searchsorted(ids, key)
                    found = pos[s] < len(ids)
                    found[found] = ids[pos[s][found]] == key[found]
                    hit &= found
            rows = np.flatnonzero(hit)
            sims = {}
            for lk, rk, metric, bound, name in spec:
                if not len(rows):
                    break
                a = values(batch, pos, rows, 0, lk)
                b = values(batch, pos, rows, 1, rk)
                if bound == 0.0:
                    eq = pc.fill_null(pc.equal(a, b), False)
                    keep = np.flatnonzero(eq.to_numpy(zero_copy_only=False))
                    sim = np.ones(len(keep))
                else:
                    keep, sim = arrow_score_pairs(a, b, metric, bound)
                rows = rows[keep]
                sims = {c: v[keep] for c, v in sims.items()}
                sims[name] = sim
            if len(rows):
                take = pa.array(rows)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(sims[c])
                        if j is None
                        else batch.column(j).take(take)
                        for c, j in zip(names, pass_at)
                    ],
                    names=names,
                )

    return frame.mapInArrow(score, schema)


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
    #
    # With refine rounds, each side's refine decision is made as soon as
    # that side's index and stats are done, overlapping the other side's
    # jobs: with the native kernels a side whose values fit
    # (value_table_fits) collects its value table (every mapping column,
    # lowered, by row id); without them it is marked True, so its value
    # join is broadcast. The mapping order is not known yet, so round
    # 1's column rides along; the refine pass ships only the refine
    # columns. A failed collect leaves that side to a plain value join.
    with ThreadPoolExecutor(max_workers=9) as pool:
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

        def _gated_table(idx_fut, stats_fut, name, cols):
            if len(cols) < 2:
                return None
            indexed = idx_fut.result()
            n_rows, _, max_lens = stats_fut.result()
            if indexed is None or not value_table_fits(
                n_rows, [max_lens[c] for c in dict.fromkeys(cols)]
            ):
                return None
            if not native_fut.result():
                return True
            try:
                return collect_value_table(indexed, name, cols)
            except Exception:
                logger.warning(
                    "value table of %s not collected; its refine values"
                    " are joined instead",
                    name,
                    exc_info=True,
                )
                return None

        left_cols = [m.left_col for m in maps]
        right_cols = [m.right_col for m in maps]
        left_fut = pool.submit(get_count_uniqueness_and_maxlen, left, left_cols)
        right_fut = pool.submit(
            get_count_uniqueness_and_maxlen, right, right_cols
        )
        left_idx_fut = pool.submit(_gated_index, left, LEFT_INDEX)
        right_idx_fut = pool.submit(_gated_index, right, RIGHT_INDEX)
        left_tab_fut = pool.submit(
            _gated_table, left_idx_fut, left_fut, LEFT_INDEX, left_cols
        )
        right_tab_fut = pool.submit(
            _gated_table, right_idx_fut, right_fut, RIGHT_INDEX, right_cols
        )
        left_count, left_uniq, _ = left_fut.result()
        right_count, right_uniq, _ = right_fut.result()
        left_i = left_idx_fut.result()
        right_i = right_idx_fut.result()
        native_fut.result()
        tables = (left_tab_fut.result(), right_tab_fut.result())
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

    # ---- PHASE C: round 1, then all refine rounds in one call
    key_pair_parts = _refine_input_parts(
        spark, maps, left_uniq, right_uniq, left_count, right_count
    )
    first = maps[0]
    logger.info(
        "fuzzy match %s ~ %s (%s, threshold %s)",
        first.left_col,
        first.right_col,
        first.fuzzy_type,
        first.threshold_score,
    )
    matches = first_round_matches(
        left_i,
        right_i,
        first,
        left_uniq[first.left_col],
        right_uniq[first.right_col],
        use_appr_nearest_neighbor,
        top_n,
        cross_over_for_appr_nearest_neighbor,
        n_parts=key_pair_parts,
        n_left_rows=left_count,
        n_right_rows=right_count,
    )
    if len(maps) > 1:
        logger.info(
            "refining matches on %s",
            [(m.left_col, m.right_col) for m in maps[1:]],
        )
        matches = refine_matches(
            left_i, right_i, matches, maps[1], more=maps[2:], tables=tables
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
