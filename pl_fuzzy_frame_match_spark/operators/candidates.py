"""Candidate-pair generation for the fuzzy join.

Two physical strategies, mirroring the reference's adaptive choice
(/root/reference/pl_fuzzy_frame_match/matcher.py:241-340):

- **exact** (`cross_join_small_files`, matcher.py:164-185): every pair
  of distinct keys, scored losslessly. With the native kernels
  available and the smaller key set broadcastable, this is one fused C
  scan (``approx_scored_pairs(..., lossless=True)``, :func:`_lossless_scan`)
  that reads the indexed rows directly: the smaller side is collected
  once through Arrow and broadcast grouped by key (sorted by length,
  with each key's row ids), the other side is hash-partitioned by key
  and each task dedups its keys and scores them against all of the
  broadcast side in one native pass. For levenshtein a length window
  and a bag-distance lower bound reject most pairs before the Myers DP
  (the per-candidate-pair filters of *Fuzzy Joins Using MapReduce*,
  ICDE 2012), and only survivors cross Arrow, each carrying both
  row-id lists. Otherwise ``exact_candidates`` builds a ``crossJoin``
  of the deduped key frames with a broadcast hint when one key set is
  small (BroadcastNestedLoopJoin, zero shuffle), or Spark's
  partitioned CartesianProduct, and the matcher scores it with
  Spark-side columns.

- **approx** (`cross_join_large_files`, matcher.py:99-161): the
  reference calls a Rust ANN plugin in 10k-row chunks with
  ``top_n=500`` per row — effectively a SIMD-accelerated sketch scan.
  Spark-first re-expression, three physical shapes chosen by pair
  volume:

  * **exact top-N** (up to ``ANN_CATALYST_CAP`` pairs): the exact
    tier's scorer (the fused lossless scan, or the cross join without
    a toolchain) scores every key pair, and a salted window keeps the
    top-N nearest per key — no prefilter, so it loses matches only to
    the top-N budget.
  * **SimHash sketch scan** (up to ~1e11 pairs): each
    distinct key gets a 64-bit SimHash of its 3-gram shingle set; the
    same native scan keeps pairs with ``popcount(a ^ b) <= max_hamming``
    and the top-N per key — no buckets, so it is *immune to LSH skew
    collapse* (near-identical key families, e.g. sequential id-styled
    names, put every key in one LSH bucket and OOM a banding join; a
    scan's memory stays O(survivors)).
  * **MinHash banding** (past the scan budget): pure-SQL signatures +
    band-key equi-joins (functions/minhash.py) — candidates ~linear
    when keys are diverse, which at that scale they must be for ANY
    sublinear method to work.

  All keep at most top-N nearest candidates per left key, then
  re-attach the per-key index lists. Lossy by design exactly like the
  reference (candidate set is a subset of the cartesian).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.kernels import jvm_lower
from ..functions.minhash import banded_buckets, char_shingles, est_jaccard

# Broadcast a key frame when its distinct-key count is below this.
# ~2M short string keys + index lists stays well under a 1-2 GB
# broadcast budget on a production executor.
BROADCAST_KEY_LIMIT = 2_000_000

# Candidate pairs each task should score. The key frames are tiny in
# ROWS but the cross join is huge in COMPUTE — without an explicit
# repartition AQE coalesces the small aggregate output to one partition
# and the whole O(n*m) scoring loop runs serially on a single core.
# Parallelism must track pair volume, not input row count.
PAIRS_PER_TASK = 250_000

DEFAULT_TOP_N = 500
DEFAULT_JACCARD_DISTANCE = 0.8
# 16 hashes in 8 bands of 2: collision probability 1-(1-s^2)^8 is
# ~0.97 at s=0.5 (a one-typo name) and ~0.26 at s=0.2 — high recall
# on true matches, cheap rejection of noise
MINHASH_HASHES = 16
MINHASH_BANDS = 8

# SimHash-scan prefilter: keep pairs within this hamming distance of
# the 64-bit shingle sketch. Measured on the splitmix gram hash:
# unrelated same-vocabulary strings land at ~27.5 +- 3.4 bits, one-edit
# typo pairs at p99 ~= 19-23 — 22 keeps ~98-99% of true one-edit
# matches while rejecting ~95% of noise (the recall gate in
# tests/test_properties.py re-measures this end to end).
DEFAULT_MAX_HAMMING = 22
# Above this candidate-pair volume the brute sketch scan stops being
# economical and the ANN path falls back to MinHash banding.
SKETCH_SCAN_CAP = 1e11

# Per-(band, bucket) row cap for the banding fallback, per side. A hot
# shingle family (semi-degenerate keys sharing most 3-grams) collapses
# into one bucket per band and its join blows up quadratically in the
# family size; the cap bounds any bucket's contribution to
# cap_left * cap_right pairs. Selection within a bucket is a
# deterministic pseudo-random K (ordered by xxhash64 of the key), so
# diverse corpora — bucket sizes in the 1-10s — never hit it, and the
# recall gates measure the capped operator end to end.
BANDED_BUCKET_CAP = 1024

# Up to this pair volume the approximate path takes its top-N over
# every exactly scored key pair (_exact_topn_scored): no hamming
# prefilter, so it loses matches only to the top-N budget. With the
# native kernels the pairs come from the fused lossless scan, which
# keeps the tier near the exact tier's cost. Measured on a 4-core
# host, fuzzbench gen seed 3, 12K x 10K keys (1.2e8 pairs),
# levenshtein 75, default plan, medians of 3 warm whole joins: 2.05 s,
# against 83.7 s when the tier scored a codegen cross join (still its
# scorer without a toolchain); 28,793 identical rows. Past 2e8 the
# sketch scan runs, measured-good from the 225M-pair auto_xl shape up
# (PLANS.md round 8); where the lossless/lossy crossover belongs now
# is ROADMAP direction 1.
ANN_CATALYST_CAP = 2.0e8


def _compute_parallelism(
    df: DataFrame, pair_volume: int, per_task: int = PAIRS_PER_TASK
) -> int:
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    by_volume = pair_volume // per_task + 1
    if by_volume > cores:
        # snap to a multiple of the core count: e.g. 59 equal tasks on
        # 32 cores run as a full wave + a 27-task straggler wave (wall
        # = 2 task-times for 1.84 task-times of work); 64 smaller tasks
        # fill both waves exactly (VERDICT r5 #3 — the fuzzy exact-tier
        # scoring stage is uniform-cost, so wave alignment is pure win)
        by_volume = -(-by_volume // cores) * cores
    return int(max(1, min(by_volume, cores * 2)))


def native_scan_fits(n_right_keys: int) -> bool:
    """Whether the native scan (fused lossless or sketch) can run with
    ``n_right_keys`` keys on its broadcast right side: the native
    kernels must be available and the side must fit one broadcast."""
    from ..functions.native_kernels import native_available

    return n_right_keys <= BROADCAST_KEY_LIMIT and native_available()


def exact_candidates(
    left_keys: DataFrame,
    right_keys: DataFrame,
    n_left_keys: int,
    n_right_keys: int,
) -> DataFrame:
    """Cartesian of the deduped key frames (J1): the scorer of the
    exact and top-N tiers when the fused native scan cannot run (no C
    toolchain, or both key sets past one broadcast). Broadcasts the smaller
    side when it fits (shuffle-free BroadcastNestedLoopJoin) and
    repartitions the probe side so scoring parallelism matches the
    cartesian's compute volume, not its (tiny) input row count."""
    n_parts = _compute_parallelism(left_keys, n_left_keys * n_right_keys)
    if n_right_keys <= n_left_keys and n_right_keys <= BROADCAST_KEY_LIMIT:
        return left_keys.repartition(n_parts).crossJoin(F.broadcast(right_keys))
    if n_left_keys < n_right_keys and n_left_keys <= BROADCAST_KEY_LIMIT:
        return right_keys.repartition(n_parts).crossJoin(F.broadcast(left_keys))
    # both sides huge: partitioned cartesian; give the bigger side the
    # explicit parallelism and let Spark pair partitions
    return left_keys.repartition(n_parts).crossJoin(right_keys)


def approx_candidate_pairs(
    left_keys: DataFrame,
    right_keys: DataFrame,
    left_col: str,
    right_col: str,
    top_n: int = DEFAULT_TOP_N,
    n_left_keys: int = 0,
    n_right_keys: int = 0,
    max_hamming: int = DEFAULT_MAX_HAMMING,
    jaccard_distance: float = DEFAULT_JACCARD_DISTANCE,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """SLIM approximate candidate pairs: just ``(left_col, right_col)``
    value pairs, distinct, at most ``top_n`` per left key — no index
    lists attached. Callers that score the pairs should do so on THIS
    frame and re-attach the per-key index lists only for pairs that
    survive the similarity threshold (most candidates fail it; keeping
    them out of the join machinery is a large constant-factor win when
    the candidate budget saturates)."""
    pair_volume = max(n_left_keys, 1) * max(n_right_keys, 1)
    # the sketch scan broadcasts the (smaller) right side's sketches;
    # callers already put the larger key set on the left
    if pair_volume <= SKETCH_SCAN_CAP and n_right_keys <= BROADCAST_KEY_LIMIT:
        topn = _sketch_scan_topn(
            left_keys, right_keys, left_col, right_col, top_n,
            n_left_keys, n_right_keys, max_hamming,
        ).drop("__ham")
    elif pair_volume <= SKETCH_SCAN_CAP:
        # right side exceeds one broadcast: distributed block-nested
        # sketch scan — one Spark job, no per-block driver collects.
        n_blocks = -(-n_right_keys // int(BROADCAST_KEY_LIMIT * 0.8))
        topn = _sketch_scan_topn_blocked(
            left_keys, right_keys, left_col, right_col, top_n,
            n_left_keys, n_right_keys, max_hamming, n_blocks,
        )
    elif (
        _degenerate_key_share(left_keys, left_col) > DEGENERATE_DF_SHARE
        or _degenerate_key_share(right_keys, right_col)
        > DEGENERATE_DF_SHARE
    ):
        # Degenerate key family (VERDICT r5 #4): shingle document
        # frequency concentrates (sequential/templated keys), band
        # buckets collapse into mega-clusters, and BANDED_BUCKET_CAP's
        # truncation silently kills recall (measured 0.065 at the r5
        # 1.05e10 probe). Route to the skew-immune blocked sketch scan
        # instead — slower per pair (O(n*m) XOR popcount, recall 0.963
        # on the same probe) but never silently lossy. BOTH sides are
        # probed (VERDICT r6 #7): band buckets collapse if EITHER
        # family is templated — a degenerate right with a diverse left
        # floods the same buckets — and the left-only probe relied on
        # callers putting the larger set on the left. Short-circuit
        # keeps the common (diverse-left) case at one extra probe.
        logging.getLogger(__name__).warning(
            "degenerate key family detected on %s/%s (top-shingle df"
            " share > %.2f): banding would silently collapse recall;"
            " using the blocked sketch scan — consider a blocking key"
            " upstream",
            left_col,
            right_col,
            DEGENERATE_DF_SHARE,
        )
        n_blocks = max(
            1, -(-n_right_keys // int(BROADCAST_KEY_LIMIT * 0.8))
        )
        topn = _sketch_scan_topn_blocked(
            left_keys, right_keys, left_col, right_col, top_n,
            n_left_keys, n_right_keys, max_hamming, n_blocks,
        )
    else:
        topn = _banded_topn(
            left_keys, right_keys, left_col, right_col, top_n,
            jaccard_distance, num_hashes, bands,
        )
    return topn


# Degenerate-key pre-probe (VERDICT r5 #4): over a bounded key sample,
# the document-frequency share of the most common character shingle.
# Diverse/hash-like keys land well under 0.2; sequential or templated
# families ("Customer#000000123") share their template shingles across
# ~100% of keys. The probe costs two sub-second jobs over <= 2048 keys
# — noise at the > SKETCH_SCAN_CAP scale where the banded tier runs.
DEGENERATE_PROBE_KEYS = 2048
DEGENERATE_DF_SHARE = 0.5


def _degenerate_key_share(keys: DataFrame, col: str) -> float:
    """Top-shingle document-frequency share over a sample of ``keys``
    — the cheap detector for the regime where MinHash band buckets
    collapse. 0.0 for an empty frame."""
    probe = (
        keys.select(col)
        .filter(F.length(col) > 0)
        .limit(DEGENERATE_PROBE_KEYS)
        .localCheckpoint(eager=True)  # two tiny aggregates read it
    )
    n = probe.count()
    if n == 0:
        return 0.0
    top = (
        probe.select(F.explode(char_shingles(F.col(col))).alias("__sh"))
        .groupBy("__sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .agg(F.max("__df").alias("__m"))
        .collect()[0]["__m"]
    )
    return float(top) / float(n)


def approx_scored_pairs(
    left_keys: DataFrame,
    right_keys: DataFrame,
    left_col: str,
    right_col: str,
    metric: str,
    dist_bound: float,
    top_n: int = DEFAULT_TOP_N,
    n_left_keys: int = 0,
    n_right_keys: int = 0,
    max_hamming: int = DEFAULT_MAX_HAMMING,
    jaccard_distance: float = DEFAULT_JACCARD_DISTANCE,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
    dist_col: str = "__dist",
    lossless: bool = False,
    *,
    index_cols: tuple[str, str] | None = None,
    n_left_rows: int = 0,
    n_right_rows: int = 0,
) -> DataFrame:
    """Approximate candidates SCORED and THRESHOLDED:
    ``(left_col, right_col, dist_col)`` with ``dist_col <= dist_bound``.

    ``lossless=True`` is the exact tier's fused native scan instead
    (:func:`_lossless_scan`): every key pair is scored in the C kernel
    (no hamming cap, no top-N), so the rows equal the scored cross join.
    It needs the native kernels and a broadcastable right side (at most
    ``BROADCAST_KEY_LIMIT`` keys); the caller keeps the cross join for
    everything else. With ``index_cols`` (left, right) the two frames
    are indexed ROWS, not key frames: the scan dedups the keys itself
    and each scored key pair also carries both row-id lists under those
    names; the frames' row counts ``n_left_rows`` / ``n_right_rows``
    then pick which sides the JVM groups by key first and size the
    scan's tasks.

    Up to ``ANN_CATALYST_CAP`` pairs the top-N is taken over every
    exactly scored pair (:func:`_exact_topn_scored`, the same scorer).
    Past it, on the sketch-scan path with the native kernels available,
    scoring fuses into the scan kernel (the reference's ``join_sim``
    shape — scored matches out, never raw candidates), so only
    survivors cross the Arrow boundary. Otherwise candidates come from
    :func:`approx_candidate_pairs` and scoring runs as the usual
    Spark-side column (codegen'd banded levenshtein / pandas-UDF
    kernels). Both shapes produce identical rows (top-N by hamming,
    then exact-metric threshold) — equivalence-tested."""
    from ..functions.kernels import distance_column

    if lossless:
        if not native_scan_fits(n_right_keys):
            raise ValueError(
                "lossless scan needs the native kernels and a right side"
                " of at most BROADCAST_KEY_LIMIT keys"
            )
        return _lossless_scan(
            left_keys, right_keys, left_col, right_col, metric, dist_bound,
            n_left_keys, n_right_keys, dist_col, index_cols,
            n_left_rows, n_right_rows,
        )
    pair_volume = max(n_left_keys, 1) * max(n_right_keys, 1)
    if pair_volume <= ANN_CATALYST_CAP:
        return _exact_topn_scored(
            left_keys, right_keys, left_col, right_col,
            metric, dist_bound, top_n, n_left_keys, n_right_keys, dist_col,
        )
    if pair_volume <= SKETCH_SCAN_CAP and native_scan_fits(n_right_keys):
        return _sketch_scan_topn(
            left_keys, right_keys, left_col, right_col, top_n,
            n_left_keys, n_right_keys, max_hamming,
            rescore_metric=metric, rescore_bound=dist_bound,
            dist_col=dist_col,
        )
    pairs = approx_candidate_pairs(
        left_keys, right_keys, left_col, right_col, top_n,
        n_left_keys, n_right_keys, max_hamming,
        jaccard_distance, num_hashes, bands,
    )
    # alias the lowercased pair in a projection: an inline lower()
    # inside the distance expression is re-evaluated at every
    # reference (~6x per candidate under the banded-levenshtein cap);
    # the alias binds one codegen variable per candidate row
    la, lb = "__lc_scored_l", "__lc_scored_r"
    d = distance_column(metric, F.col(la), F.col(lb), dist_bound)
    return (
        pairs.withColumn(la, jvm_lower(left_col))
        .withColumn(lb, jvm_lower(right_col))
        .withColumn(dist_col, d)
        .filter(F.col(dist_col) <= F.lit(dist_bound))
        .drop(la, lb)
    )


def attach_index_lists(
    pairs: DataFrame,
    left_keys: DataFrame,
    right_keys: DataFrame,
    left_col: str,
    right_col: str,
    n_left_keys: int = 0,
    n_right_keys: int = 0,
) -> DataFrame:
    """Re-attach the per-key index lists to (surviving) candidate
    pairs of the approximate tiers. The key frames are lazy groupBys
    whose size Spark cannot estimate before they run, so without an
    explicit hint it sort-merges the multi-million-row candidate frame;
    broadcast them whenever the key counts allow."""
    lk = (
        F.broadcast(left_keys)
        if 0 < n_left_keys <= BROADCAST_KEY_LIMIT
        else left_keys
    )
    rk = (
        F.broadcast(right_keys)
        if 0 < n_right_keys <= BROADCAST_KEY_LIMIT
        else right_keys
    )
    return pairs.join(lk, on=left_col, how="inner").join(
        rk, on=right_col, how="inner"
    )


def _exact_topn_scored(
    left_keys: DataFrame,
    right_keys: DataFrame,
    left_col: str,
    right_col: str,
    metric: str,
    dist_bound: float,
    top_n: int,
    n_left_keys: int,
    n_right_keys: int,
    dist_col: str,
) -> DataFrame:
    """Small-shape tier of the approximate join: every key pair scored
    exactly -> threshold filter -> at most ``top_n`` nearest right keys
    per left key via a salted two-phase window. Returns
    ``(left_col, right_col, dist_col)``.

    The scored pairs come from the exact tier's scorer: the fused
    lossless scan when the native kernels are available and the right
    side fits one broadcast; otherwise a broadcast cross join scored by
    the codegen (or pandas-UDF) metric on pre-lowered keys. Same
    contract as the sketch-scan tier (lossy: candidate set bounded by
    top_n per key; output always a subset of the exact join's scored
    pairs) with strictly better recall — no hamming prefilter losses.
    Ties at the top_n boundary break by ascending right key,
    deterministic across runs and tiers."""
    from ..functions.kernels import distance_column

    if native_scan_fits(n_right_keys):
        scored = _lossless_scan(
            left_keys, right_keys, left_col, right_col, metric, dist_bound,
            n_left_keys, n_right_keys, dist_col,
        )
    else:
        la, lb = "__lc_topn_l", "__lc_topn_r"
        cands = exact_candidates(
            left_keys.select(left_col).withColumn(la, jvm_lower(left_col)),
            right_keys.select(right_col).withColumn(
                lb, jvm_lower(right_col)
            ),
            n_left_keys,
            n_right_keys,
        )
        d = distance_column(metric, F.col(la), F.col(lb), dist_bound)
        scored = (
            cands.withColumn(dist_col, d)
            .filter(F.col(dist_col) <= F.lit(dist_bound))
            .select(left_col, right_col, dist_col)
        )
    return _salted_topn(scored, left_col, right_col, dist_col, top_n).select(
        left_col, right_col, dist_col
    )


def _salted_topn(
    pairs: DataFrame, left_col: str, right_col: str, order_col: str, top_n: int
) -> DataFrame:
    """At most ``top_n`` rows per left key, smallest ``order_col`` first
    and ties by ascending right key, in two window phases: a skewed
    left key with millions of candidates would otherwise sort them in
    ONE window task. Phase 1 takes the top-N within (key, salt) —
    bounded groups — so phase 2's global window per key sees at most
    16 * top_n rows."""
    order = (F.col(order_col).asc(), F.col(right_col).asc())
    win1 = Window.partitionBy(left_col, "__salt").orderBy(*order)
    win2 = Window.partitionBy(left_col).orderBy(*order)
    return (
        pairs.withColumn("__salt", F.pmod(F.xxhash64(F.col(right_col)), F.lit(16)))
        .withColumn("__r1", F.row_number().over(win1))
        .filter(F.col("__r1") <= top_n)
        .withColumn("__rank", F.row_number().over(win2))
        .filter(F.col("__rank") <= top_n)
    )


def approx_candidates(
    left_keys: DataFrame,
    right_keys: DataFrame,
    left_col: str,
    right_col: str,
    top_n: int = DEFAULT_TOP_N,
    n_left_keys: int = 0,
    n_right_keys: int = 0,
    max_hamming: int = DEFAULT_MAX_HAMMING,
    jaccard_distance: float = DEFAULT_JACCARD_DISTANCE,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """LSH/sketch-approximate candidate pairs (J2) WITH index lists: at
    most ``top_n`` nearest right keys per left key.

    Callers should pass the *larger* key set as ``left_keys`` (the
    reference swaps sides the same way, matcher.py:16-49) so the per-row
    budget applies to the bigger side, and supply the (approximate)
    distinct-key counts so the physical shape and parallelism can be
    chosen from pair volume. The matcher's hot path instead uses
    :func:`approx_candidate_pairs` + score + :func:`attach_index_lists`
    so only threshold-surviving pairs pay the joins."""
    pairs = approx_candidate_pairs(
        left_keys, right_keys, left_col, right_col, top_n,
        n_left_keys, n_right_keys, max_hamming,
        jaccard_distance, num_hashes, bands,
    )
    return attach_index_lists(
        pairs, left_keys, right_keys, left_col, right_col,
        n_left_keys, n_right_keys,
    )


def _swar_popcount(x):
    """Vectorized 64-bit popcount (SWAR bit-twiddling) — constant
    per-element temporaries, unlike a byte-LUT gather which inflates
    memory 8x and thrashes the allocator at wide right sides."""
    import numpy as np

    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return (x * h01) >> np.uint64(56)


# rank fits in 21 bits alongside 7 bits of hamming in a uint32 —
# exactly the BROADCAST_KEY_LIMIT guarantee (2^21 = ~2.1M right keys)
_RANK_BITS = 21


def _hamming_topn(lv, rv, top_n: int, max_hamming: int, probe_chunk: int):
    """Per-probe hamming top-N of the sketches ``lv`` against the
    key-sorted right sketches ``rv``, ``probe_chunk`` probes at a time:
    yields ``(probe rows, right columns, hamming)`` per chunk, at most
    ``top_n`` columns per probe, smallest hamming first and ties by
    right key rank."""
    import numpy as np

    for c0 in range(0, len(lv), probe_chunk):
        ham = _swar_popcount(lv[c0 : c0 + probe_chunk, None] ^ rv[None, :])
        # hamming cap first: with a realistic cap (2 sigma below the
        # random-pair mean) ~97% of the chunk dies here, so the top-N
        # selection runs on the tiny survivor set instead of an
        # argpartition over the full chunk matrix (which dominated the
        # scan at wide right sides)
        rows, cols = np.nonzero(ham <= max_hamming)
        if not len(rows):
            continue
        h = ham[rows, cols].astype(np.uint32)
        if np.bincount(rows).max() > top_n:
            # column index IS the key rank (rv is key-sorted), so
            # (hamming << RANK_BITS | col) is a total, deterministic order
            comb = (h << np.uint32(_RANK_BITS)) | cols.astype(np.uint32)
            order = np.lexsort((comb, rows))
            rows, cols, h = rows[order], cols[order], h[order]
            starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
            sizes = np.diff(np.r_[starts, len(rows)])
            keep = np.arange(len(rows)) - np.repeat(starts, sizes) < top_n
            rows, cols, h = rows[keep], cols[keep], h[keep]
        yield c0 + rows, cols, h


# Per-task pair budget for the C sketch scan — distinct from the
# Catalyst/pandas-kernel PAIRS_PER_TASK (250K): the native XOR +
# SWAR-popcount + fused-rescore kernel sustains ~1.6e8 pairs/s/core,
# so 250K-pair tasks are ~2 ms of kernel under ~15 ms of task
# overhead and the scan stage is pure scheduling. Measured at the
# 225M-pair auto_xl shape (round 10): 64 tasks -> 0.83 s scan,
# 16 tasks -> 0.56 s. 16M pairs/task keeps every task ~100 ms of
# kernel work and one wave at bench scale.
SKETCH_PAIRS_PER_TASK = 16_000_000

# Per-task pair budget for the lossless (exact-tier) levenshtein scan.
# Measured on a 4-core host: the kernel scores fuzzbench exact_names
# names (34.5 chars, bound 0.25) at ~100M pairs/s/core, since the
# length and bag-distance filters leave ~1.6% of pairs for Myers; keys
# that defeat both filters (templated "customer#000001234" families)
# run Myers on every pair at ~7M pairs/s/core. Set when each Python
# task also paid ~0.1 s re-reading zip archives (exact_names, 3.2M
# pairs, seed 4: 1.01 / 1.09 / 1.28 s at 1 / 2 / 4 tasks) and re-measured
# once workers stopped paying it (the rows-reading scan, whole warm
# joins, medians of 8 interleaved repetitions, same host): exact_names
# 0.46 / 0.51 / 0.48 s at 1 / 2 / 4 tasks, so one task still suffices;
# its left keys scaled 4x (12.8M pairs) 0.62 / 0.62 / 0.54 s, so
# splitting pays by then. 4M pairs per task gives 1 and 4 tasks there
# and keeps a worst-case task under ~0.6 s. The other metrics score at
# 0.1-0.3M pairs/s/core in the same kernel, the rate PAIRS_PER_TASK was
# set for.
EXACT_SCAN_PAIRS_PER_TASK = 4_000_000

# Per-task probe-row budget of the same scan over indexed rows: each
# task reads, sorts and dedups its whole input, so a probe side of many
# rows splits by row count too, whatever its key-pair volume. Measured
# on a 4-core host, whole warm joins (how="left", 16 build keys,
# medians of 5 interleaved repetitions) at 1 / 2 / 4 tasks: 250K
# distinct probe keys 1.66 / 1.31 / 1.13 s; 100K keys on 4 rows each
# 1.96 / 1.49 / 1.26 s; 1M keys (4 reps, 1 / 2 / 4 / 8 tasks) 3.98 /
# 3.25 / 2.41 / 2.46 s.
EXACT_SCAN_ROWS_PER_TASK = 100_000

# Rows per distinct key from which the same scan has the JVM group a
# side by key first (a groupBy dedups each input partition before its
# shuffle, and the build collect then carries one id list per key).
# Measured on a 4-core host, fuzzbench names, 2,000 or 1,200 left keys
# on DUP rows each against 1,600 right keys (the left side probes, or
# builds), whole warm joins, medians of 5 interleaved repetitions, rows
# vs grouped: DUP 1 probe 0.47 vs 0.51 s, build 0.42 vs 0.53 s; DUP 4
# 0.44 vs 0.46 s, 0.46 vs 0.48 s; DUP 16 0.56 vs 0.49 s, 0.52 vs 0.53 s;
# DUP 64 0.91 vs 0.65 s, 0.72 vs 0.65 s.
SCAN_GROUP_ROWS_PER_KEY = 8

# Below this right-side key count the sketch-scan kernel emits the
# RIGHT KEY STRING directly (the originals ride the broadcast next to
# the sketches and lowered forms): the Arrow exit carries ~30 bytes
# more per survivor, and the rank->key broadcast join (one
# createDataFrame + one join stage, ~0.4 s at bench scale) disappears
# entirely. Past the bound the original-key copy would meaningfully
# grow the broadcast (2M keys ~ +50 MB), so the 4-byte rank + join
# path stays.
SKETCH_EMIT_KEY_LIMIT = 200_000

# the JVM-lowered key riding into the scan kernels
_LC = "__lc_scan_key"


def _collect_keys(df: DataFrame, col: str, extra=(), nonempty=False):
    """One Arrow collect of ``(col, jvm_lower(col), *extra)`` from
    ``df``, null keys dropped (and empty keys with ``nonempty``). The
    JVM lowers every key, as on every other tier."""
    keep = F.col(col).isNotNull()
    if nonempty:
        keep = keep & (F.length(col) > 0)
    cols = [col, jvm_lower(col).alias(_LC), *extra]
    return df.filter(keep).select(*cols).toArrow()


def _key_groups(tbl, col: str, sort_keys):
    """Rows of the Arrow table ``tbl`` grouped by ``col``, groups in
    ``sort_keys`` order (``col`` last, after any functions of it, so
    equal keys sit together): ``(rows, starts)``, group ``g`` holding
    the rows ``rows[starts[g]:starts[g + 1]]``."""
    import numpy as np
    import pyarrow.compute as pc

    rows = pc.sort_indices(tbl, sort_keys=sort_keys).to_numpy().astype(np.int64)
    keys = tbl.column(col).take(rows).combine_chunks()
    cut = pc.not_equal(keys[1:], keys[:-1]).to_numpy(zero_copy_only=False)
    starts = np.concatenate(([0], np.flatnonzero(cut) + 1, [len(rows)]))
    return rows, starts


def _id_lists(ids, starts, groups):
    """Arrow ``list<int64>``: for each group ``g`` of ``groups``, the
    ids ``ids[starts[g]:starts[g + 1]]``."""
    import numpy as np
    import pyarrow as pa

    lo = starts[groups]
    sizes = starts[groups + 1] - lo
    off = np.zeros(len(groups) + 1, dtype=np.int64)
    np.cumsum(sizes, out=off[1:])
    pos = np.arange(off[-1]) + np.repeat(lo - off[:-1], sizes)
    # a safe cast: past 2^31 ids in one batch it raises, never wraps
    offsets = pa.array(off, type=pa.int32())
    return pa.ListArray.from_arrays(offsets, pa.array(ids[pos]))


def _row_ids(col, rows, starts):
    """The ids of the Arrow column ``col`` (one int64 per row, or a
    ``list<int64>`` per row) for ``rows`` in order, flattened, and
    where each group of ``starts`` (over ``rows``) begins among them."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    col = col.take(rows).combine_chunks()
    if not pa.types.is_list(col.type):
        return col.to_numpy(), starts
    ends = np.zeros(len(col) + 1, dtype=np.int64)
    np.cumsum(pc.list_value_length(col).to_numpy(), out=ends[1:])
    return col.flatten().to_numpy(), ends[starts]


def _scan_input(df: DataFrame, col: str, ix, group: bool) -> DataFrame:
    """A side's non-null ``(col, ix)`` rows for the lossless scan; with
    ``group``, one row per key whose ``ix`` lists the key's row ids (a
    JVM groupBy, which dedups each input partition before its shuffle)."""
    df = df.filter(F.col(col).isNotNull())
    if ix is None:
        return df.select(col)
    if group:
        return df.groupBy(col).agg(F.collect_list(ix).alias(ix))
    return df.select(col, ix)


def _lossless_scan(
    probe: DataFrame,
    build: DataFrame,
    probe_col: str,
    build_col: str,
    metric: str,
    bound: float,
    n_probe_keys: int,
    n_build_keys: int,
    dist_col: str,
    index_cols: tuple[str, str] | None = None,
    n_probe_rows: int = 0,
    n_build_rows: int = 0,
) -> DataFrame:
    """The exact tier's fused native scan: every pair of distinct
    non-null keys is scored in C, empty keys included, and the pairs
    with normalized distance ``<= bound`` come out as
    ``(probe_col, build_col, dist_col)`` — the rows of the scored cross
    join.

    The build side is one Arrow collect of ``(key, lowered key)``,
    grouped by key and sorted by lowered length (so the levenshtein
    length window and bag-distance filters skip most pairs before the
    DP), then broadcast. The probe side is hash-partitioned by key, so
    all copies of a key meet in one task, and each task dedups its keys
    before scoring them, ``maxRecordsPerBatch`` keys per kernel call
    (all of them when that is not positive; a single task reads its
    input partitions coalesced, unshuffled).

    With ``index_cols`` (probe, build) both frames are indexed rows:
    the build collect takes each row's id too, and every scored key
    pair also carries both sides' row-id lists under those names,
    ready for the explode, with no index-list join. A side whose row
    count (``n_probe_rows`` / ``n_build_rows``) reaches
    ``SCAN_GROUP_ROWS_PER_KEY`` rows per key is grouped by key in the
    JVM first, so its copies of a key shrink to one id list before any
    shuffle or collect. Each task holds its whole input, so the probe
    rows also size the tasks, ``EXACT_SCAN_ROWS_PER_TASK`` each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    spark = probe.sparkSession
    p_ix, b_ix = index_cols or (None, None)
    fields = [
        StructField(probe_col, StringType()),
        StructField(build_col, StringType()),
        StructField(dist_col, DoubleType()),
    ]
    if index_cols:
        fields += [StructField(c, ArrayType(LongType())) for c in index_cols]
    schema = StructType(fields)

    def grouped(n_rows, n_keys):
        return n_rows >= SCAN_GROUP_ROWS_PER_KEY * max(n_keys, 1)

    b = _collect_keys(
        _scan_input(
            build, build_col, b_ix, grouped(n_build_rows, n_build_keys)
        ),
        build_col,
        [b_ix] if b_ix else [],
    )
    b = b.append_column("__len", pc.utf8_length(b.column(_LC)))
    b_rows, b_starts = _key_groups(
        b, build_col, [("__len", "ascending"), (build_col, "ascending")]
    )
    if not len(b_rows):
        # every build key null: no pair can match
        return spark.createDataFrame([], schema)
    first = b_rows[b_starts[:-1]]
    b_ids = _row_ids(b.column(b_ix), b_rows, b_starts) if b_ix else None
    bc = spark.sparkContext.broadcast(
        (
            b.column(build_col).take(first).combine_chunks(),
            b.column(_LC).take(first).to_pylist(),
            b_ids,
        )
    )
    # zero or negative: no limit, one kernel call per task
    chunk = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    per_task = (
        EXACT_SCAN_PAIRS_PER_TASK if metric == "levenshtein" else PAIRS_PER_TASK
    )
    p_grouped = grouped(n_probe_rows, n_probe_keys)
    n_parts = max(
        _compute_parallelism(
            probe, max(n_probe_keys, 1) * max(n_build_keys, 1), per_task
        ),
        _compute_parallelism(
            probe,
            n_probe_keys if p_grouped else n_probe_rows,
            EXACT_SCAN_ROWS_PER_TASK,
        ),
    )
    names = schema.names

    def scan(batches):
        from ..functions.native_kernels import flatten_strings, sketch_scan_score

        batches = list(batches)
        if not sum(b.num_rows for b in batches):
            return
        t = pa.Table.from_batches(batches)
        b_keys, b_low, b_ids = bc.value
        rows, starts = _key_groups(t, probe_col, [(probe_col, "ascending")])
        first = rows[starts[:-1]]
        keys = t.column(probe_col).take(first).combine_chunks()
        low = t.column(_LC).take(first).to_pylist()
        ids = _row_ids(t.column(p_ix), rows, starts) if p_ix else None
        r_flat, r_off = flatten_strings(b_low)
        step = chunk if chunk > 0 else len(low)
        for c0 in range(0, len(low), step):
            li, rj, d = sketch_scan_score(
                None, None, low[c0 : c0 + step], r_flat, r_off,
                0, 0, metric, bound,
            )
            if not len(li):
                continue
            li = li + c0
            cols = [keys.take(li), b_keys.take(rj), pa.array(d)]
            if p_ix:
                cols += [
                    _id_lists(*ids, li),
                    _id_lists(*b_ids, rj.astype(np.int64)),
                ]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    extra = [p_ix] if p_ix else []
    probe = _scan_input(probe, probe_col, p_ix, p_grouped)
    # all copies of a key must meet in one task; one task holds them
    # all without a shuffle
    probe = (
        probe.coalesce(1)
        if n_parts == 1
        else probe.repartition(n_parts, probe_col)
    )
    return probe.select(
        probe_col, jvm_lower(probe_col).alias(_LC), *extra
    ).mapInArrow(scan, schema)


def _sketch_scan_topn(
    left_keys: DataFrame,
    right_keys: DataFrame,
    left_col: str,
    right_col: str,
    top_n: int,
    n_left_keys: int,
    n_right_keys: int,
    max_hamming: int,
    probe_chunk: int = 256,
    rescore_metric: str | None = None,
    rescore_bound: float | None = None,
    dist_col: str = "__dist",
) -> DataFrame:
    """Brute sketch scan as a vectorized kernel: the right side's
    ``(key, 64-bit SimHash)`` pairs are broadcast as numpy arrays
    (sorted by key, one Arrow collect, for deterministic tie-breaks)
    and each Arrow batch of left keys XORs against the whole right
    sketch vector, popcounts (SWAR), and selects the per-row top-N with
    one ``argpartition`` over a packed uint32 (hamming << 21 |
    key-rank) sort key — no row-level candidate join, no window
    shuffle, skew-immune because there is no bucketing at all. This
    mirrors the reference's chunked SIMD scan (matcher.py:140-154) in
    Spark clothing: JVM expressions build the per-KEY sketches, C-speed
    numpy handles the per-PAIR O(n*m) stage, and only surviving pairs
    leave Python. Up to ``SKETCH_EMIT_KEY_LIMIT`` right keys the kernel
    emits the right key STRING directly (no rank join stage at all);
    past it survivors leave as ``(left key, right RANK)`` rows — a
    4-byte int across Arrow — and the rank joins back to the key via
    the broadcast rank table. Empty keys never match here.

    With ``rescore_metric``/``rescore_bound`` set, the exact metric
    distance is computed IN the kernel (native C batch kernels on the
    JVM-lowered pair) and only threshold survivors are emitted — the
    fused shape of the reference's ``join_sim`` (scored matches out,
    never raw candidates). At a saturated candidate budget this
    collapses the Arrow exit volume by orders of magnitude (e.g. 126M
    candidates -> 7.7K survivors on the 4B-pair bench shape). Output is
    then ``(left_col, right_col, dist_col)``. The lossless (exact-tier)
    scan is :func:`_lossless_scan`."""
    import numpy as np
    import pandas as pd
    import pyarrow.compute as pc
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from ..functions.minhash import simhash_sketch_np

    rescoring = rescore_metric is not None and rescore_bound is not None

    spark = left_keys.sparkSession
    n_parts = _compute_parallelism(
        left_keys,
        max(n_left_keys, 1) * max(n_right_keys, 1),
        SKETCH_PAIRS_PER_TASK,
    )
    # sketches for BOTH sides come from the same numpy routine (driver
    # for the broadcast build side, inside the kernel for probes) — no
    # JVM interpreted-HOF expression in the path, and bit-for-bit
    # agreement is guaranteed by construction. The keys the kernel
    # rescores are lowered in the JVM (``_LC``), as on every other
    # tier: Python's ``str.lower`` follows another Unicode version.
    lc = jvm_lower(left_col).alias(_LC)
    ls = left_keys.filter(F.length(left_col) > 0).repartition(n_parts)
    ls = ls.select(left_col, lc) if rescoring else ls.select(left_col)
    r = _collect_keys(right_keys, right_col, nonempty=True)
    r = r.take(pc.sort_indices(r, sort_keys=[(right_col, "ascending")]))
    rkeys = r.column(right_col).to_numpy(zero_copy_only=False)
    if not len(rkeys):
        # all right keys empty/filtered (O7 catches empty FRAMES, not
        # frames whose every key is the empty string): empty candidates
        tail = (
            StructField(dist_col, DoubleType())
            if rescoring
            else StructField("__ham", IntegerType())
        )
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField(left_col, StringType()),
                    StructField(right_col, StringType()),
                    tail,
                ]
            ),
        )
    if len(rkeys) >= (1 << _RANK_BITS):
        raise ValueError(
            "sketch scan right side exceeds rank budget; raise"
            " SKETCH_SCAN_CAP gating or use the banded path"
        )
    emit_keys = len(rkeys) <= SKETCH_EMIT_KEY_LIMIT
    bc = spark.sparkContext.broadcast(
        (
            simhash_sketch_np(rkeys),
            rkeys if emit_keys else None,
            r.column(_LC).to_pylist() if rescoring else None,
        )
    )
    fields = [
        StructField(left_col, StringType()),
        StructField(right_col, StringType())
        if emit_keys
        else StructField("__rrank", IntegerType()),
    ]
    if rescoring:
        fields.append(StructField(dist_col, DoubleType()))
    else:
        fields.append(StructField("__ham", IntegerType()))
    schema = StructType(fields)

    rcol_out = right_col if emit_keys else "__rrank"

    def scan(batches):
        rv, rarr, rlow = bc.value
        if rescoring:
            # fused C path: candidates + rescore + threshold in one
            # native pass per Arrow batch (no hamming-matrix
            # temporaries; the right side is cache-resident)
            from ..functions.native_kernels import (
                flatten_strings,
                sketch_scan_score,
            )

            r_flat, r_off = flatten_strings(rlow)
            for pdf in batches:
                if not len(pdf):
                    continue
                lk = pdf[left_col].to_numpy()
                li, rj, d = sketch_scan_score(
                    simhash_sketch_np(lk),
                    rv,
                    pdf[_LC].tolist(),
                    r_flat,
                    r_off,
                    max_hamming,
                    top_n,
                    rescore_metric,
                    rescore_bound,
                )
                if len(li):
                    yield pd.DataFrame(
                        {
                            left_col: lk[li],
                            rcol_out: rarr[rj] if emit_keys else rj,
                            dist_col: d,
                        }
                    )
            return
        for pdf in batches:
            if not len(pdf):
                continue
            lk = pdf[left_col].to_numpy()
            for rows, cols, h in _hamming_topn(
                simhash_sketch_np(lk), rv, top_n, max_hamming, probe_chunk
            ):
                yield pd.DataFrame(
                    {
                        left_col: lk[rows],
                        rcol_out: rarr[cols]
                        if emit_keys
                        else cols.astype(np.int32),
                        "__ham": h.astype(np.int32),
                    }
                )

    pairs = ls.mapInPandas(scan, schema)
    if emit_keys:
        # the kernel emitted the right key directly — no rank join
        return pairs
    # rank -> right key via the (tiny, broadcast) rank table
    rank_df = spark.createDataFrame(
        list(enumerate(rkeys.tolist())), ["__rrank", right_col]
    )
    return pairs.join(F.broadcast(rank_df), on="__rrank", how="inner").drop(
        "__rrank"
    )


def _sketch_scan_topn_blocked(
    left_keys: DataFrame,
    right_keys: DataFrame,
    left_col: str,
    right_col: str,
    top_n: int,
    n_left_keys: int,
    n_right_keys: int,
    max_hamming: int,
    n_blocks: int,
    probe_chunk: int = 256,
) -> DataFrame:
    """Sketch scan for right sides past one broadcast, fully
    distributed (no driver data path at all):

    1. right ``(key, SimHash)`` sketches are computed executor-side
       (``mapInPandas``) and packed into ``n_blocks`` single-row
       blocks, keys sorted within each block for deterministic ties
       (one shuffle on the block id);
    2. left probes pack themselves one row per Arrow batch — a
       map-only transform, no shuffle;
    3. the L x B packed pairs cross-join (block-level, constant rows
       per task) and each pair runs the same XOR + SWAR-popcount +
       in-kernel per-probe top-N kernel the broadcast path uses;
    4. a final per-left-key window merges the per-block top-Ns —
       every global top-N candidate is a fortiori in its own block's
       top-N, and the (hamming, right key) order resolves ties
       exactly like the unblocked scan, so results are identical
       (equivalence-tested).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..functions.minhash import simhash_sketch_np

    n_parts = _compute_parallelism(
        left_keys, max(n_left_keys, 1) * max(n_right_keys, 1)
    )

    sk_schema = StructType(
        [
            StructField(right_col, StringType()),
            StructField("__sk", LongType()),
        ]
    )

    def mk_sketch(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf[right_col].to_numpy()
            yield pd.DataFrame(
                {
                    right_col: keys,
                    "__sk": simhash_sketch_np(keys).view(np.int64),
                }
            )

    rsk = (
        right_keys.filter(F.length(right_col) > 0)
        .select(right_col)
        .mapInPandas(mk_sketch, sk_schema)
    )

    pack_schema = StructType(
        [
            StructField("__rkeys", ArrayType(StringType())),
            StructField("__rsks", ArrayType(LongType())),
        ]
    )

    def pack_right(key, pdf):
        order = np.argsort(pdf[right_col].to_numpy())
        return pd.DataFrame(
            {
                "__rkeys": [pdf[right_col].to_numpy()[order].tolist()],
                "__rsks": [pdf["__sk"].to_numpy()[order].tolist()],
            }
        )

    packed_r = (
        rsk.withColumn(
            "__bid", F.pmod(F.xxhash64(F.col(right_col)), F.lit(n_blocks))
        )
        .groupBy("__bid")
        .applyInPandas(pack_right, pack_schema)
    )

    lpack_schema = StructType(
        [StructField("__lkeys", ArrayType(StringType()))]
    )

    def pack_left(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(
                    {"__lkeys": [pdf[left_col].tolist()]}
                )

    packed_l = (
        left_keys.filter(F.length(left_col) > 0)
        .repartition(n_parts)
        .select(left_col)
        .mapInPandas(pack_left, lpack_schema)
    )

    out_schema = StructType(
        [
            StructField(left_col, StringType()),
            StructField(right_col, StringType()),
            StructField("__ham", IntegerType()),
        ]
    )

    def scan(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                lk = np.asarray(row["__lkeys"])
                rk = np.asarray(row["__rkeys"])
                rv = np.asarray(row["__rsks"], dtype=np.int64).view(
                    np.uint64
                )
                m = len(rk)
                if m == 0 or len(lk) == 0:
                    continue
                for rows, cols, h in _hamming_topn(
                    simhash_sketch_np(lk), rv, top_n, max_hamming, probe_chunk
                ):
                    yield pd.DataFrame(
                        {
                            left_col: lk[rows],
                            right_col: rk[cols],
                            "__ham": h.astype(np.int32),
                        }
                    )

    cand = packed_l.crossJoin(packed_r).mapInPandas(scan, out_schema)
    win = Window.partitionBy(left_col).orderBy(
        F.col("__ham").asc(), F.col(right_col).asc()
    )
    return (
        cand.withColumn("__rank", F.row_number().over(win))
        .filter(F.col("__rank") <= top_n)
        .select(left_col, right_col)
    )


def _banded_topn(
    left_keys: DataFrame,
    right_keys: DataFrame,
    left_col: str,
    right_col: str,
    top_n: int,
    jaccard_distance: float,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """MinHash band-bucket join: candidates ~linear on diverse keys.
    Past SKETCH_SCAN_CAP this is the only sublinear option; key
    families degenerate enough to collapse its buckets are quadratic
    for every method at that scale."""
    n_parts = left_keys.sparkSession.sparkContext.defaultParallelism * 2
    lb = banded_buckets(
        left_keys.filter(F.length(left_col) > 0).repartition(n_parts),
        [left_col],
        char_shingles(F.col(left_col)),
        num_hashes,
        bands,
        sig_col="__lsig",
    )
    rb = banded_buckets(
        right_keys.filter(F.length(right_col) > 0),
        [right_col],
        char_shingles(F.col(right_col)),
        num_hashes,
        bands,
        sig_col="__rsig",
    )
    # skew guard: bound every (band, bucket) to BANDED_BUCKET_CAP rows
    # per side — a hot shingle family otherwise contributes
    # |family_left| x |family_right| join rows PER BAND (measured 4.2x
    # wall inflation on the 4e11 semi-degenerate probe). The window
    # partitions on the join keys, so its shuffle is the one the bucket
    # join needs anyway; xxhash64 order makes the kept K deterministic.
    capw_l = Window.partitionBy("band", "band_key").orderBy(
        F.xxhash64(F.col(left_col))
    )
    capw_r = Window.partitionBy("band", "band_key").orderBy(
        F.xxhash64(F.col(right_col))
    )
    lb = (
        lb.withColumn("__bc", F.row_number().over(capw_l))
        .filter(F.col("__bc") <= BANDED_BUCKET_CAP)
        .drop("__bc")
    )
    rb = (
        rb.withColumn("__bc", F.row_number().over(capw_r))
        .filter(F.col("__bc") <= BANDED_BUCKET_CAP)
        .drop("__bc")
    )
    # A pair colliding in k bands appears k times. Instead of a
    # groupBy-dedup (a shuffle of every collision row carrying two
    # signature arrays — the dominant stage at corpus scale), keep a
    # row only when ITS band is the pair's FIRST agreeing band: for
    # every earlier band the signature slices must differ. Pure
    # expression, each pair surfaces exactly once, zero extra shuffle.
    r = num_hashes // bands
    first_band = F.lit(True)
    for j in range(bands - 1):
        differs = (
            F.slice(F.col("__lsig"), j * r + 1, r)
            != F.slice(F.col("__rsig"), j * r + 1, r)
        )
        first_band = first_band & F.when(
            F.col("band") > j, differs
        ).otherwise(F.lit(True))
    pairs = (
        lb.join(rb, on=["band", "band_key"], how="inner")
        .filter(first_band)
        .withColumn(
            "__jaccard_dist",
            F.lit(1.0) - est_jaccard(F.col("__lsig"), F.col("__rsig")),
        )
        .filter(F.col("__jaccard_dist") <= F.lit(jaccard_distance))
        .select(left_col, right_col, "__jaccard_dist")
    )
    return _salted_topn(
        pairs, left_col, right_col, "__jaccard_dist", top_n
    ).select(left_col, right_col)
