"""Pure-SQL MinHash: signatures, LSH banding, estimated Jaccard.

Whole-stage-codegen replacement for Spark ML's ``MinHashLSH``
(reference capability: the ANN candidate join of
/root/reference/pl_fuzzy_frame_match/matcher.py:99-161, delegated there
to the ``polars-simed`` Rust plugin). ``approxSimilarityJoin`` pays a
Scala sparse-vector UDF per candidate pair plus a vector-explode join;
everything below stays inside Catalyst expressions:

- signature slot ``i``  = ``min`` over shingles of ``xxhash64(shingle, i)``
  (one independent hash family per slot — ``xxhash64`` hashes the extra
  int literal into the key, and is deterministic across executors)
- LSH banding: band key = ``xxhash64`` of a signature slice; two keys
  land in the same bucket for band ``j`` iff their slices agree exactly,
  so candidate generation is ``bands`` equi-joins (shuffle on a long)
- estimated Jaccard = fraction of equal signature slots

The standard banding guarantee applies: with ``r = num_hashes/bands``
rows per band, a pair of true Jaccard similarity ``s`` collides with
probability ``1 - (1 - s^r)^bands``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .kernels import jvm_lower


def char_shingles(col: Column, n: int = 3) -> Column:
    """Distinct lowercased character n-grams. Strings shorter than ``n``
    contribute themselves as a single shingle so the set is never empty
    for non-empty input."""
    low = jvm_lower(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(low) - (n - 1), F.lit(1))),
            lambda i: low.substr(i, F.lit(n)),
        )
    )


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """``array<long>`` of ``num_hashes`` MinHash slots. Null/empty
    shingle sets produce null slots — callers must filter empties.

    Built as ONE nested-lambda expression (outer transform over the
    hash index, inner over the shingles) rather than ``num_hashes``
    sibling python-lambda transforms in a projection: PySpark names
    every sibling lambda's variable identically, and the analyzer
    collapses them into one expression — every slot silently becomes
    slot 0, which degrades banding to single-hash LSH (recall ~= s
    instead of 1-(1-s^r)^b). Caught by the ANN recall gate.

    Each shingle STRING is hashed exactly once; the ``num_hashes``
    slot families then re-hash the resulting 64-bit long (long-input
    xxhash64 is a handful of multiplies vs a full pass over the string
    bytes), so signature cost is O(|shingles| + |shingles|*k cheap
    mixes), not k full string hashes."""
    base = F.transform(shingles, lambda s: F.xxhash64(s))
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(base, lambda h: F.xxhash64(h, i))),
    )


def band_structs(sig: Column, num_hashes: int, bands: int) -> Column:
    """``array<struct<band:int, band_key:long>>`` ready to ``explode``:
    one bucket key per band, hashing ``r = num_hashes // bands``
    consecutive signature slots."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(F.slice(sig, j * r + 1, r)).alias("band_key"),
            )
            for j in range(bands)
        ]
    )


def est_jaccard(a: Column, b: Column) -> Column:
    """MinHash Jaccard estimate: fraction of equal signature slots."""
    eq = F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0))
    return (
        F.aggregate(eq, F.lit(0), lambda acc, x: acc + x).cast("double")
        / F.size(a)
    )


def simhash_sketch_np(keys):
    """64-bit SimHash sketches of lowercased character-3-gram sets for a
    batch of key strings, as a numpy uint64 array. Deterministic (pure
    arithmetic hashing — Python's ``hash()`` is process-salted) and
    identical wherever it runs, so probe- and build-side sketches agree
    across executors and the driver.

    Fully vectorized: one UTF-32 encode flattens the batch, 3-gram
    codes pack three codepoints into a uint64, a splitmix64-style mix
    gives avalanche, per-row sort + shift masks duplicate grams (set
    semantics), and the 64 bit-votes accumulate with one matmul-free
    ``unpackbits`` sum. The previous per-key/per-gram Python loop cost
    ~120 us/key (48 s for a 405K-key side, serial on the driver for
    the broadcast side); this is ~1.5 us/key."""
    import numpy as np

    from .np_kernels import codepoint_matrix

    n = len(keys)
    out = np.zeros(n, dtype=np.uint64)
    if n == 0:
        return out
    lowered = [(k or "").lower() for k in keys]
    mat, lens = codepoint_matrix(lowered)
    L = mat.shape[1]
    # number of grams per key: max(len-2, 1) for non-empty, 0 for empty
    g_len = np.where(lens > 0, np.maximum(lens - 2, 1), 0)
    G = int(g_len.max()) if n else 0
    if G == 0:
        return out
    m = mat.astype(np.uint64)
    m[mat == np.uint32(0x7FFFFFFF)] = 0  # pad -> 0 (never a real char)
    c0 = m[:, :G]
    c1 = np.zeros_like(c0)
    c2 = np.zeros_like(c0)
    if L > 1:
        w = min(G, L - 1)
        c1[:, :w] = m[:, 1 : w + 1]
    if L > 2:
        w = min(G, L - 2)
        c2[:, :w] = m[:, 2 : w + 2]
    grams = (c0 << np.uint64(42)) ^ (c1 << np.uint64(21)) ^ c2
    # splitmix64 finalizer for avalanche
    h = grams + np.uint64(0x9E3779B97F4A7C15)
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h = h ^ (h >> np.uint64(31))
    valid = np.arange(G)[None, :] < g_len[:, None]
    sentinel = np.uint64(0xFFFFFFFFFFFFFFFF)
    hs = np.where(valid, h, sentinel)
    hs.sort(axis=1)
    first = np.ones_like(hs, dtype=bool)
    first[:, 1:] = hs[:, 1:] != hs[:, :-1]
    mask = first & (hs != sentinel)
    # majority vote per bit: votes_k > 0  <=>  2 * ones_k > n_grams.
    # Stays in uint8/int16 (the int32 formulation allocated GBs);
    # chunked so the (chunk, G, 64) bit tensor stays cache-sized.
    step = 65536
    for s0 in range(0, n, step):
        hc = hs[s0 : s0 + step]
        mc = mask[s0 : s0 + step]
        nc = len(hc)
        bits = np.unpackbits(
            hc.view(np.uint8).reshape(nc, G, 8), axis=2, count=64
        )
        bits *= mc[:, :, None]
        ones = bits.sum(axis=1, dtype=np.int16)
        n_grams = mc.sum(axis=1).astype(np.int16)
        sketch_bits = (2 * ones > n_grams[:, None]).astype(np.uint8)
        out[s0 : s0 + step] = (
            np.packbits(sketch_bits, axis=1).view(np.uint64).reshape(-1)
        )
    return out


def simhash_sketch_expr(shingles_col: str) -> Column:
    """64-bit SimHash of a shingle-set column (by name), as a long.

    Bit ``k`` is set iff more shingles hash with bit ``k`` set than not
    (majority vote). Built as a SQL lambda expression because the
    Python ``shiftrightunsigned``/``shiftleft`` wrappers only accept
    int literals for the shift amount, not a lambda-bound column.

    Cost is O(|shingles| * 64) *interpreted* ops per row — linear per
    key, never per pair; each shingle is hashed exactly once. The
    per-PAIR distance this sketch enables (``bit_count(a ^ b)``) is a
    single codegen'd instruction, which is the whole point: it makes a
    brute-force candidate scan cheap enough to beat LSH banding
    whenever banding would degenerate (near-identical key families
    collapsing into one bucket)."""
    votes = (
        f"aggregate(transform(`{shingles_col}`, s -> xxhash64(s)),"
        " array_repeat(0, 64),"
        " (acc, h) -> zip_with(acc, sequence(0, 63),"
        "   (a, k) -> a + IF((shiftrightunsigned(h, k) & 1) = 1, 1, -1)))"
    )
    pack = (
        f"aggregate(zip_with({votes}, sequence(0, 63),"
        " (v, k) -> IF(v > 0, shiftleft(1L, k), 0L)),"
        " 0L, (a, x) -> a | x)"
    )
    return F.expr(pack)


def banded_buckets(
    df,
    key_cols: list,
    shingles: Column,
    num_hashes: int,
    bands: int,
    sig_col: str = "__sig",
):
    """Slim banded frame ``(*key_cols, sig_col, band, band_key)`` —
    one row per (input row, band). The signature rides along so bucket
    joins can score candidates without a join back to the source.

    Physical shape: explode the shingles, hash each shingle string
    ONCE, derive the ``num_hashes`` slot values as plain (codegen'd)
    column expressions over that long, and min-aggregate back per key.
    This keeps the whole signature inside whole-stage codegen — the
    nested higher-order-function formulation
    (:func:`minhash_signature`) evaluates interpreted in Catalyst and
    ran ~100x slower at corpus scale. Costs one extra shuffle (the
    groupBy on the key), which the banding join needed anyway."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    slot_names = [f"__m{i}" for i in range(num_hashes)]
    exploded = df.select(*key_cols, F.explode(shingles).alias("__s")).select(
        *key_cols, F.xxhash64(F.col("__s")).alias("__h")
    )
    slots = exploded.groupBy(*key_cols).agg(
        *[
            F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(n)
            for i, n in enumerate(slot_names)
        ]
    )
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(
                    *[F.col(n) for n in slot_names[j * r : (j + 1) * r]]
                ).alias("band_key"),
            )
            for j in range(bands)
        ]
    )
    return (
        slots.select(
            *key_cols,
            F.array(*[F.col(n) for n in slot_names]).alias(sig_col),
            F.explode(bands_arr).alias("__b"),
        )
        .select(*key_cols, sig_col, "__b.band", "__b.band_key")
    )
