"""Round-5 regression tests: semantic-dedup skew cap, weighted-rate
clamping, cluster-assign formula parity, matcher O7 ordering."""

import pytest
from pyspark.sql import functions as F


def _clumpy_vectors(spark, n=400, dim=8):
    """A corpus where ~90% of vectors land in ONE cluster: ids 0..7 are
    the deterministic first-k centroids; most rows sit near centroid 0."""
    import math

    rows = []
    for i in range(n):
        if i < 8:
            # spread centroids on distinct axes so assignment is crisp
            v = [0.0] * dim
            v[i % dim] = 1.0
            rows.append((i, v))
        elif i % 10 == 0:
            v = [0.0] * dim
            v[1] = 1.0
            v[2] = 0.01 * (i % 7)
            rows.append((i, v))
        else:
            # near centroid 0 with a tiny deterministic wobble
            eps = 0.001 * (i % 13)
            v = [1.0, eps, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
            norm = math.sqrt(1 + eps * eps)
            rows.append((i, [x / norm for x in v]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semantic_dedup_skew_cap_same_rows(spark):
    """VERDICT r4 #3: with 90% of vectors in one cluster, the salted
    self-join must produce IDENTICAL pairs to the unsalted one (each
    pair meets on exactly one salt) while bounding the build-side rows
    per shuffle key."""
    from pl_fuzzy_frame_match_spark.operators.dedup import (
        semantic_dedup_pairs,
    )

    df = _clumpy_vectors(spark)
    capped = semantic_dedup_pairs(
        df, "embedding", "vec_id", threshold=0.9, n_clusters=8,
        cluster_cap=50,
    )
    uncapped = semantic_dedup_pairs(
        df, "embedding", "vec_id", threshold=0.9, n_clusters=8,
        cluster_cap=10**9,
    )
    a = sorted(map(tuple, capped.collect()))
    b = sorted(map(tuple, uncapped.collect()))
    assert a == b
    assert len(a) > 1000  # the skewed cluster really is quadratic


def test_semantic_dedup_skew_cap_bounds_per_key_volume(spark):
    """The salted plan's shuffle keys are (cluster, salt); no single
    key may carry the whole skewed cluster on the probe side, and the
    build side must replicate across ceil(size/cap) salts."""
    from pl_fuzzy_frame_match_spark.operators.dedup import (
        semantic_cluster_assign,
    )

    df = _clumpy_vectors(spark)
    cap = 50
    assigned = semantic_cluster_assign(df, "embedding", "vec_id", 8)
    sizes = {
        r["cluster"]: r["count"]
        for r in assigned.groupBy("cluster").count().collect()
    }
    big = max(sizes, key=sizes.get)
    assert sizes[big] > 0.8 * 400  # the fixture is genuinely skewed
    n_salt = -(-sizes[big] // cap)
    assert n_salt >= 2
    # probe-side rows hash into n_salt buckets; the largest bucket of
    # the skewed cluster must be ~size/n_salt, far below the full size
    salted = assigned.filter(F.col("cluster") == big).select(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_salt)).alias("s")
    )
    per_key = [r["c"] for r in
               salted.groupBy("s").agg(F.count("*").alias("c")).collect()]
    assert len(per_key) == n_salt
    assert max(per_key) < sizes[big]


def test_weighted_rate_negative_clamps_to_zero(spark):
    """ADVICE r4: a negative rate must keep NOTHING (prob 0), not
    everything — the negative bigint's two's-complement hex used to
    truncate to 'ffffffff' under lpad."""
    from pl_fuzzy_frame_match_spark.functions.sampling import (
        weighted_rate_predicate,
        weighted_rate_sql_predicate,
    )

    df = spark.range(500).select(
        F.col("id"), F.lit(-0.25).alias("rate")
    )
    kept = df.filter(
        weighted_rate_predicate(F.col("id"), F.col("rate"))
    ).count()
    assert kept == 0
    # the SQL twin clamps identically
    import duckdb

    pred = weighted_rate_sql_predicate("i", "-0.25")
    n = duckdb.sql(
        f"SELECT count(*) FROM range(500) t(i) WHERE {pred}"
    ).fetchone()[0]
    assert n == 0


def test_cluster_assign_matches_duckdb_cosine_routing(spark):
    """ADVICE r4: assignment must use the oracle's exact formula
    (unnormalized dot / (|a|*|b|)); null embeddings are rejected from
    the centroid sample instead of raising on the driver."""
    import duckdb

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.6, 0.8, 0.0]),
        (2, None),  # must not break centroid collection
        (3, [0.59, 0.81, 0.0]),
        (4, [0.99, 0.02, 0.0]),
        (5, [0.7071, 0.7071, 0.0]),  # near-tie between c0 and c1
    ]
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    df = spark.createDataFrame(rows, schema).where(
        F.col("embedding").isNotNull()
    )
    from pl_fuzzy_frame_match_spark.operators.dedup import (
        semantic_cluster_assign,
    )

    got = {
        r["vec_id"]: r["cluster"]
        for r in semantic_cluster_assign(
            df, "embedding", "vec_id", 2
        ).collect()
    }
    con = duckdb.connect()
    want = {
        r[0]: r[1]
        for r in con.sql(
            """
            WITH v AS (
              SELECT * FROM (VALUES
                (0, [1.0, 0.0, 0.0]), (1, [0.6, 0.8, 0.0]),
                (3, [0.59, 0.81, 0.0]), (4, [0.99, 0.02, 0.0]),
                (5, [0.7071, 0.7071, 0.0])) t(vec_id, e)
            ),
            cent AS (SELECT vec_id AS cid, e AS ce FROM v
                     ORDER BY vec_id LIMIT 2)
            SELECT vec_id, cid FROM (
              SELECT v.vec_id, c.cid, row_number() OVER (
                PARTITION BY v.vec_id
                ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid
              ) rn FROM v CROSS JOIN cent c
            ) WHERE rn = 1
            """
        ).fetchall()
    }
    assert got == want


def test_o7_empty_input_skips_index_checkpoints(spark, monkeypatch):
    """VERDICT r4 #7: an empty input must exit BEFORE the eager index
    checkpoints — previously both full-input materialization jobs ran
    and were discarded."""
    from pl_fuzzy_frame_match_spark import FuzzyMapping
    from pl_fuzzy_frame_match_spark.operators import matcher

    calls = []
    real = matcher.add_index_column

    def spy(df, name):
        calls.append(name)
        return real(df, name)

    monkeypatch.setattr(matcher, "add_index_column", spy)
    left = spark.createDataFrame([(1, "a")], ["lid", "name"]).limit(0)
    right = spark.createDataFrame([(2, "b")], ["rid", "label"])
    maps = [FuzzyMapping("name", "label", threshold_score=80.0)]
    out = matcher.fuzzy_match_dfs(left, right, maps)
    assert out.count() == 0
    assert calls == []  # no checkpoint job was launched

    # non-empty inputs still checkpoint both sides (the fast path)
    left2 = spark.createDataFrame([(1, "a")], ["lid", "name"])
    matcher.fuzzy_match_dfs(left2, right, maps).count()
    assert sorted(calls) == sorted([matcher.LEFT_INDEX, matcher.RIGHT_INDEX])


def test_stream_fuzzy_enrich_banded_fallback_matches_batch(
    spark, tmp_path, monkeypatch
):
    """VERDICT r4 #8: past BROADCAST_KEY_LIMIT with an index_path the
    enrich switches to the stream-static banded equi-join (no collect,
    no broadcast) — batch and stream formulations must agree row for
    row; without an index the guard still raises."""
    from pl_fuzzy_frame_match_spark import FuzzyMapping
    from pl_fuzzy_frame_match_spark.operators.dedup import (
        build_minhash_index,
    )
    from pl_fuzzy_frame_match_spark.streaming import stream_ops

    monkeypatch.setattr(
        "pl_fuzzy_frame_match_spark.operators.candidates"
        ".BROADCAST_KEY_LIMIT",
        5,
    )
    batch = spark.createDataFrame(
        [
            (1, "Apple Incorporated Company"),
            (2, "Microsoft Corporation Group"),
            (3, "zzz totally unrelated qqq"),
            (4, None),
        ],
        ["id", "company"],
    )
    rights = [
        ("Apple Incorporated Compan",),
        ("Microsoft Corporation Groups",),
        ("Oracle Systems Incorporated",),
        ("Amazon Web Services Inc",),
        ("Alphabet Google LLC Holdings",),
        ("Meta Platforms Incorporated",),
        ("Netflix Streaming Services",),
        ("Tesla Motors Incorporated",),
    ]
    right = spark.createDataFrame(rights, ["name"])
    mapping = FuzzyMapping(
        "company", "name", threshold_score=80.0, fuzzy_type="jaro_winkler"
    )
    # guard intact for the no-index case
    with pytest.raises(ValueError, match="BROADCAST_KEY_LIMIT"):
        stream_ops.stream_fuzzy_enrich(batch, right, mapping)

    idx = str(tmp_path / "key_index")
    build_minhash_index(
        right, "name", "name", idx, num_hashes=16, bands=16, shingle_n=1
    )
    kw = dict(index_path=idx, num_hashes=16, bands=16, shingle_n=1)

    out_b = stream_ops.stream_fuzzy_enrich(batch, right, mapping, **kw)
    expect = {
        r["id"]: (r["name_matched"], r[mapping.output_column_name])
        for r in out_b.collect()
    }
    assert expect[1][0] == "Apple Incorporated Compan"
    assert expect[2][0] == "Microsoft Corporation Groups"
    assert expect[3][0] is None and expect[4][0] is None

    src = str(tmp_path / "enrich_src")
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out_s = stream_ops.stream_fuzzy_enrich(stream, right, mapping, **kw)
    assert out_s.isStreaming
    q = (
        out_s.writeStream.format("memory")
        .queryName("banded_enrich_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["id"]: (r["name_matched"], r[mapping.output_column_name])
        for r in spark.sql("select * from banded_enrich_sink").collect()
    }
    assert got == expect


def test_banded_tier_plan_shape(spark, monkeypatch):
    """VERDICT r4 #9 (stretch): the scale path — pair volume past
    SKETCH_SCAN_CAP — must route to the
    MinHash banded bucket join: hash equi-joins only (no cartesian, no
    nested loop), per-key output bounded by top_n. Caps are
    monkeypatched down so a test-size shape exercises the REAL tier
    selection in approx_scored_pairs."""
    from pl_fuzzy_frame_match_spark import FuzzyMapping, fuzzy_match_dfs
    from pl_fuzzy_frame_match_spark.operators import candidates
    from pl_fuzzy_frame_match_spark.plans.audit import audit

    monkeypatch.setattr(candidates, "ANN_CATALYST_CAP", 1e4)
    monkeypatch.setattr(candidates, "SKETCH_SCAN_CAP", 1e5)

    # DIVERSE keys (md5-derived): sequential TPC-H names are a
    # degenerate shingle family, which since round 6 auto-routes to
    # the blocked sketch scan (test_round6_ops) — the banded plan
    # shape under test here only serves diverse keys.
    cust = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).selectExpr("c_custkey", "md5(CAST(c_custkey AS STRING)) AS c_name")
    reps = spark.range(7).select(F.col("id").alias("__r"))
    left = cust.crossJoin(F.broadcast(reps)).select(
        "c_custkey",
        F.concat_ws(" ", "c_name", F.col("__r").cast("string")).alias(
            "name"
        ),
    )
    right = cust.select(
        F.col("c_custkey").alias("r_key"),
        F.concat_ws(" ", "c_name", F.lit("3")).alias("rname"),
    )
    # threshold 80 on ~20-char keys -> edit cap ~4: O9-ineligible
    out = fuzzy_match_dfs(
        left,
        right,
        [FuzzyMapping("name", "rname", threshold_score=80.0)],
        use_appr_nearest_neighbor=True,
    )
    a = audit(out)
    assert a.cartesian_products == 0, a.plan
    assert a.nested_loop_joins == 0, a.plan
    # the band-bucket join is a hash join
    assert a.broadcast_hash_joins + a.sort_merge_joins >= 1, a.plan
    n = out.count()
    assert n > 0
    # per-left-key candidate budget honored (top_n default)
    per_key = (
        out.groupBy("name").count().agg(F.max("count")).collect()[0][0]
    )
    from pl_fuzzy_frame_match_spark.operators.candidates import (
        DEFAULT_TOP_N,
    )
    assert per_key <= DEFAULT_TOP_N


def test_png_codec_roundtrip_all_filters_and_types():
    """Pure-Python PNG codec goldens: encode with every filter type
    and color type, decode back to bit-exact pixels — no Pillow."""
    import numpy as np

    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        png_decode_pixels,
        png_encode_pixels,
    )

    rng = [(5, 4, 3, 2), (7, 6, 1, 0), (3, 2, 4, 6), (1, 1, 1, 0),
           (2, 9, 3, 2)]
    for h, w, nch, ct in rng:
        px = (
            (np.arange(h * w * nch, dtype=np.int64) * 37 + 11) % 256
        ).astype(np.uint8).reshape(h, w, nch)
        for filters in (None, [0] * h, [1] * h, [2] * h, [3] * h,
                        [4] * h, [(i * 3 + 1) % 5 for i in range(h)]):
            data = png_encode_pixels(px, ct, filters)
            dec = png_decode_pixels(data)
            assert dec is not None, (h, w, nch, ct, filters)
            dh, dw, dc, out = dec
            assert (dh, dw, dc) == (h, w, nch)
            assert (out == px).all(), (ct, filters)


def test_png_decode_palette_and_garbage():
    """Palette (color type 3) expands through PLTE to RGB; corrupt or
    non-PNG payloads return None (row survives with null stats)."""
    import struct
    import zlib

    import numpy as np

    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        _PNG_SIG,
        png_decode_pixels,
    )

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    # 2x2 palette image: indices [[0,1],[1,0]], 2-entry palette
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 0, 255])  # red, blue
    raw = bytes([0, 0, 1, 0, 1, 0])  # filter 0 + indices per row
    data = (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    h, w, c, px = png_decode_pixels(data)
    assert (h, w, c) == (2, 2, 3)
    assert (px == np.array(
        [[[255, 0, 0], [0, 0, 255]], [[0, 0, 255], [255, 0, 0]]],
        dtype=np.uint8,
    )).all()

    assert png_decode_pixels(b"") is None
    assert png_decode_pixels(b"GIF89a\x01\x00") is None
    assert png_decode_pixels(data[:40]) is None  # truncated
    # interlaced flag -> unsupported -> None, never an exception
    bad_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 1)
    bad = (
        _PNG_SIG + chunk(b"IHDR", bad_ihdr) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    assert png_decode_pixels(bad) is None


def test_decode_image_png_native_without_pil(spark):
    """decode_image handles PNG payloads with NO imaging library —
    the r4 'pixel decode is environment-limited' gap is closed for
    the one format the engine can fully own with the stdlib."""
    import numpy as np

    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        decode_image,
        png_encode_pixels,
    )

    px = (np.arange(6 * 5 * 3) % 256).astype(np.uint8).reshape(6, 5, 3)
    rows = [
        (1, bytearray(png_encode_pixels(px, 2, [0, 1, 2, 3, 4, 0]))),
        (2, bytearray(png_encode_pixels(px[:2, :, :1], 0, None))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (r["width"], r["height"], r["channels"])
        for r in decode_image(df, fake=False).collect()
    }
    assert got == {1: (5, 6, 3), 2: (5, 2, 1)}


def test_wav_codec_roundtrip_and_garbage():
    """WAV PCM16 codec goldens: bit-exact sample round-trip across
    rates/channel counts; odd-length chunk alignment honored; non-WAV
    and compressed payloads return None."""
    import struct

    import numpy as np

    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        wav_decode_samples,
        wav_encode_pcm16,
    )

    for nf, ch, rate in [(1, 1, 8000), (20, 2, 16000), (33, 1, 44100)]:
        arr = (
            (np.arange(nf * ch, dtype=np.int64) * 997 + 13) % 4001 - 2000
        ).astype("<i2").reshape(nf, ch)
        r, c, n, out = wav_decode_samples(wav_encode_pcm16(arr, rate))
        assert (r, c, n) == (rate, ch, nf)
        assert (out == arr).all()

    assert wav_decode_samples(b"") is None
    assert wav_decode_samples(b"RIFFxxxxWAVE") is None
    # a float-format (non-PCM) wav must be rejected, not misread
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
    bad = b"RIFF" + struct.pack("<I", len(body)) + body
    assert wav_decode_samples(bad) is None
    # an extra odd-length chunk before data must not break the walk
    arr = np.array([[100], [-100]], dtype="<i2")
    good = wav_encode_pcm16(arr, 8000)
    # splice a 3-byte LIST chunk after WAVE
    spliced = (good[:12] + b"LIST" + struct.pack("<I", 3) + b"abc\x00"
               + good[12:])
    spliced = spliced[:4] + struct.pack(
        "<I", len(spliced) - 8) + spliced[8:]
    r, c, n, out = wav_decode_samples(spliced)
    assert (r, c, n) == (8000, 1, 2) and (out == arr).all()


def test_gif_codec_roundtrip_and_walk():
    """GIF LZW codec goldens: bit-exact index round-trip across
    palette sizes (dictionary growth through multiple code widths),
    extension-block skipping, garbage rejection, interlace refusal."""
    import numpy as np

    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        gif_decode_pixels,
        gif_encode_pixels,
    )

    for psize in (2, 4, 16, 64, 256):
        pal = (
            (np.arange(psize * 3, dtype=np.int64) * 37 + 5) % 256
        ).astype(np.uint8).reshape(psize, 3)
        idx = (
            (np.arange(29 * 17, dtype=np.int64) * 7 + 3) % psize
        ).astype(np.uint8).reshape(29, 17)
        for loop in (False, True):
            h, w, c, px = gif_decode_pixels(
                gif_encode_pixels(idx, pal, loop)
            )
            assert (h, w, c) == (29, 17, 3)
            assert (px == pal[idx]).all()

    assert gif_decode_pixels(b"") is None
    assert gif_decode_pixels(b"GIF89a") is None
    assert gif_decode_pixels(b"\x89PNG\r\n\x1a\n") is None
    # interlace flag in the image descriptor -> refused, not garbled
    pal = np.zeros((2, 3), dtype=np.uint8)
    idx = np.zeros((2, 2), dtype=np.uint8)
    data = bytearray(gif_encode_pixels(idx, pal))
    desc = data.index(b"\x2c")
    data[desc + 9] |= 0x40
    assert gif_decode_pixels(bytes(data)) is None


@pytest.mark.parametrize("fmt", ["png", "gif"])
def test_decode_image_native_formats(spark, fmt):
    """decode_image handles PNG and GIF natively (no Pillow)."""
    import numpy as np

    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        decode_image,
        gif_encode_pixels,
        png_encode_pixels,
    )

    if fmt == "png":
        px = (np.arange(4 * 3 * 3) % 256).astype(np.uint8).reshape(4, 3, 3)
        payload = png_encode_pixels(px, 2, [0, 1, 2, 3])
        want = (3, 4, 3)
    else:
        pal = (np.arange(8 * 3) % 256).astype(np.uint8).reshape(8, 3)
        idx = (np.arange(4 * 3) % 8).astype(np.uint8).reshape(4, 3)
        payload = gif_encode_pixels(idx, pal)
        want = (3, 4, 3)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    r = decode_image(df, fake=False).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == want


def test_exact_cap2_matches_bruteforce(spark):
    """A forced-exact join whose threshold admits at most 2 edits must
    be LOSSLESS: output row- and score-identical to the brute-force
    python model over random mutated strings, planned without a
    cartesian or a BNLJ (the fused scan broadcasts the smaller key
    side into a mapInPandas pass)."""
    import random

    from pl_fuzzy_frame_match_spark import FuzzyMapping, fuzzy_match_dfs
    from pl_fuzzy_frame_match_spark.functions.py_kernels import (
        NORMALIZED_DISTANCE,
    )
    from pl_fuzzy_frame_match_spark.plans.audit import audit

    random.seed(11)
    alpha = "abcdef"
    base = ["".join(random.choice(alpha) for _ in range(12))
            for _ in range(120)]

    def mutate(s, k):
        s = list(s)
        for _ in range(k):
            op = random.choice("sid")
            i = random.randrange(len(s))
            if op == "s":
                s[i] = random.choice(alpha)
            elif op == "i":
                s.insert(i, random.choice(alpha))
            elif len(s) > 1:
                del s[i]
        return "".join(s)

    lvals = base + [mutate(b, 1) for b in base] + [mutate(b, 2) for b in base]
    rvals = base + [mutate(b, 2) for b in base[:60]]
    left = spark.createDataFrame(
        [(i, v) for i, v in enumerate(lvals)], "lid long, lname string"
    )
    right = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rvals)], "rid long, rname string"
    )
    # maxlen ~14 -> floor(0.15 * 14) = 2 edits at most
    out = fuzzy_match_dfs(
        left, right,
        [FuzzyMapping("lname", "rname", threshold_score=85.0)],
        use_appr_nearest_neighbor=False,
    )
    a = audit(out)
    assert a.cartesian_products == 0, a.plan
    assert a.nested_loop_joins == 0, a.plan
    score_col = out.columns[-1]
    got = {(r["lid"], r["rid"], round(r[score_col], 9))
           for r in out.collect()}
    dist = NORMALIZED_DISTANCE["levenshtein"]
    bound = 1 - 0.85
    want = set()
    for i, x in enumerate(lvals):
        for j, y in enumerate(rvals):
            d = dist(x.lower(), y.lower())
            if d <= bound + 1e-12:
                want.add((i, j, round(1.0 - d, 9)))
    assert got == want
    assert len(got) > 300  # mutated pairs really land within cap 2


def test_semantic_kmeans_quality(spark):
    """Quality gates for the k-means|| SemDeDup variant (no SQL
    oracle): deterministic with a pinned seed, pairs are a SUBSET of
    brute-force cosine pairs, and the better-balanced clustering must
    not recall FEWER true pairs than the first-k-centroid variant."""
    from pyspark.sql import functions as F2

    from pl_fuzzy_frame_match_spark.operators.dedup import (
        embedding_dedup_pairs,
        semantic_dedup_pairs,
        semantic_dedup_pairs_kmeans,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).where(F2.col("vec_id").isNotNull())
    kw = dict(threshold=0.4, n_clusters=4)
    r1 = sorted(
        (r["left_id"], r["right_id"], r["cosine_sim"])
        for r in semantic_dedup_pairs_kmeans(
            emb, "embedding", "vec_id", **kw
        ).collect()
    )
    r2 = sorted(
        (r["left_id"], r["right_id"], r["cosine_sim"])
        for r in semantic_dedup_pairs_kmeans(
            emb, "embedding", "vec_id", **kw
        ).collect()
    )
    assert r1 == r2  # pinned seed -> deterministic
    brute = {
        (r["left_id"], r["right_id"])
        for r in embedding_dedup_pairs(
            emb, "embedding", "vec_id", threshold=0.4, n_blocks=1
        ).collect()
    }
    got = {(a, b) for a, b, _ in r1}
    assert got <= brute
    firstk = {
        (r["left_id"], r["right_id"])
        for r in semantic_dedup_pairs(
            emb, "embedding", "vec_id", **kw
        ).collect()
    }
    assert len(got) >= len(firstk)


def test_decode_image_corrupt_raster_yields_null_row(spark):
    """Review r5: a payload whose magic says PNG/GIF but whose body is
    corrupt must emit a null-metadata row — never kill the stage —
    even without Pillow; dims for valid payloads come from the header
    parse and match the full decoders."""
    import numpy as np

    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        _PNG_SIG,
        decode_image,
        png_encode_pixels,
    )

    good = png_encode_pixels(
        (np.arange(12) % 256).astype(np.uint8).reshape(2, 2, 3), 2, None
    )
    rows = [
        (1, bytearray(good)),
        (2, bytearray(_PNG_SIG + b"\x00\x01garbage")),  # corrupt PNG
        (3, bytearray(b"GIF89a\x00")),                  # truncated GIF
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (r["width"], r["height"], r["channels"])
        for r in decode_image(df, fake=False).collect()
    }
    assert got[1] == (2, 2, 3)
    assert got[2] == (None, None, None)
    assert got[3] == (None, None, None)


def test_cluster_assign_drops_null_embedding_rows(spark):
    """Review r5: the executor-side GEMM must never see a null
    embedding (it would crash the batch); null-embedding / null-id
    rows are dropped from the assignment, and the pair search still
    succeeds on the survivors."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    from pl_fuzzy_frame_match_spark.operators.dedup import (
        semantic_cluster_assign,
        semantic_dedup_pairs,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    rows = [
        (None, [1.0, 0.0]),   # null id: not a centroid, not assigned
        (1, None),            # null embedding: dropped
        (2, [1.0, 0.0]),
        (3, [0.0, 1.0]),
        (4, [0.02, 0.99]),    # co-clusters with 3, cosine ~0.9998
    ]
    df = spark.createDataFrame(rows, schema)
    got = {
        r["vec_id"]: r["cluster"]
        for r in semantic_cluster_assign(df, "embedding", "vec_id", 2).collect()
    }
    assert set(got) == {2, 3, 4}
    pairs = semantic_dedup_pairs(
        df, "embedding", "vec_id", threshold=0.9, n_clusters=2
    ).collect()
    assert {(r["left_id"], r["right_id"]) for r in pairs} == {(3, 4)}


def test_leakage_safe_split_no_cross_boundary_pairs(spark):
    """The decontamination invariant: ZERO near-dup pairs straddle the
    train/test boundary, every doc is assigned exactly once, and the
    routing is reproducible across calls."""
    from pl_fuzzy_frame_match_spark.operators.dedup import (
        leakage_safe_split,
        prefix_filter_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = leakage_safe_split(
        docs, "text", "doc_id", test_rate=0.3, threshold=0.2
    ).select("doc_id", "component", "split")
    n_docs = docs.filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    ).count()
    assert out.count() == n_docs
    # both sides populated at this rate/corpus
    splits = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(splits) == {"train", "test"}
    # the invariant: no near-dup pair crosses the boundary
    pairs = prefix_filter_jaccard_pairs(
        docs.filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull()),
        "text", "doc_id", 0.2, 2,
    ).select("left_id", "right_id")
    la = out.select(F.col("doc_id").alias("left_id"),
                    F.col("split").alias("lsplit"))
    rb = out.select(F.col("doc_id").alias("right_id"),
                    F.col("split").alias("rsplit"))
    crossing = (
        pairs.join(la, on="left_id").join(rb, on="right_id")
        .filter(F.col("lsplit") != F.col("rsplit"))
        .count()
    )
    assert crossing == 0
    # deterministic: a second call routes identically
    again = leakage_safe_split(
        docs, "text", "doc_id", test_rate=0.3, threshold=0.2
    ).select("doc_id", "split")
    diff = (
        out.select("doc_id", "split")
        .join(again.withColumnRenamed("split", "s2"), on="doc_id")
        .filter(F.col("split") != F.col("s2"))
        .count()
    )
    assert diff == 0


def test_temperature_resample_flattens_mixture(spark):
    """alpha=0.5 downsamples the dominant language toward its target
    share and clamps rare languages at rate 1.0 (kept in full); the
    realized mixture is deterministic."""
    from pl_fuzzy_frame_match_spark.functions.sampling import (
        temperature_resample,
    )
    from pl_fuzzy_frame_match_spark.functions.text import token_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter(
        F.col("doc_id").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("text").isNotNull()
    )
    natural = {
        r["lang"]: r["t"]
        for r in base.groupBy("lang")
        .agg(F.sum(token_count(F.col("text"))).alias("t"))
        .collect()
    }
    tot = sum(natural.values())
    kept = temperature_resample(base, "lang", "doc_id", "text", alpha=0.5)
    realized = {
        r["lang"]: (r["t"], r["rate"], r["n"])
        for r in kept.groupBy("lang")
        .agg(
            F.sum(token_count(F.col("text"))).alias("t"),
            F.first("resample_rate").alias("rate"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    ktot = sum(t for t, _, _ in realized.values())
    dom = max(natural, key=natural.get)
    rare = min(natural, key=natural.get)
    # dominant language's share shrinks toward the temperature target
    assert realized[dom][0] / ktot < natural[dom] / tot
    assert realized[dom][1] < 1.0
    # rare language clamps at 1.0 and keeps every row
    n_rare = base.filter(F.col("lang") == rare).count()
    assert realized[rare][1] == 1.0
    assert realized[rare][2] == n_rare
    # deterministic across calls
    again = {
        r["lang"]: r["n"]
        for r in temperature_resample(
            base, "lang", "doc_id", "text", alpha=0.5
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert again == {k: n for k, (_, _, n) in realized.items()}


def test_shard_routing_total_and_layout_proof(spark):
    """Every doc lands on exactly one of the 16 shards; the routing is
    a pure function of doc_id (identical under a different partition
    layout); shard and order draws are domain-separated."""
    from pl_fuzzy_frame_match_spark.functions.sampling import shard_of

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id").isNotNull())
    n = docs.count()
    a = docs.select(
        "doc_id", shard_of(F.col("doc_id"), 16).alias("s")
    )
    per = {r["s"]: r["n"] for r in
           a.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(per.values()) == n
    assert set(per) <= set(range(16))
    assert len(per) == 16  # 500 docs: all shards populated whp
    # partition-layout-proof: same assignment after a repartition
    b = docs.repartition(7).select(
        "doc_id", shard_of(F.col("doc_id"), 16).alias("s2")
    )
    diff = (
        a.join(b, on="doc_id")
        .filter(F.col("s") != F.col("s2"))
        .count()
    )
    assert diff == 0


def test_temperature_resample_plan_shape(spark):
    """The mixture application must stay scan-shaped: the per-language
    rate table joins via BROADCAST (never a corpus shuffle on lang)
    and the whole plan has no nested-loop join; the only real
    exchanges belong to the tiny rate-derivation aggregates."""
    from pl_fuzzy_frame_match_spark.functions.sampling import (
        temperature_resample,
    )
    from pl_fuzzy_frame_match_spark.plans.audit import audit

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = temperature_resample(docs, "lang", "doc_id", "text")
    a = audit(out)
    assert a.cartesian_products == 0, a.plan
    # the only nested-loop joins are the deliberate 1-row-total
    # broadcast crosses in the rate derivation (same shape as
    # docs_lm_perplexity); the CORPUS joins the rate table hash-wise
    assert a.nested_loop_joins <= 3, a.plan
    assert "BroadcastHashJoin [lang" in a.plan, a.plan


def test_train_shards_query_plan_and_totals(spark):
    """Shard routing is one shuffle (the per-shard window == the
    physical layout the shard writer uses) + the map-side-combined
    aggregate; totals reconcile with the corpus."""
    from pl_fuzzy_frame_match_spark import queries as q
    from pl_fuzzy_frame_match_spark.plans.audit import (
        assert_no_nested_loop,
        assert_max_shuffles,
    )

    out = q.queries()["docs_train_shards"](
        spark, "/root/testdata/sf0.001"
    )
    assert_no_nested_loop(out)
    assert_max_shuffles(out, 2)  # window on shard + final groupBy
    rows = out.collect()
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id").isNotNull())
    assert sum(r["n_docs"] for r in rows) == docs.count()
    # round 6: shard count comes from the cluster-shape advisory, not
    # the literal 16 — shards must lie in range and mostly populate
    # (at 500 docs over N shards a few empties are expected)
    from pl_fuzzy_frame_match_spark.queries import _TRAIN_SHARD_COUNT

    shards = {r["shard"] for r in rows}
    assert shards <= set(range(_TRAIN_SHARD_COUNT))
    assert len(shards) >= min(_TRAIN_SHARD_COUNT, 16) // 2


def test_stream_temperature_resample_matches_batch(spark, tmp_path):
    """Batch/stream equivalence of the mixture application: the rate
    table planned on the snapshot, applied to a file-source stream,
    keeps the IDENTICAL row set the batch path keeps."""
    from pl_fuzzy_frame_match_spark.functions.sampling import (
        temperature_rates,
        temperature_resample,
    )
    from pl_fuzzy_frame_match_spark.streaming.stream_ops import (
        stream_temperature_resample,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(
        F.col("doc_id").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("text").isNotNull()
    )
    batch_kept = {
        r["doc_id"]
        for r in temperature_resample(docs, "lang", "doc_id", "text")
        .select("doc_id")
        .collect()
    }
    rates = temperature_rates(docs, "lang", "text").localCheckpoint()
    src = str(tmp_path / "docs_stream")
    docs.write.parquet(src)
    out = stream_temperature_resample(
        spark, src, spark.read.parquet(src).schema, rates
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_resample")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM t_resample").collect()
    }
    assert streamed == batch_kept and len(batch_kept) > 0


def test_stream_shard_router_matches_batch(spark, tmp_path):
    """Streaming shard assignment is identical to the batch writer's."""
    from pl_fuzzy_frame_match_spark.functions.sampling import shard_of
    from pl_fuzzy_frame_match_spark.streaming.stream_ops import (
        stream_shard_router,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id").isNotNull())
    batch = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", shard_of(F.col("doc_id"), 16).alias("s")
        ).collect()
    }
    src = str(tmp_path / "docs_shard_stream")
    docs.write.parquet(src)
    out = stream_shard_router(
        spark, src, spark.read.parquet(src).schema
    ).select("doc_id", "shard")
    q = (
        out.writeStream.format("memory")
        .queryName("t_shards")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]: r["shard"]
        for r in spark.sql("SELECT * FROM t_shards").collect()
    }
    assert streamed == batch


def test_embedding_decontaminate_removes_bench_near_dups(spark):
    """A corpus vector identical (or near-identical) to a benchmark
    vector must be removed; kept + flagged partitions the corpus."""
    from pl_fuzzy_frame_match_spark.operators.dedup import (
        embedding_contamination_hits,
        embedding_decontaminate,
    )

    bench = spark.createDataFrame(
        [(1000, [1.0, 0.0, 0.0, 0.0]), (1001, [0.0, 1.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),      # exact benchmark copy
            (2, [0.95, 0.3122, 0.0, 0.0]),  # near bench 1000
            (3, [0.0, 0.0, 1.0, 0.0]),      # orthogonal: clean
            (4, [0.0, 0.0, 0.0, -1.0]),     # clean
        ],
        ["vec_id", "embedding"],
    )
    hits = {
        r["vec_id"]: r["bench_sim"]
        for r in embedding_contamination_hits(
            corpus, bench, "embedding", "vec_id", threshold=0.9
        ).collect()
    }
    assert set(hits) == {1, 2}
    assert hits[1] == 1.0
    kept = embedding_decontaminate(
        corpus, bench, "embedding", "vec_id", threshold=0.9
    )
    assert {r["vec_id"] for r in kept.collect()} == {3, 4}


def test_leakage_split_banded_agreement(spark):
    """Quality gate for the banded (100 TB) decontamination split: its
    routing must agree with the oracle-checked exact split on >= 99%
    of documents, and both sides of the split stay populated."""
    from pl_fuzzy_frame_match_spark.operators.dedup import (
        leakage_safe_split,
        minhash_dedup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = leakage_safe_split(
        docs, "text", "doc_id", test_rate=0.2, threshold=0.2
    ).select("doc_id", "split")
    banded = leakage_safe_split(
        docs, "text", "doc_id", test_rate=0.2,
        pairs=minhash_dedup_pairs(
            docs, "text", "doc_id", jaccard_distance=0.8
        ),
    ).select("doc_id", F.col("split").alias("bsplit"))
    j = exact.join(banded, on="doc_id").localCheckpoint()
    n = j.count()
    agree = j.filter(F.col("split") == F.col("bsplit")).count()
    assert n > 0 and agree / n >= 0.99, (agree, n)
    sides = {r["bsplit"] for r in j.select("bsplit").distinct().collect()}
    assert sides == {"train", "test"}


def test_shard_of_matches_duckdb_on_hostile_keys(spark):
    """Engine-portability property for shard routing: Spark and DuckDB
    agree on every shard assignment for hostile keys (negatives, zero,
    int64 extremes) and several shard counts."""
    import duckdb

    keys = [0, 1, -1, 7, -42, 2**62, -(2**62), 999999999999, -13]
    from pl_fuzzy_frame_match_spark.functions.sampling import (
        shard_of,
        shard_sql,
    )

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    con = duckdb.connect()
    for n in (2, 16, 64, 1000):
        got = {
            r["k"]: r["s"]
            for r in df.select("k", shard_of(F.col("k"), n).alias("s"))
            .collect()
        }
        expr = shard_sql("k", n)
        want = {
            k: con.sql(f"SELECT {expr} FROM (SELECT {k} AS k)").fetchone()[0]
            for k in keys
        }
        assert got == want, (n, got, want)
        assert all(0 <= s < n for s in got.values())
