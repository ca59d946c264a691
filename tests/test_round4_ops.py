"""Round-4 regression tests: O3 input-dedup vs join-mode contracts,
stream_fuzzy_enrich size guard, cluster_conf sizing, validate/multimodal
edge cases."""

import pytest
from pyspark.sql import functions as F


def test_o3_dedup_preserves_left_multiplicity_non_inner(spark):
    """ADVICE r3 (matcher.py:508): when the O3 low-uniqueness rewrite
    fires (uniqueness < 1.2, cartesian > 1e6), left/semi/anti must still
    honour SQL multiplicity: every left row survives, including rows
    that share a join key. Before the fix the left-side dropDuplicates
    collapsed 500 copies of each key to one."""
    from pl_fuzzy_frame_match_spark import FuzzyMapping, fuzzy_match_dfs
    from pl_fuzzy_frame_match_spark.plans.planner import (
        should_deduplicate_inputs,
    )

    names = ["alpha", "beta", "gamma", "delta"]
    left = spark.createDataFrame(
        [(i, names[i % 4]) for i in range(2000)], ["lid", "name"]
    )
    labels = ["alpha", "beta", "zzzzz"]
    right = spark.createDataFrame(
        [(100000 + j, labels[j % 3]) for j in range(600)], ["rid", "label"]
    )
    maps = [FuzzyMapping("name", "label", threshold_score=90.0)]

    # sanity: this shape actually fires the O3 trigger
    probe = [maps[0].copy_with(perc_unique=(4 / 2000 + 3 / 600))]
    assert should_deduplicate_inputs(probe, 2000, 600)

    semi = fuzzy_match_dfs(left, right, maps, how="left_semi")
    assert semi.count() == 1000  # 500 alphas + 500 betas, all preserved
    anti = fuzzy_match_dfs(left, right, maps, how="left_anti")
    assert anti.count() == 1000  # 500 gammas + 500 deltas
    # left join: matched rows fan out over the 200 matching right rows
    # each, unmatched rows appear exactly once with null right payload
    lj = fuzzy_match_dfs(left, right, maps, how="left")
    agg = lj.agg(
        F.count("*").alias("n"),
        F.count_if(F.col("rid").isNull()).alias("nulls"),
        F.countDistinct("lid").alias("lids"),
    ).collect()[0]
    assert agg["n"] == 1000 * 200 + 1000
    assert agg["nulls"] == 1000
    assert agg["lids"] == 2000

    # inner keeps the reference's O3 contract: inputs deduped on keys
    inner = fuzzy_match_dfs(left, right, maps).collect()
    assert len(inner) == 2
    assert {(r["name"], r["label"]) for r in inner} == {
        ("alpha", "alpha"),
        ("beta", "beta"),
    }


def test_cluster_conf_shuffle_partitions_respect_block_limit():
    """ADVICE r3 (session.py): at the stated 100 TB / 8000-core target,
    shuffle partitions must be sized by the data term (input/target),
    not cores*2, or shuffle partitions blow past the 2 GB block limit."""
    from pl_fuzzy_frame_match_spark.session import cluster_conf

    conf = cluster_conf()  # 1000 executors x 8 cores, 100 TB, 256 MB
    parts = int(conf["spark.sql.shuffle.partitions"])
    per_partition_mb = 100.0 * 1024 * 1024 / parts
    assert per_partition_mb <= 256 + 1
    assert parts == max(16000, 409600)
    # small-input cluster: cores term dominates
    small = cluster_conf(executors=10, cores_per_executor=4, input_tb=0.01)
    assert int(small["spark.sql.shuffle.partitions"]) == 80


def test_jpeg_dimensions_fill_bytes_and_standalone_markers(spark):
    """ADVICE r3 (multimodal.py): valid JPEGs may pad 0xFF fill bytes
    between segments and emit length-less standalone markers (TEM 0x01,
    RST0-7); the marker walk must skip both, not misparse them as
    segments with bogus lengths."""
    import struct

    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        jpeg_dimensions,
    )

    soi = b"\xff\xd8"
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", 600, 800)
        + b"\x01" + bytes(3)
    )
    eoi = b"\xff\xd9"
    padded = soi + app0 + b"\xff\xff\xff" + sof0 + eoi  # fill bytes
    standalone = soi + b"\xff\x01" + b"\xff\xd0" + app0 + sof0 + eoi
    df = spark.createDataFrame(
        [(1, bytearray(padded)), (2, bytearray(standalone))],
        "id long, payload binary",
    )
    rows = {
        r["id"]: (r["jpeg_width"], r["jpeg_height"])
        for r in jpeg_dimensions(df).collect()
    }
    assert rows[1] == (800, 600)
    assert rows[2] == (800, 600)


def test_constraint_violation_counts_empty_constraints(spark):
    """ADVICE r3 (validate.py): empty constraints dict returns an empty
    audit frame instead of raising at schema inference."""
    from pl_fuzzy_frame_match_spark.functions.validate import (
        constraint_violation_counts,
    )

    df = spark.range(5)
    out = constraint_violation_counts(df, {})
    assert out.count() == 0
    assert out.columns == [
        "constraint", "n_violations", "n_rows", "violation_frac"
    ]


def test_stream_fuzzy_enrich_static_side_guard(spark, monkeypatch):
    """VERDICT r3 #2: a static side past BROADCAST_KEY_LIMIT must raise
    with a pointer to the index-probe fallback, never silently collect
    to the driver."""
    from pl_fuzzy_frame_match_spark import FuzzyMapping
    from pl_fuzzy_frame_match_spark.streaming import stream_ops

    monkeypatch.setattr(
        "pl_fuzzy_frame_match_spark.operators.candidates"
        ".BROADCAST_KEY_LIMIT",
        10,
    )
    left = spark.createDataFrame([(1, "alpha")], ["id", "name"])
    right = spark.createDataFrame(
        [(i, f"key_{i}") for i in range(50)], ["rid", "label"]
    )
    mapping = FuzzyMapping("name", "label", threshold_score=70.0)
    with pytest.raises(ValueError, match="BROADCAST_KEY_LIMIT"):
        stream_ops.stream_fuzzy_enrich(left, right, mapping)


def _webp_vp8x(w, h):
    chunk = b"VP8X" + (10).to_bytes(4, "little") + bytes(4)
    chunk += (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _webp_vp8(w, h):
    frame = bytes(3) + b"\x9d\x01\x2a"
    frame += (w & 0x3FFF).to_bytes(2, "little")
    frame += (h & 0x3FFF).to_bytes(2, "little")
    chunk = b"VP8 " + len(frame).to_bytes(4, "little") + frame
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _webp_vp8l(w, h):
    bits = (w - 1) | ((h - 1) << 14)
    stream = b"\x2f" + bits.to_bytes(4, "little")
    chunk = b"VP8L" + len(stream).to_bytes(4, "little") + stream
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def test_gif_webp_dimensions_catalyst(spark):
    """Handcrafted-byte goldens for the pure-Catalyst GIF and WebP
    (VP8X / lossy VP8 / lossless VP8L) header parsers."""
    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        gif_dimensions,
        webp_dimensions,
    )

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + bytes(10)
    gif87 = b"GIF87a" + (12).to_bytes(2, "little") + (8).to_bytes(2, "little") + bytes(4)
    rows = [
        (1, bytearray(gif)),
        (2, bytearray(gif87)),
        (3, bytearray(_webp_vp8x(1920, 1080))),
        (4, bytearray(_webp_vp8(640, 480))),
        (5, bytearray(_webp_vp8l(16383, 300))),
        (6, bytearray(b"RIFF\x00\x00\x00\x00WAVEdata")),  # RIFF, not WebP
        (7, bytearray(b"\x89PNG\r\n\x1a\n" + bytes(20))),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {
        r["id"]: (
            r["gif_width"], r["gif_height"],
            r["webp_width"], r["webp_height"],
        )
        for r in df.select(
            "id",
            *gif_dimensions(F.col("payload")),
            *webp_dimensions(F.col("payload")),
        ).collect()
    }
    assert out[1] == (320, 200, None, None)
    assert out[2] == (12, 8, None, None)
    assert out[3] == (None, None, 1920, 1080)
    assert out[4] == (None, None, 640, 480)
    assert out[5] == (None, None, 16383, 300)
    assert out[6] == (None, None, None, None)
    assert out[7] == (None, None, None, None)
    assert out[8] == (None, None, None, None)


def _jpeg_with_exif(orientation, big_endian=False, extra_ffs=b""):
    import struct

    if big_endian:
        tiff = b"MM" + struct.pack(">HI", 42, 8)
        ifd = struct.pack(">H", 2)
        ifd += struct.pack(">HHIHH", 0x011A, 3, 1, 72, 0)  # XResolution-ish
        ifd += struct.pack(">HHIHH", 0x0112, 3, 1, orientation, 0)
        ifd += struct.pack(">I", 0)
    else:
        tiff = b"II" + struct.pack("<HI", 42, 8)
        ifd = struct.pack("<H", 2)
        ifd += struct.pack("<HHIHH", 0x011A, 3, 1, 72, 0)
        ifd += struct.pack("<HHIHH", 0x0112, 3, 1, orientation, 0)
        ifd += struct.pack("<I", 0)
    exif = b"Exif\x00\x00" + tiff + ifd
    app1 = b"\xff\xe1" + (len(exif) + 2).to_bytes(2, "big") + exif
    sof0 = b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08" + bytes(6)
    return b"\xff\xd8" + extra_ffs + app1 + sof0 + b"\xff\xd9"


def test_jpeg_exif_orientation(spark):
    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        jpeg_exif_orientation,
    )

    rows = [
        (1, bytearray(_jpeg_with_exif(6))),                      # II
        (2, bytearray(_jpeg_with_exif(8, big_endian=True))),     # MM
        (3, bytearray(_jpeg_with_exif(3, extra_ffs=b"\xff\xff"))),  # fill bytes... invalid here, skip
        (4, bytearray(b"\xff\xd8\xff\xc0\x00\x0b\x08" + bytes(6) + b"\xff\xd9")),  # no APP1
        (5, bytearray(b"not a jpeg")),
        (6, None),
    ]
    # row 3: fill bytes directly after SOI are not preceded by a marker
    # segment; the walker treats leading 0xFFs as padding before the
    # next marker, so the APP1 must still be found
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {
        r["id"]: r["exif_orientation"]
        for r in jpeg_exif_orientation(df).collect()
    }
    assert out[1] == 6
    assert out[2] == 8
    assert out[3] == 3
    assert out[4] is None
    assert out[5] is None
    assert out[6] is None


def test_forced_exact_probe_plan_shape(spark):
    """VERDICT r3 #7: the forced-exact plan at a scale-probe shape
    (one-edit neighbours, templated keys) must have no cartesian and
    no nested-loop join: the fused scan scores the key pairs in a
    mapInPandas pass against the broadcast smaller key side, and the
    survivors re-attach their rows through hash joins. Asserted on the
    physical plan."""
    from pl_fuzzy_frame_match_spark import FuzzyMapping, fuzzy_match_dfs
    from pl_fuzzy_frame_match_spark.plans.audit import audit

    cust = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).select("c_custkey", "c_name")
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
    out = fuzzy_match_dfs(
        left,
        right,
        [FuzzyMapping("name", "rname", threshold_score=92.0)],
        use_appr_nearest_neighbor=False,
    )
    a = audit(out)
    assert a.cartesian_products == 0, a.plan
    assert a.nested_loop_joins == 0, a.plan
    # the index-list re-attach joins are hash joins (broadcast or
    # shuffled)
    assert a.broadcast_hash_joins + a.sort_merge_joins >= 1, a.plan
    # and it matches: every left row whose digits+suffix are within
    # one edit of a right key appears (rep suffix "3" matches all
    # single-digit reps at exactly one substitution)
    n = out.count()
    assert n > 0


def test_semantic_dedup_operators(spark):
    """SemDeDup: assignment routes to the max-cosine centroid
    (deterministic first-k centroids, ties to smaller id); pairs are
    exactly the brute-force cosine pairs RESTRICTED to co-clustered
    rows (subset + within-cluster completeness); the keep set labels
    min-id representatives."""
    from pl_fuzzy_frame_match_spark.operators.dedup import (
        embedding_dedup_pairs,
        semantic_cluster_assign,
        semantic_dedup_keep,
        semantic_dedup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),     # centroid A
        (2, [0.0, 1.0, 0.0]),     # centroid B
        (3, [0.99, 0.1, 0.0]),    # near A
        (4, [0.1, 0.99, 0.0]),    # near B
        (5, [0.98, 0.12, 0.0]),   # near A (dup of 3)
        (6, [0.0, 0.0, 1.0]),     # orthogonal -> ties A/B at 0 -> A
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = {
        r["vec_id"]: r["cluster"]
        for r in semantic_cluster_assign(
            df, "embedding", "vec_id", n_clusters=2
        ).collect()
    }
    assert assigned == {1: 1, 2: 2, 3: 1, 4: 2, 5: 1, 6: 1}

    pairs = semantic_dedup_pairs(
        df, "embedding", "vec_id", threshold=0.9, n_clusters=2
    ).collect()
    got = {(r["left_id"], r["right_id"]) for r in pairs}
    brute = {
        (r["left_id"], r["right_id"])
        for r in embedding_dedup_pairs(
            df, "embedding", "vec_id", threshold=0.9, n_blocks=1
        ).collect()
    }
    assert got <= brute
    co = {(a, b) for a, b in brute if assigned[a] == assigned[b]}
    assert got == co
    assert (1, 3) in got and (3, 5) in got and (2, 4) in got

    keep = {
        r["vec_id"]: (r["component"], r["kept"])
        for r in semantic_dedup_keep(
            df, "embedding", "vec_id", threshold=0.9, n_clusters=2
        ).collect()
    }
    # {1,3,5} collapse to representative 1; {2,4} to 2; 6 is singleton
    assert keep[1] == (1, 1) and keep[3] == (1, 0) and keep[5] == (1, 0)
    assert keep[2] == (2, 1) and keep[4] == (2, 0)
    assert keep[6] == (6, 1)
