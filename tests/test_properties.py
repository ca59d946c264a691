"""Property-based tests (hypothesis) for the engine's pure-Python
layers: distance kernels (invariants + DuckDB cross-check), naming
collision resolution, threshold reversal. No SparkSession needed, so
these run in milliseconds and explore far more of the input space than
the golden fixtures."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pl_fuzzy_frame_match_spark.functions.py_kernels import (
    NORMALIZED_DISTANCE,
    damerau_levenshtein_norm,
    jaro_sim,
    jaro_winkler_sim,
    levenshtein_dist,
    levenshtein_norm,
)
from pl_fuzzy_frame_match_spark.models import FuzzyMapping
from pl_fuzzy_frame_match_spark.naming import (
    get_rename_right_columns_to_ensure_no_overlap,
)

text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=24
)
# DuckDB's distance functions operate on UTF-8 BYTES; Spark's builtin
# levenshtein and our kernels operate on CODEPOINTS. They agree exactly
# on ASCII, so cross-engine properties use an ASCII alphabet (and the
# driver's oracle tables are ASCII). The engine follows Spark
# semantics for non-ASCII input.
ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=24
)
SYMMETRIC = (
    "levenshtein",
    "damerau_levenshtein",
    "indel",
    "hamming",
    "jaro",
    "jaro_winkler",
)


@settings(max_examples=300, deadline=None)
@given(text, text)
def test_all_kernels_bounded_and_identity(a, b):
    for name, fn in NORMALIZED_DISTANCE.items():
        d = fn(a, b)
        assert 0.0 <= d <= 1.0, (name, a, b, d)
        assert fn(a, a) == 0.0, (name, a)


@settings(max_examples=300, deadline=None)
@given(text, text)
def test_kernels_symmetric(a, b):
    for name in SYMMETRIC:
        fn = NORMALIZED_DISTANCE[name]
        assert fn(a, b) == pytest.approx(fn(b, a), abs=1e-12), (name, a, b)


@settings(max_examples=200, deadline=None)
@given(ascii_text, ascii_text)
def test_levenshtein_matches_duckdb(a, b):
    ours = levenshtein_dist(a, b)
    theirs = duckdb.sql(
        "SELECT levenshtein(?, ?)", params=[a, b]
    ).fetchone()[0]
    assert ours == theirs, (a, b, ours, theirs)


@settings(max_examples=200, deadline=None)
@given(ascii_text, ascii_text)
def test_jaro_winkler_matches_duckdb(a, b):
    if a == "" and b == "":
        # engines disagree here: DuckDB returns 0.0 for two empties,
        # we (like the reference's kernels) hold d(s, s) == 0 for all
        # s, hence similarity 1.0. Identity wins; the oracle tables
        # contain no empty keys.
        return
    ours = jaro_winkler_sim(a, b)
    theirs = duckdb.sql(
        "SELECT jaro_winkler_similarity(?, ?)", params=[a, b]
    ).fetchone()[0]
    assert ours == pytest.approx(theirs, abs=1e-9), (a, b)
    ours_j = jaro_sim(a, b)
    theirs_j = duckdb.sql(
        "SELECT jaro_similarity(?, ?)", params=[a, b]
    ).fetchone()[0]
    assert ours_j == pytest.approx(theirs_j, abs=1e-9), (a, b)


@settings(max_examples=200, deadline=None)
@given(ascii_text, ascii_text)
def test_damerau_matches_duckdb(a, b):
    ours = damerau_levenshtein_norm(a, b)
    m = max(len(a), len(b))
    theirs_raw = duckdb.sql(
        "SELECT damerau_levenshtein(?, ?)", params=[a, b]
    ).fetchone()[0]
    theirs = theirs_raw / m if m else 0.0
    assert ours == pytest.approx(theirs, abs=1e-12), (a, b)


@settings(max_examples=200, deadline=None)
@given(text, text, text)
def test_triangle_inequality_levenshtein(a, b, c):
    assert levenshtein_dist(a, c) <= levenshtein_dist(a, b) + levenshtein_dist(b, c)


ident = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=127
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(ident, max_size=8), st.lists(ident, max_size=8))
def test_rename_map_never_collides(left_cols, right_cols):
    rename = get_rename_right_columns_to_ensure_no_overlap(left_cols, right_cols)
    renamed = [rename.get(c, c) for c in right_cols]
    # post-rename: right columns collide with neither the left frame
    # nor each other (dupes within right map to distinct names)
    assert not (set(renamed) & set(left_cols))
    # only columns that NEEDED renaming appear in the map
    for src, dst in rename.items():
        assert src in right_cols
        assert dst not in left_cols


@settings(max_examples=200, deadline=None)
@given(st.floats(min_value=0.0, max_value=100.0, allow_nan=False))
def test_threshold_reversal_semantics(th):
    m = FuzzyMapping("a", "b", threshold_score=th)
    rev = m.reversed_threshold_score
    # reference models.py:91-102: int() truncation then flip to a
    # distance bound in [0, 1]
    assert rev == pytest.approx((100 - int(th)) / 100)
    assert 0.0 <= rev <= 1.0


# ---------------------------------------------------------------------------
# ANN recall gate (VERDICT r1 next-round #6): the lossy candidate paths
# (SimHash sketch scan; MinHash banding) must keep >= 0.9 recall of the
# exact path's result pairs on typo-style data. A silent recall collapse
# (e.g. a mis-tuned DEFAULT_MAX_HAMMING or band geometry) fails here,
# not in production. Measured values recorded in PLANS.md.
# ---------------------------------------------------------------------------


def _typo_name_frames(spark, n_base=120, n_typos=3, seed=17):
    import random

    rng = random.Random(seed)
    first = ["acme", "globex", "initech", "umbrella", "stark", "wayne",
             "hooli", "vandelay", "wonka", "cyberdyne", "tyrell", "soylent"]
    last = ["corp", "inc", "llc", "industries", "holdings", "group",
            "partners", "ltd", "systems", "labs"]
    base = []
    while len(base) < n_base:
        nm = f"{rng.choice(first)} {rng.choice(last)} {rng.randrange(1000)}"
        base.append(nm)
    base = sorted(set(base))

    def typo(s):
        i = rng.randrange(len(s))
        op = rng.randrange(4)
        if op == 0:
            return s[:i] + rng.choice("abcdefgh") + s[i:]
        if op == 1 and len(s) > 1:
            return s[:i] + s[i + 1:]
        if op == 2:
            return s[:i] + rng.choice("abcdefgh") + s[i + 1:]
        return s[:i] + s[i:i + 2][::-1] + s[i + 2:]

    left_rows = []
    for j, nm in enumerate(base):
        for t in range(n_typos):
            left_rows.append((j * 10 + t, typo(nm)))
    right_rows = [(j, nm) for j, nm in enumerate(base)]
    left = spark.createDataFrame(left_rows, ["lid", "lname"])
    right = spark.createDataFrame(right_rows, ["rid", "rname"])
    return left, right


def _match_pairs(df):
    return {(r["lid"], r["rid"]) for r in df.select("lid", "rid").collect()}


def test_ann_catalyst_topn_recall_vs_exact(spark):
    """Default forced-ANN at small pair volume plans as the exact
    top-N tier — no hamming prefilter, so recall should be essentially
    1 whenever matches-per-key stay under top_n."""
    from pl_fuzzy_frame_match_spark.models import FuzzyMapping
    from pl_fuzzy_frame_match_spark.operators.matcher import fuzzy_match_dfs

    left, right = _typo_name_frames(spark)
    maps = [FuzzyMapping("lname", "rname", threshold_score=75.0)]
    exact = _match_pairs(
        fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=False)
    )
    assert len(exact) > 100  # the generator must produce real matches
    ann = _match_pairs(
        fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=True)
    )
    assert ann <= exact  # ANN is a subset of the exact result (lossy only)
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.99, f"top-N tier recall {recall:.3f} < 0.99"


def test_ann_sketch_scan_recall_vs_exact(spark, monkeypatch):
    from pl_fuzzy_frame_match_spark.models import FuzzyMapping
    from pl_fuzzy_frame_match_spark.operators import candidates
    from pl_fuzzy_frame_match_spark.operators.matcher import fuzzy_match_dfs

    left, right = _typo_name_frames(spark)
    maps = [FuzzyMapping("lname", "rname", threshold_score=75.0)]
    exact = _match_pairs(
        fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=False)
    )
    assert len(exact) > 100  # the generator must produce real matches
    # force the sketch-scan tier (normally chosen only past the
    # top-N tier cap) so its hamming-prefilter recall stays gated
    monkeypatch.setattr(candidates, "ANN_CATALYST_CAP", -1.0)
    ann = _match_pairs(
        fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=True)
    )
    assert ann <= exact  # ANN is a subset of the exact result (lossy only)
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.9, f"sketch-scan recall {recall:.3f} < 0.9"


def test_ann_banded_recall_vs_exact(spark, monkeypatch):
    from pl_fuzzy_frame_match_spark.models import FuzzyMapping
    from pl_fuzzy_frame_match_spark.operators import candidates
    from pl_fuzzy_frame_match_spark.operators.matcher import fuzzy_match_dfs

    left, right = _typo_name_frames(spark)
    maps = [FuzzyMapping("lname", "rname", threshold_score=75.0)]
    exact = _match_pairs(
        fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=False)
    )
    # force the MinHash-banding fallback (normally only past 1e11 pairs)
    monkeypatch.setattr(candidates, "ANN_CATALYST_CAP", -1.0)
    monkeypatch.setattr(candidates, "SKETCH_SCAN_CAP", 0.0)
    banded = _match_pairs(
        fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=True)
    )
    assert banded <= exact
    recall = len(banded & exact) / len(exact)
    assert recall >= 0.9, f"banded recall {recall:.3f} < 0.9"


def test_banded_bucket_cap_bounds_hot_family(spark, monkeypatch):
    """Skew guard (VERDICT r2 #7): a degenerate key family that
    collapses into one LSH bucket per band must have its candidate
    volume bounded by the per-bucket cap — with a tiny forced cap the
    banding path still completes, respects top_n, and stays a subset
    of the exact join."""
    from pl_fuzzy_frame_match_spark.models import FuzzyMapping
    from pl_fuzzy_frame_match_spark.operators import candidates
    from pl_fuzzy_frame_match_spark.operators.matcher import fuzzy_match_dfs

    # one hot family: shared long stem, only the suffix digit varies ->
    # near-identical shingle sets, every key in the same bucket
    left = spark.createDataFrame(
        [(i, f"megacorp industrial holdings unit {i:03d}") for i in range(300)],
        ["lid", "lname"],
    )
    right = spark.createDataFrame(
        [(j, f"megacorp industrial holdings unit {j:03d}") for j in range(0, 300, 3)],
        ["rid", "rname"],
    )
    maps = [FuzzyMapping("lname", "rname", threshold_score=90.0)]
    exact = _match_pairs(
        fuzzy_match_dfs(left, right, maps, use_appr_nearest_neighbor=False)
    )
    assert exact
    # force the banding tier AND a cap far below the family size
    monkeypatch.setattr(candidates, "ANN_CATALYST_CAP", -1.0)
    monkeypatch.setattr(candidates, "SKETCH_SCAN_CAP", 0.0)
    monkeypatch.setattr(candidates, "BANDED_BUCKET_CAP", 16)
    capped = _match_pairs(
        fuzzy_match_dfs(
            left, right, maps, use_appr_nearest_neighbor=True, top_n=5
        )
    )
    assert capped <= exact  # capping only removes candidates
    per_left = {}
    for l, r in capped:
        per_left[l] = per_left.get(l, 0) + 1
    assert all(v <= 5 for v in per_left.values())


# ---------------------------------------------------------------------------
# End-to-end randomized equivalence: fuzzy_match_dfs vs a brute-force
# reference model on adversarial small frames (nulls, duplicate keys,
# empty strings, unicode, shared payload column names).
# ---------------------------------------------------------------------------

_rand_text = st.one_of(
    st.none(),
    st.text(alphabet="ab", min_size=0, max_size=4),
    st.sampled_from(["", "a", "ab", "ba", "AB", "Ab", "abc", "ü", "Üb", "日本"]),
)


@settings(max_examples=12, deadline=None)
@given(
    left_vals=st.lists(_rand_text, min_size=0, max_size=12),
    right_vals=st.lists(_rand_text, min_size=0, max_size=10),
    # 90 admits no edit on these <= 4-char keys (0.10 * 4 < 1): the
    # exact tier must still find every case-insensitive equal pair
    th=st.sampled_from([1.0, 40.0, 75.0, 90.0, 100.0]),
    metric=st.sampled_from(["levenshtein", "jaro_winkler", "indel"]),
)
def test_fuzzy_match_random_equivalence(spark, left_vals, right_vals, th, metric):
    from pl_fuzzy_frame_match_spark.functions.py_kernels import (
        NORMALIZED_DISTANCE,
    )
    from pl_fuzzy_frame_match_spark.models import FuzzyMapping
    from pl_fuzzy_frame_match_spark.operators.matcher import fuzzy_match_dfs

    left = spark.createDataFrame(
        [(i, v) for i, v in enumerate(left_vals)], "lid long, lname string"
    )
    right = spark.createDataFrame(
        [(i, v) for i, v in enumerate(right_vals)], "rid long, rname string"
    )
    m = FuzzyMapping("lname", "rname", threshold_score=th, fuzzy_type=metric)
    out = fuzzy_match_dfs(left, right, [m])
    score_col = [
        c for c in out.columns if c not in ("lid", "lname", "rid", "rname")
    ]
    assert len(score_col) == 1, out.columns
    got = {
        (r["lid"], r["rid"], round(r[score_col[0]], 9))
        for r in out.collect()
    }
    dist = NORMALIZED_DISTANCE[metric]
    rev = m.reversed_threshold_score
    want = set()
    for i, lv in enumerate(left_vals):
        for j, rv in enumerate(right_vals):
            if lv is None or rv is None:
                continue
            d = dist(lv.lower(), rv.lower())
            if d <= rev:
                want.add((i, j, round(1.0 - d, 9)))
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 8),
    w=st.integers(1, 8),
    ct=st.sampled_from([0, 2, 4, 6]),
    seed=st.integers(0, 2**31 - 1),
    filters=st.lists(st.integers(0, 4), min_size=8, max_size=8),
)
def test_png_codec_roundtrip_property(h, w, ct, seed, filters):
    """Any uint8 image, any per-row PNG filter sequence: encode then
    decode is the identity (pixels bit-exact, geometry preserved)."""
    import numpy as np

    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        _PNG_CHANNELS,
        png_decode_pixels,
        png_encode_pixels,
    )

    nch = _PNG_CHANNELS[ct]
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint8)
    data = png_encode_pixels(px, ct, filters[:h])
    dec = png_decode_pixels(data)
    assert dec is not None
    dh, dw, dc, out = dec
    assert (dh, dw, dc) == (h, w, nch)
    assert (out == px).all()


@settings(max_examples=60, deadline=None)
@given(
    nf=st.integers(1, 64),
    ch=st.integers(1, 4),
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_codec_roundtrip_property(nf, ch, rate, seed):
    """Any int16 sample matrix: WAV encode then decode is the
    identity (samples bit-exact, header fields preserved)."""
    import numpy as np

    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        wav_decode_samples,
        wav_encode_pcm16,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(-32768, 32768, size=(nf, ch)).astype("<i2")
    r, c, n, out = wav_decode_samples(wav_encode_pcm16(arr, rate))
    assert (r, c, n) == (rate, ch, nf)
    assert (out == arr).all()


@settings(max_examples=300, deadline=None)
@given(data=st.binary(max_size=300))
def test_media_decoders_never_raise(data):
    """Corrupt payloads must yield None (-> null-metadata rows), never
    an exception — a stage must survive any byte string, including
    adversarial ones wearing valid magic bytes."""
    from pl_fuzzy_frame_match_spark.operators.multimodal import (
        _PNG_SIG,
        _gif_header_meta,
        _png_header_meta,
        gif_decode_pixels,
        png_decode_pixels,
        wav_decode_samples,
    )

    for payload in (
        data,
        _PNG_SIG + data,
        b"GIF89a" + data,
        b"GIF87a" + data,
        b"RIFF" + data[:4] + b"WAVE" + data,
    ):
        png_decode_pixels(payload)
        gif_decode_pixels(payload)
        wav_decode_samples(payload)
        _png_header_meta(payload)
        _gif_header_meta(payload)
