"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest fuzzbench/test_fuzzbench.py -q
"""

import os
import random
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import check_output, passing_pairs  # noqa: E402
from gen import MATCH_RATE, RIGHT_ID_BASE, generate  # noqa: E402
from oracle import bag_distance_many, jaro_winkler, levenshtein, levenshtein_many  # noqa: E402
from tracing import join_breakdown, self_times  # noqa: E402
from workloads import WORKLOADS, Workload, score_column  # noqa: E402


def test_same_seed_same_inputs():
    a = generate(7, 300, 200, dup=2, n_countries=48)
    b = generate(7, 300, 200, dup=2, n_countries=48)
    assert a.left.rows() == b.left.rows()
    assert a.right.rows() == b.right.rows()
    assert a.truth == b.truth
    c = generate(8, 300, 200, dup=2, n_countries=48)
    assert c.left.rows() != a.left.rows()


def test_shape_duplication_and_truth():
    inp = generate(3, 500, 400, dup=3)
    assert len(inp.left.ids) == 1500
    assert len(set(inp.left.ids)) == 1500
    assert len(set(inp.right.name)) == 400
    # MATCH_RATE of left keys are planted, each on `dup` rows
    assert len(inp.truth) == 3 * round(MATCH_RATE * 500)
    right = dict(zip(inp.right.ids, inp.right.name))
    for lid, rid in inp.truth:
        # at most 12 typo edits plus an optional case change
        assert levenshtein(inp.left.name[lid].lower(), right[rid].lower()) <= 12


def test_vectorized_levenshtein_matches_plain_dp():
    rng = random.Random(5)
    alphabet = "abc de"
    pats = ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 64))) for _ in range(300)]
    texts = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 70))) for _ in range(300)]
    idx = np.arange(300)
    fast = levenshtein_many(pats, texts, idx, idx)
    assert list(fast) == [levenshtein(p, t) for p, t in zip(pats, texts)]
    # the prefilter is a lower bound of the edit distance
    assert (bag_distance_many(pats, texts, idx, idx) <= fast).all()


def test_jaro_winkler_known_values():
    assert round(jaro_winkler("apple inc.", "apple incorporated"), 2) == 0.88
    assert round(jaro_winkler("martha", "marhta"), 4) == 0.9611
    assert jaro_winkler("abc", "abc") == 1.0
    assert jaro_winkler("abc", "xyz") == 0.0


def _span(sid, name, start, end, parent, join=1):
    return {"id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "join": join, "counts": {}}


def test_self_times_and_overlap():
    spans = [
        _span(1, "join", 0.0, 10.0, None),
        _span(2, "planner.stats", 1.0, 4.0, 1),
        _span(3, "matcher.index", 3.0, 6.0, 1),
        _span(4, "matcher.first_round", 6.0, 9.0, 1),
        _span(5, "candidates.exact", 6.5, 7.5, 4),
    ]
    own = self_times(spans)
    assert own[1] == 10.0 - 8.0  # children cover [1, 9]
    assert own[4] == 2.0
    (row,) = join_breakdown(spans)
    assert row["trace.unaccounted_s"] == 2.0
    assert row["trace.overlap_s"] == 1.0  # [3, 4] counted twice
    assert row["candidates.exact_s"] == 1.0


def _oracle_output(inp, wl: Workload):
    """The output a correct engine would give, built from the oracles."""
    n_l, n_r = len(inp.left.ids), len(inp.right.ids)
    li = np.repeat(np.arange(n_l), n_r)
    rj = np.tile(np.arange(n_r), n_l)
    keep, _ = passing_pairs(inp, wl.mappings, li, rj)
    li, rj = li[keep], rj[keep]
    out = pd.DataFrame({
        "id": li, "name": [inp.left.name[i] for i in li],
        "address": [inp.left.address[i] for i in li],
        "country": [inp.left.country[i] for i in li],
        "rid": rj + RIGHT_ID_BASE, "rname": [inp.right.name[j] for j in rj],
        "raddress": [inp.right.address[j] for j in rj],
        "rcountry": [inp.right.country[j] for j in rj],
    })
    for m in wl.mappings:
        fld, _, metric = m
        from oracle import DISTANCE

        out[score_column(m)] = [
            1.0 - DISTANCE[metric](a, b) if a.lower() != b.lower() else 1.0
            for a, b in zip(out[fld], out["r" + fld])
        ]
    return out


def test_checker_accepts_oracle_output_and_flags_errors():
    wl = WORKLOADS["exact_names"]
    inp = generate(9, 200, 150)
    good = _oracle_output(inp, wl)
    res = check_output(good, inp, wl, True, random.Random(1))
    assert res.ok, res.problems
    assert res.recall == 1.0

    missing = good.drop(index=good.index[0])
    assert not check_output(missing, inp, wl, True, random.Random(1)).ok

    wrong = good.copy()
    wrong[score_column(wl.mappings[0])] = 0.999
    assert not check_output(wrong, inp, wl, False, random.Random(1)).ok


def test_checker_multi_mapping_recall():
    wl = WORKLOADS["multi_refine"]
    inp = generate(4, 150, 120, n_countries=wl.n_countries)
    good = _oracle_output(inp, wl)
    res = check_output(good, inp, wl, True, random.Random(2))
    assert res.ok, res.problems
    assert res.eligible > 0 and res.recall == 1.0
