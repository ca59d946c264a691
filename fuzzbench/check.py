"""Output checks against the generator's truth and the oracles.

A join output (collected to pandas) is checked for:

- duplicate (id, rid) pairs and payload columns that do not match the
  input rows they claim to come from;
- a seeded sample of rows rescored with the oracles: every mapping must
  pass its threshold and the reported score must equal the oracle's;
- recall: planted (left, right) pairs whose true similarity passes
  every mapping, found in the output, over all such pairs;
- optionally, equality of the full pair set with a brute-force oracle.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import List, Sequence

import numpy as np

from gen import RIGHT_ID_BASE, Inputs, Table
from oracle import DISTANCE, distance_bound, levenshtein_passing
from workloads import Mapping, Workload, score_column

# jaro-winkler is float arithmetic done in another order than the
# engine's kernel: pairs this close to the bound are ambiguous
AMBIGUOUS = 1e-9
RESCORE_SAMPLE = 200
# beyond this many pairs reaching a plain-Python metric, brute force
# would not finish within a run
PY_METRIC_LIMIT = 200_000


@dataclass
class CheckResult:
    recall: float
    eligible: int
    problems: List[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


def _column(table: Table, name: str) -> np.ndarray:
    return np.array([s.lower() for s in getattr(table, name)], dtype=object)


def passing_pairs(
    inputs: Inputs, mappings: Sequence[Mapping], li: np.ndarray, rj: np.ndarray
):
    """For row-index pairs (left li[k], right rj[k]): which pass every
    mapping, and which sit within AMBIGUOUS of a float bound."""
    keep = np.ones(len(li), dtype=bool)
    ambiguous = np.zeros(len(li), dtype=bool)
    # cheapest filters first: equality, vectorized levenshtein, then
    # plain-Python metrics on what is left
    order = sorted(
        mappings,
        key=lambda m: (m[1] < 100, m[2] != "levenshtein"),
    )
    for fld, threshold, metric in order:
        idx = np.nonzero(keep)[0]
        if not len(idx):
            break
        if threshold >= 100:
            lcol, rcol = _column(inputs.left, fld), _column(inputs.right, fld)
            keep[idx] = lcol[li[idx]] == rcol[rj[idx]]
        elif metric == "levenshtein":
            lvals, rvals = getattr(inputs.left, fld), getattr(inputs.right, fld)
            keep[idx] = levenshtein_passing(lvals, rvals, li[idx], rj[idx], threshold)
        else:
            if len(idx) > PY_METRIC_LIMIT:
                raise ValueError(f"{len(idx)} pairs for plain-Python {metric}")
            fn, bound = DISTANCE[metric], distance_bound(threshold)
            lvals, rvals = getattr(inputs.left, fld), getattr(inputs.right, fld)
            for k in idx:
                d = fn(lvals[li[k]], rvals[rj[k]])
                keep[k] = d <= bound
                ambiguous[k] |= abs(d - bound) <= AMBIGUOUS
    return keep, ambiguous


def check_output(
    out, inputs: Inputs, workload: Workload, brute_force: bool, rng: random.Random
) -> CheckResult:
    """Check one collected join output (a pandas frame)."""
    problems: List[str] = []
    n_left, n_right = len(inputs.left.ids), len(inputs.right.ids)
    li = out["id"].to_numpy(dtype=np.int64)
    rj = out["rid"].to_numpy(dtype=np.int64) - RIGHT_ID_BASE
    if ((li < 0) | (li >= n_left) | (rj < 0) | (rj >= n_right)).any():
        return CheckResult(0.0, 0, ["output ids outside the inputs"])
    found = set(zip(li.tolist(), rj.tolist()))
    if len(found) != len(out):
        problems.append(f"{len(out) - len(found)} duplicate (id, rid) pairs")

    # payload and scores, on a seeded sample of rows
    sample = rng.sample(range(len(out)), min(RESCORE_SAMPLE, len(out)))
    for fld in ("name", "address", "country"):
        lvals, rvals = getattr(inputs.left, fld), getattr(inputs.right, fld)
        bad = sum(
            out[fld].iat[k] != lvals[li[k]] or out["r" + fld].iat[k] != rvals[rj[k]]
            for k in sample
        )
        if bad:
            problems.append(f"{bad} sampled rows carry the wrong {fld} payload")
    for m in workload.mappings:
        fld, threshold, metric = m
        col = out[score_column(m)]
        bound = distance_bound(threshold)
        for k in sample:
            a, b = getattr(inputs.left, fld)[li[k]], getattr(inputs.right, fld)[rj[k]]
            d = 0.0 if a.lower() == b.lower() else DISTANCE[metric](a, b)
            if d > bound + AMBIGUOUS or abs(col.iat[k] - (1.0 - d)) > AMBIGUOUS:
                problems.append(
                    f"{score_column(m)}: row {k} scored {col.iat[k]}, oracle {1.0 - d}"
                )
                break

    # recall over planted pairs whose true similarity passes
    truth = np.array(inputs.truth, dtype=np.int64).reshape(-1, 2)
    t_li, t_rj = truth[:, 0], truth[:, 1] - RIGHT_ID_BASE
    keep, ambiguous = passing_pairs(inputs, workload.mappings, t_li, t_rj)
    eligible = [(int(a), int(b)) for a, b in zip(t_li[keep & ~ambiguous], t_rj[keep & ~ambiguous])]
    hits = sum(p in found for p in eligible)
    recall = hits / len(eligible) if eligible else 1.0
    if workload.lossless and hits != len(eligible):
        problems.append(f"lossless tier missed {len(eligible) - hits} planted pairs")

    if brute_force:
        a_li = np.repeat(np.arange(n_left), n_right)
        a_rj = np.tile(np.arange(n_right), n_left)
        keep, ambiguous = passing_pairs(inputs, workload.mappings, a_li, a_rj)
        expected = set(zip(a_li[keep].tolist(), a_rj[keep].tolist()))
        fuzzy = set(zip(a_li[ambiguous].tolist(), a_rj[ambiguous].tolist()))
        missing = len((expected - found) - fuzzy)
        extra = len((found - expected) - fuzzy)
        if missing or extra:
            problems.append(
                f"pair set differs from brute force: {missing} missing, {extra} extra"
            )
    return CheckResult(recall, len(eligible), problems)
