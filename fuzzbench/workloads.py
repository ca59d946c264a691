"""The benchmark's workloads: input sizes and join specs.

Left frames have columns ``id, name, address, country``; right frames
``rid, rname, raddress, rcountry``. A mapping ``(field, threshold,
metric)`` joins left ``field`` to right ``"r" + field``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Tuple

Mapping = Tuple[str, float, str]  # (field, threshold 0-100, metric)


def score_column(m: Mapping) -> str:
    field, _, metric = m
    return f"{field}_vs_r{field}_{metric}"


@dataclass(frozen=True)
class Workload:
    name: str
    n_left_keys: int
    n_right: int
    mappings: Tuple[Mapping, ...]
    # rows per distinct left key
    dup: int = 1
    n_countries: int = 12
    # the planner picks a lossless tier, so recall must be 1.0
    lossless: bool = True
    # compare the full pair set of the checked join with brute force
    brute_force: bool = False


NAME_LEV = (("name", 75.0, "levenshtein"),)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="exact_names",
            n_left_keys=2000,
            n_right=1600,
            mappings=NAME_LEV,
            brute_force=True,
        ),
        Workload(
            name="ann_names",
            n_left_keys=26_000,
            n_right=10_000,
            dup=2,
            mappings=NAME_LEV,
            lossless=False,
        ),
        Workload(
            name="multi_refine",
            n_left_keys=5200,
            n_right=2800,
            n_countries=48,
            mappings=(
                ("name", 88.0, "jaro_winkler"),
                ("address", 80.0, "levenshtein"),
                ("country", 100.0, "levenshtein"),
            ),
        ),
    )
}
