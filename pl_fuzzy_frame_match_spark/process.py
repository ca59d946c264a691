"""Drop-in module parity with the reference's ``process`` module
(/root/reference/pl_fuzzy_frame_match/process.py): per-mapping scoring
primitives with the reference's call shapes, over Spark DataFrames.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.kernels import distance_column, jvm_lower
from .operators.matcher import LEFT_INDEX, RIGHT_INDEX, build_key_frame


def calculate_fuzzy_score(
    mapping_table: DataFrame,
    left_col_name: str,
    right_col_name: str,
    fuzzy_method: str,
    th_score: float,
) -> DataFrame:
    """Reference process.py:8-56: lowercase both sides, normalized
    distance ``s``, keep ``s <= th_score`` (``th_score`` is the already
    REVERSED 0-1 distance bound, as in the reference), flip to
    similarity."""
    # alias the lowered pair once (an inline lower() re-evaluates at
    # every reference inside the banded-distance expression tree)
    la, lb = "__lc_proc_l", "__lc_proc_r"
    return (
        mapping_table.withColumn(la, jvm_lower(left_col_name))
        .withColumn(lb, jvm_lower(right_col_name))
        .withColumn(
            "s",
            distance_column(
                fuzzy_method, F.col(la), F.col(lb), float(th_score)
            ),
        )
        .filter(F.col("s") <= F.lit(float(th_score)))
        .withColumn("s", F.lit(1.0) - F.col("s"))
        .drop(la, lb)
    )


def process_fuzzy_frames(
    left_df: DataFrame,
    right_df: DataFrame,
    left_col_name: str,
    right_col_name: str,
    temp_dir_ref: Optional[str] = None,
) -> Tuple[DataFrame, DataFrame, str, str, int, int]:
    """Reference process.py:59-111: group each side by its match column
    carrying index lists, null keys dropped, larger KEY SET left.
    Returns (left_keys, right_keys, left_col, right_col, len_left,
    len_right) with the same swap semantics."""
    left_keys = build_key_frame(left_df, left_col_name, LEFT_INDEX)
    right_keys = build_key_frame(right_df, right_col_name, RIGHT_INDEX)
    n_left = left_keys.count()
    n_right = right_keys.count()
    if n_right > n_left:
        return (
            right_keys, left_keys, right_col_name, left_col_name,
            n_right, n_left,
        )
    return (
        left_keys, right_keys, left_col_name, right_col_name,
        n_left, n_right,
    )


def calculate_and_parse_fuzzy(
    mapping_table: DataFrame,
    left_col_name: str,
    right_col_name: str,
    fuzzy_method: str,
    th_score: float,
) -> DataFrame:
    """Reference process.py:114-155: score + threshold on the grouped
    frame, then double-explode the index lists back to row-level
    (score, left index, right index) rows."""
    scored = calculate_fuzzy_score(
        mapping_table, left_col_name, right_col_name, fuzzy_method, th_score
    )
    return (
        scored.select("s", LEFT_INDEX, RIGHT_INDEX)
        .withColumn(LEFT_INDEX, F.explode(LEFT_INDEX))
        .withColumn(RIGHT_INDEX, F.explode(RIGHT_INDEX))
    )
