"""Association-rule mining over basket-shaped data (Apriori's
pairwise core: support / confidence / lift for item pairs).

The analytics sibling of `graph.cooccurrence_edges`: instead of an
edge list, emit directional rules u -> v scored by how often v
appears in u's baskets and how much that beats chance. Classic
retail/co-curation primitive; at corpus scale the same shape ranks
"documents that cite X also cite Y".

Scale shape: one distinct (basket, item) projection, one self-join
on the basket key (per-basket quadratic fan-out, bounded by basket
size), two linear aggregations (item supports, pair supports), one
broadcastable join back. THRESHOLDS ARE INTEGER-EXACT: minimum
support is a raw basket count and minimum confidence a percentage
compared as ``100 * sup(u,v) >= pct * sup(u)`` — integer arithmetic
both engines replay bit-for-bit, no float boundary can flip a rule.
The reported support/confidence/lift columns are the only floats and
they round at 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def association_rules(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support_count: int = 2,
    min_confidence_pct: int = 0,
    max_basket: int | None = None,
) -> DataFrame:
    """Directional pairwise rules (antecedent -> consequent) with
    basket-count support >= ``min_support_count`` and
    confidence >= ``min_confidence_pct`` / 100 (integer-compared).

    ``max_basket``: baskets with more distinct items than this generate
    their pairs through the self-join on the basket key instead of one
    in-row array (the hot-basket guard of
    :func:`graph.cooccurrence_edges`); same result, ``None`` (default)
    disables it.

    Output: (antecedent, consequent, pair_count, antecedent_count,
    support, confidence, lift) — support = pair baskets / all
    baskets, confidence = pair baskets / antecedent baskets,
    lift = confidence / (consequent baskets / all baskets).
    """
    # basket form (guide §2.4, same rewrite as graph.cooccurrence_edges):
    # ONE map-side-combined groupBy collects each basket's distinct
    # item array; the basket count, the item supports and the ordered
    # pairs all derive from that checkpointed frame — the old
    # distinct -> self-equi-join on g shape paid two more exchanges
    # and re-shuffled the item rows by g for the join
    baskets = (
        df.select(F.col(group_col).alias("g"), F.col(item_col).alias("item"))
        .where(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .groupBy("g")
        .agg(F.array_sort(F.collect_set("item")).alias("__items"))
        .localCheckpoint(eager=True)
    )
    n_baskets = baskets.count()
    isup = (
        baskets.select(F.explode("__items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("icnt"))
    )
    small = baskets
    if max_basket is not None:
        small = baskets.where(F.size("__items") <= F.lit(int(max_basket)))
    directed = small.select(
        F.explode(
            F.expr(
                "flatten(transform(__items, x -> "
                "transform(filter(__items, y -> y != x), "
                "y -> named_struct('antecedent', x, 'consequent', y))))"
            )
        ).alias("__p")
    ).select("__p.antecedent", "__p.consequent")
    if max_basket is not None:
        from .graph import _hot_basket_pairs

        directed = directed.union(
            _hot_basket_pairs(baskets, max_basket, ordered=True)
        )
    pairs = (
        directed.groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= F.lit(int(min_support_count)))
    )
    asup = isup.select(
        F.col("item").alias("antecedent"), F.col("icnt").alias("antecedent_count")
    )
    csup = isup.select(
        F.col("item").alias("consequent"), F.col("icnt").alias("consequent_count")
    )
    out = (
        pairs.join(asup, "antecedent")
        .join(csup, "consequent")
        .where(
            F.col("pair_count") * 100
            >= F.lit(int(min_confidence_pct)) * F.col("antecedent_count")
        )
    )
    return out.select(
        "antecedent",
        "consequent",
        "pair_count",
        "antecedent_count",
        F.round(F.col("pair_count") / F.lit(float(n_baskets)), 6).alias(
            "support"
        ),
        F.round(F.col("pair_count") / F.col("antecedent_count"), 6).alias(
            "confidence"
        ),
        F.round(
            F.col("pair_count")
            * F.lit(float(n_baskets))
            / (F.col("antecedent_count") * F.col("consequent_count")),
            6,
        ).alias("lift"),
    )
