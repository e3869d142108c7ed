"""Diversity evaluators as distributed DataFrame expressions.

edge / clique / star are pure SQL self-join aggregates over the
candidate set (SURVEY.md §2.1 Diversity.scala surface) — they scale
to any candidate set Spark can join. tree / cycle are inherently
sequential (MST / tour) and run in numpy on the collected candidate
set, which is small by construction (SURVEY.md §7 known-hard #4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from . import kernel as K


def pairs(cand: DataFrame) -> DataFrame:
    """Unordered pairs (a < b) of a candidate (vec_id, embedding) set
    with their L2 distance."""
    a = cand.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return a.join(b, F.col("vec_a") < F.col("vec_b")).select(
        "vec_a", "vec_b", V.l2_dist("ea", "eb").alias("dist")
    )


def edge_value(cand: DataFrame) -> DataFrame:
    return pairs(cand).agg(
        F.lit("edge").alias("objective"), F.round(F.min("dist"), 6).alias("value")
    )


def clique_value(cand: DataFrame) -> DataFrame:
    return pairs(cand).agg(
        F.lit("clique").alias("objective"), F.round(F.sum("dist"), 6).alias("value")
    )


def star_value(cand: DataFrame) -> DataFrame:
    """min over centers c of sum_{x != c} d(c, x) — full ordered pairs."""
    a = cand.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    star = (
        a.join(b, F.col("vec_a") != F.col("vec_b"))
        .select("vec_a", V.l2_dist("ea", "eb").alias("dist"))
        .groupBy("vec_a")
        .agg(F.sum("dist").alias("star_sum"))
    )
    return star.agg(
        F.lit("star").alias("objective"),
        F.round(F.min("star_sum"), 6).alias("value"),
    )


def tree_cycle_values(cand: DataFrame) -> list[tuple[str, float]]:
    """Driver-side MST / tour weight of the (small) candidate set."""
    _, X = V.collect_sorted(cand, "vec_id", "embedding")
    D = K.pairwise_l2(X)
    return [
        ("tree", round(K.eval_tree(D), 6)),
        ("cycle", round(K.eval_cycle(D), 6)),
    ]


def bipartition_value(cand: DataFrame) -> list[tuple[str, float]]:
    """Driver-side remote-bipartition (min balanced cut weight) of the
    (small) candidate set — exhaustive up to 14 points, deterministic
    swap descent beyond (see kernel.eval_bipartition)."""
    _, X = V.collect_sorted(cand, "vec_id", "embedding")
    D = K.pairwise_l2(X)
    return [("bipartition", round(K.eval_bipartition(D), 6))]
