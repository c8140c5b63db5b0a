"""Rank & report — Verum's S3 ([R notebooks/score helpers, reconstructed]).

Global top-k compiles to ``TakeOrderedAndProject`` (no full sort, no single
giant reducer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def top_k(scores: DataFrame, vertices: DataFrame, k: int = 10) -> DataFrame:
    """Top-k scored vertices joined back to names.

    ``scores``: (vid, value). Result: (vid, name, vtype, value) desc.
    """
    return (
        scores.join(vertices.select("vid", "name", "vtype"), "vid")
        .orderBy(F.desc("value"), F.asc("vid"))
        .limit(k)
        .select("vid", "name", "vtype", "value")
    )
