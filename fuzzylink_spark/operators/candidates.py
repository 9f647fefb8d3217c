"""Candidate-pair inputs (operator J2): the distinct keys of each block.

Reference semantics: per block, every *unique* A-string crosses every
unique B-string and gets a cosine score (the per-block dense matrix loop at
R/fuzzylink.R:113-155, melted to long form at :165-172). Relationally that
is a within-block cross join of the two distinct-key sets.

The pairs themselves are never joined here. Keys are deduplicated per
side BEFORE pairing (the reference also dedups first,
R/fuzzylink.R:150-151), and ``features.cogrouped_pair_features`` creates
the within-block pairs inside its tile kernel: ``features.block_salt_plan``
splits every block's pair matrix into a bounded ka x kb grid of tiles, so
a skewed block (e.g. lang='en' dominating) becomes many uniform cogroup
tasks and each pair is emitted by exactly one tile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unique_keys_per_block(df: DataFrame, by: str) -> DataFrame:
    """Distinct (block_key, key) pairs for one side (P2 within block)."""
    return (
        df.select("block_key", F.col(by).alias("key"))
        .where(F.col("key").isNotNull())
        .distinct()
    )


def pair_stats(uA: DataFrame, uB: DataFrame) -> DataFrame:
    """Per-block candidate-pair counts (metrics/lineage side output)."""
    ca = uA.groupBy("block_key").agg(F.count("*").alias("n_a"))
    cb = uB.groupBy("block_key").agg(F.count("*").alias("n_b"))
    return ca.join(cb, "block_key", "outer").na.fill(0).withColumn(
        "n_pairs", F.col("n_a") * F.col("n_b")
    )
