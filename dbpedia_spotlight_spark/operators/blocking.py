"""Blocking counters: skew accounting for the resolve manifest.

Blocking key = normalized surface form (MemorySurfaceFormStore.scala:43
— the same key the reference uses for its lowercase fallback map).
Surface-form frequencies are Zipfian, so blocks are skewed. The counters
report how a salt split would shard them: a block larger than
`salt_block_cap` counts ceil(n/cap) salt buckets (at most
`n_salts_max`), and n_salt buckets make n_salt·(n_salt+1)/2
(bucket_i <= bucket_j) task pairs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_PARAMS, PipelineParams
from ..functions.normalize import sf_normalize_expr


@dataclass
class BlockingCounters:
    n_blocks: int
    n_blocks_split: int
    max_block_size: int
    n_salt_tasks: int


def add_block_key(mentions: DataFrame) -> DataFrame:
    """Mentions -> + block_key (normalized surface form)."""
    return mentions.withColumn("block_key", sf_normalize_expr(F.col("sf")))


def salted_blocks(
    mentions: DataFrame,
    params: PipelineParams = DEFAULT_PARAMS,
) -> BlockingCounters:
    """Block sizes, salt splits and salt task count, in one Spark action."""
    cap = params.salt_block_cap
    n_salt = F.least(
        F.ceil(F.col("block_size") / F.lit(cap)).cast("int"),
        F.lit(params.n_salts_max),
    )
    stats = (
        add_block_key(mentions)
        .groupBy("block_key")
        .agg(F.count("*").alias("block_size"))
        .withColumn("n_salt", n_salt)
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.when(F.col("n_salt") > 1, 1).otherwise(0)).alias("n_split"),
            F.max("block_size").alias("max_size"),
            F.sum(F.col("n_salt") * (F.col("n_salt") + 1) / 2).alias("n_tasks"),
        )
        .collect()[0]
    )
    return BlockingCounters(
        n_blocks=int(stats["n_blocks"] or 0),
        n_blocks_split=int(stats["n_split"] or 0),
        max_block_size=int(stats["max_size"] or 0),
        n_salt_tasks=int(stats["n_tasks"] or 0),
    )
