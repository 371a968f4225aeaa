"""Redirect transitive closure.

Mirrors index/.../db/WikipediaToDBpediaClosure.scala:110-115 (follow
redirect chains to a fixpoint with a cycle guard). Cycle members resolve
deterministically to the lexicographically smallest URI in the cycle
(the reference raises and drops; we keep a stable id so downstream
clustering stays deterministic).

Two strategies, size-gated like operators/cc.py:
  * ≤ DRIVER_CLOSURE_MAX_EDGES: collect → driver chase → broadcast join
    (a redirects table is a dimension, so this is the common case).
  * above: distributed pointer doubling — ceil(log2 n) self-joins of the
    (src → node 2^k ahead) jump table with absorption at terminal nodes,
    then a min-tracking doubling pass restricted to the cycle subgraph.
    Exact same output as the driver chase for arbitrary chains + cycles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Above this many redirect rows the driver-side chase (GBs of dict on the
# driver at full-Wikipedia 10^7 rows) gives way to the distributed
# pointer-doubling closure.
DRIVER_CLOSURE_MAX_EDGES = 2_000_000


def close_redirects(redirect_pairs: dict[str, str]) -> dict[str, str]:
    """src -> final target for every src, chains followed to fixpoint."""
    resolved: dict[str, str] = {}
    for src in redirect_pairs:
        if src in resolved:
            continue
        chain = []
        seen: dict[str, int] = {}
        cur = src
        while cur in redirect_pairs and cur not in resolved and cur not in seen:
            seen[cur] = len(chain)
            chain.append(cur)
            cur = redirect_pairs[cur]
        if cur in resolved:
            final = resolved[cur]
        elif cur in seen:  # cycle: everything from seen[cur] onward loops
            cycle = chain[seen[cur]:]
            final = min(cycle)
            for node in cycle:
                resolved[node] = final
            chain = chain[: seen[cur]]
        else:
            final = cur
        for node in chain:
            resolved[node] = final
    return resolved


def close_redirects_distributed(redirects: DataFrame) -> DataFrame:
    """(src_uri, dst_uri) -> (src_uri, final_uri): exact distributed twin
    of `close_redirects`, for redirect tables too large to collect.

    Pass A doubles the jump table (node 2^k steps ahead, absorbing at
    terminals): after ceil(log2 n)+1 rounds every chain-bound source has
    reached its terminal and every cycle-bound source points AT a node on
    its cycle. Pass B doubles a (ptr, running-min) state over the cycle
    subgraph only, so the min covers the whole cycle and nothing outside
    it. Each round localCheckpoints — plans would otherwise grow 2^k.
    """
    spark = redirects.sparkSession
    # deterministic functional graph: one target per source (min wins)
    edges = (
        redirects.groupBy(F.col("src_uri").alias("src"))
        .agg(F.min("dst_uri").alias("dst"))
        .localCheckpoint()
    )
    n = edges.count()
    empty = spark.createDataFrame([], "src_uri string, final_uri string")
    if n == 0:
        return empty
    iters = max(1, math.ceil(math.log2(n)) + 1)
    srcs = edges.select("src").distinct().localCheckpoint()

    # pass A: jump(x) = node 2^k steps from x, absorbing at terminals
    jump = edges
    for _ in range(iters):
        step = jump.select(
            F.col("src").alias("k_src"), F.col("dst").alias("k_dst")
        )
        jump = (
            jump.join(step, jump.dst == step.k_src, "left")
            .select(
                "src", F.coalesce("k_dst", "dst").alias("dst")
            )
            .localCheckpoint()
        )

    is_cyclic = jump.join(
        srcs.select(F.col("src").alias("dst")), "dst", "left_semi"
    )
    terminal = jump.join(
        srcs.select(F.col("src").alias("dst")), "dst", "left_anti"
    ).select(F.col("src").alias("src_uri"), F.col("dst").alias("final_uri"))
    if is_cyclic.isEmpty():
        return terminal

    # pass B: ptr values of cyclic rows are exactly the cycle nodes
    cycle_nodes = is_cyclic.select(F.col("dst").alias("c")).distinct()
    cyc = edges.join(
        cycle_nodes, edges.src == cycle_nodes.c, "left_semi"
    ).select(
        "src",
        F.col("dst").alias("ptr"),
        F.least("src", "dst").alias("mn"),
    ).localCheckpoint()
    g = cyc
    for _ in range(iters):
        nxt = g.select(
            F.col("src").alias("k_src"),
            F.col("ptr").alias("k_ptr"),
            F.col("mn").alias("k_mn"),
        )
        g = (
            g.join(nxt, g.ptr == nxt.k_src)  # cycle subgraph: total, inner
            .select(
                "src",
                F.col("k_ptr").alias("ptr"),
                F.least("mn", "k_mn").alias("mn"),
            )
            .localCheckpoint()
        )
    cycle_min = g.select(F.col("src").alias("c"), F.col("mn"))
    resolved_cyclic = (
        is_cyclic.join(cycle_min, is_cyclic.dst == cycle_min.c)
        .select(
            F.col("src").alias("src_uri"), F.col("mn").alias("final_uri")
        )
    )
    return terminal.unionByName(resolved_cyclic)


def resolve_redirects_df(occs: DataFrame, redirects: DataFrame,
                         uri_col: str = "uri_raw",
                         out_col: str = "uri",
                         max_driver_edges: int = DRIVER_CLOSURE_MAX_EDGES,
                         ) -> DataFrame:
    """Resolve a URI column through the closed redirect map.

    Size-gated: dimension-sized tables collect to the driver chase and
    broadcast-join; larger tables run the distributed pointer-doubling
    closure and join it plainly (AQE picks the strategy at that size).
    """
    spark = occs.sparkSession
    if redirects.count() <= max_driver_edges:
        # Canonicalize duplicate src rows (min dst) BEFORE collecting so the
        # driver path matches close_redirects_distributed exactly; a raw
        # dict comprehension over collect() is last-row-wins with
        # nondeterministic order.
        canon = redirects.groupBy("src_uri").agg(
            F.min("dst_uri").alias("dst_uri")
        )
        pairs = {r["src_uri"]: r["dst_uri"] for r in canon.collect()}
        closed = close_redirects(pairs)
        if not closed:
            return occs.withColumn(out_col, F.col(uri_col))
        closure_df = F.broadcast(spark.createDataFrame(
            list(closed.items()), schema="src_uri string, final_uri string"
        ))
    else:
        closure_df = close_redirects_distributed(redirects)
    return (
        occs.join(
            closure_df,
            occs[uri_col] == closure_df["src_uri"],
            "left",
        )
        .withColumn(out_col, F.coalesce(F.col("final_uri"), F.col(uri_col)))
        .drop("src_uri", "final_uri")
    )
