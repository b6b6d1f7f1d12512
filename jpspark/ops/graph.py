"""Iterative graph algorithms beyond connected components.

Single-source shortest paths by distributed Bellman-Ford relaxation —
the routing/reachability primitive over road-network or cell-adjacency
graphs. Same execution discipline as ops/dedup.py connected_components:
labels-only exchanges (node id + one double per row), one scalar to the
driver per round (the improved-node count), per-round cache
materialize-then-release, and size-triggered lineage cuts (each round
references the previous frame twice — union + min — so the plan doubles
without cuts). The cuts go through the one lineage-cut seam,
ops/dedup.py ``_LineageCut``: it picks the storage (parquet spill or
``df.checkpoint``), guards non-local masters, and registers spill dirs
with the CC release/atexit lifecycle.

At 10^12-row scale the full-relaxation form below is the WORST case
(every edge re-relaxed every round); production SSSP keeps a frontier
(only edges out of improved nodes) which this structure supports by
filtering ``cand`` on the improved set — the exchanges and convergence
logic are identical, so the small-graph-exact form is what the oracle
pins down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _LineageCut

SSSP_LAST_ROUNDS: int = 0


def shortest_paths(
    edges: DataFrame,
    source: int,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
    max_rounds: int = 200,
    cut_plan_chars: int | None = None,
) -> DataFrame:
    """Single-source shortest paths over directed weighted edges
    (non-negative weights). Returns (node, dist) for every node reachable
    from ``source`` (unreachable nodes are absent — no sentinel
    infinities ride the exchanges). Deterministic: relaxation computes
    exact min over identical float sums regardless of partitioning.

    Each round: dist JOIN edges on src -> candidate (dst, dist + w),
    union with current dist, min per node — two keyed exchanges of
    (long, double) rows. Convergence = zero improved nodes, one scalar
    per round. Raises if ``max_rounds`` is hit before convergence
    (negative cycles are out of contract).

    ``cut_plan_chars`` sizes the lineage-cut trigger (default: the
    shared CC threshold); 0 disables cutting entirely — the escape
    hatch for small-diameter graphs on cluster sessions without a
    checkpoint dir."""
    global SSSP_LAST_ROUNDS
    spark = edges.sparkSession
    cut = (
        None
        if cut_plan_chars == 0
        else _LineageCut(
            spark,
            "shortest_paths",
            "cut_plan_chars=0 to disable cutting for shallow graphs",
            "jpspark-sssp-cut-",
        )
    )
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(w_col).cast("double").alias("w"),
    ).persist()
    e.count()

    dist = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .filter(F.col("node") == source)
        .select("node", F.lit(0.0).alias("dist"))
        .persist()
    )
    dist.count()

    cut_dir: str | None = None
    rounds = 0
    pinned = dist
    for rounds in range(1, max_rounds + 1):
        cand = (
            dist.join(e, dist["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
                F.lit(None).cast("double").alias("_old"),
            )
        )
        # round 7: the previous distance rides the union as a third
        # column (exactly one non-null per node, from the dist leg, so
        # max() recovers it; a node first reached this round keeps NULL)
        # — convergence becomes a filter+count on THIS frame instead of
        # a per-round re-join against the previous one.
        own = dist.select("node", "dist", F.col("dist").alias("_old"))
        new = (
            own.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"), F.max("_old").alias("_old"))
            .persist()
        )
        improved = (
            new.filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .count()
        )
        pinned.unpersist()
        pinned = new
        dist = new.select("node", "dist")
        if improved == 0:
            break
        if cut is not None and cut.due(dist, cut_plan_chars):
            dist, _, cut_dir = cut(dist, cut_dir)
            pinned.unpersist()
            pinned = dist
    else:
        e.unpersist()
        pinned.unpersist()
        raise RuntimeError(
            f"shortest_paths did not converge in {max_rounds} rounds"
        )
    e.unpersist()
    SSSP_LAST_ROUNDS = rounds
    return dist
