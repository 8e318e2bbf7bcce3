"""ε-distance join: all pairs (a, b) with euclidean dist ≤ eps.

The reference exposes pairwise distance only inside group scoring
(GetGroupMinDist's max-pairwise loop, mbR-NGQ/Data/RTree.cs:938-966); as a
standalone *spatial join* operator this is the set-returning generalization
— the classic grid ε-join:

- pick the coarsest resolution whose cell edge is ≥ eps, so any qualifying
  pair lies in the same or one of the 8 neighboring cells;
- side A carries its cell id; side B is exploded to its 3×3 cell
  neighborhood (≤ 9 keys, fewer at the space boundary);
- one equi-join on the cell key, then the exact distance predicate.

Each qualifying pair is matched EXACTLY once (A's cell appears once in B's
neighborhood), so no distinct pass is needed. At 100 TB both sides shuffle
by cell (or arrive pre-bucketed by cell from the index layout → co-located
join with zero shuffle); the only blowup is the 9× key duplication of the
probe side, and AQE's skew-join splits hot cells (dense-city skew).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mbrngq_spark import geom, grid
from mbrngq_spark.config import DEFAULT, EngineConfig


def eps_join_res(eps: float, cfg: EngineConfig = DEFAULT) -> int:
    """Coarsest res with cell edge ≥ eps on both axes (ring-1 sufficiency),
    clamped to [1, planner_base_res]."""
    assert eps > 0
    res = int(math.floor(math.log2(min(cfg.width, cfg.height) / eps)))
    return max(1, min(cfg.planner_base_res, res))


def distance_join(docs_a: DataFrame, docs_b: DataFrame, eps: float,
                  cfg: EngineConfig = DEFAULT, res: int | None = None,
                  self_join: bool = False,
                  id_col: str = "doc_id") -> DataFrame:
    """Pairs within ``eps``: (a_id, b_id, dist), inclusive predicate.

    ``self_join=True`` joins a table with itself and returns each unordered
    pair once (a_id < b_id). Inputs carry (id_col, x, y)."""
    if res is None:
        res = eps_join_res(eps, cfg)
    n = 1 << res

    a = (docs_a.select(F.col(id_col).alias("a_id"),
                       F.col("x").alias("ax"), F.col("y").alias("ay"))
         .withColumn("cell", grid.cell_encode(F.col("ax"), F.col("ay"),
                                              res, cfg)))
    bx = grid.quantize(F.col("bx"), cfg.min_x, cfg.width, res)
    by = grid.quantize(F.col("by"), cfg.min_y, cfg.height, res)
    neighbors = F.array(*[
        F.when((bx + dx >= 0) & (bx + dx < n) & (by + dy >= 0) & (by + dy < n),
               grid.cell_from_indices(bx + dx, by + dy))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    b = (docs_b.select(F.col(id_col).alias("b_id"),
                       F.col("x").alias("bx"), F.col("y").alias("by"))
         .withColumn("cell", F.explode(F.filter(neighbors,
                                                lambda c: c.isNotNull()))))

    dist = geom.dist_point(F.col("ax"), F.col("ay"),
                           F.col("bx"), F.col("by"))
    out = (a.join(b, "cell")
           .withColumn("dist", dist)
           .filter(F.col("dist") <= F.lit(float(eps))))
    if self_join:
        out = out.filter(F.col("a_id") < F.col("b_id"))
    return out.select("a_id", "b_id", "dist")
