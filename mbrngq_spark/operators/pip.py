"""Point-in-polygon join (north_rule operator).

Generalizes the reference's containment range query (RTree.Contains,
mbR-NGQ/Data/RTree.cs:2002-2070 — SURVEY.md Q2) from rects to polygons:

  prune   — docs ⋈_broadcast covering-cells(polygon bbox)  (index prune,
            same shape as range_query.py; cells at index resolution)
  refine  — exact even-odd ray-crossing test in a VECTORIZED pandas UDF
            (Arrow batches; the polygon vertex table is a closure-captured
            broadcast — polygons are the small side by assumption).

The doc side is never shuffled; the UDF is the only Python in the path and
runs on Arrow batches (input_hint: no per-row Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mbrngq_spark import grid
from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.operators.knn import with_cell
from mbrngq_spark.operators.range_query import covering_cells


def _pip_kernel(px: np.ndarray, py: np.ndarray,
                vx: np.ndarray, vy: np.ndarray) -> np.ndarray:
    """Even-odd ray crossing (PNPOLY), vectorized over points."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(vx)
    j = n - 1
    for i in range(n):
        cond = ((vy[i] > py) != (vy[j] > py)) & \
               (px < (vx[j] - vx[i]) * (py - vy[i]) / (vy[j] - vy[i]) + vx[i])
        inside ^= cond
        j = i
    return inside


def point_in_polygon_join_distributed(docs_geo: DataFrame,
                                      polygons_df: DataFrame,
                                      res: int | None = None,
                                      cfg: EngineConfig = DEFAULT,
                                      id_col: str = "doc_id",
                                      broadcast_cover: bool = True,
                                      salt: int = 1) -> DataFrame:
    """Distributed twin of :func:`point_in_polygon_join` for LARGE polygon
    tables: ``polygons_df`` is a DataFrame (poly_id, vx array<double>,
    vy array<double>) of arbitrary size — no driver-side pandas loop, no
    Python anywhere in the plan.

    prune  — covering cells derived JVM-side: quantize the bbox corners
             with the same clamped ``grid.quantize`` the driver cover
             uses, then ``explode(sequence(ix0, ix1)) ×
             explode(sequence(iy0, iy1))`` → Morton cell. The vertex
             arrays ride along with each cover row so the refine needs no
             join back to the polygon table (trade: vertices duplicated
             per covering cell; polygons are assumed small vs the cell
             grid at index res, the same assumption the reference's
             node-MBR prune makes, RTree.cs:2002-2070).
    refine — exact bbox filter, then the SAME even-odd PNPOLY as
             ``_pip_kernel`` re-expressed as one ``F.aggregate`` fold over
             edge indices (operand order identical: px < (xj-xi)·(py-yi)/
             (yj-yi) + xi). ``try_divide`` guards horizontal edges under
             ANSI; ``crosses`` is false for them so the NULL xcut never
             decides a flip (false & NULL → false).

    Each doc has exactly ONE cell and each (poly_id, cell) appears once in
    the cover, so a doc meets a polygon at most once — no dedup stage.
    With ``broadcast_cover=False`` the cell join is left to Catalyst/AQE
    (shuffle on ``cell`` — the 100 TB shape when the polygon table itself
    is too big to broadcast); ``salt > 1`` then splits each HOT cell's
    doc rows across ``salt`` shuffle keys (doc side salted by
    xxhash64(id), cover side exploded ×salt — the engine's dense-cell
    skew guard; a city-sized cell no longer lands on one reducer).
    Salting a broadcast join is a no-op shape-wise, so it is applied
    only to the shuffle path."""
    if res is None:
        res = cfg.index_res

    def q(col, lo, extent):
        return grid.quantize(col, lo, extent, res)

    p = (polygons_df
         .withColumn("xmin", F.array_min("vx"))
         .withColumn("xmax", F.array_max("vx"))
         .withColumn("ymin", F.array_min("vy"))
         .withColumn("ymax", F.array_max("vy")))
    cover = (p
             .withColumn("__ix", F.explode(F.sequence(
                 q(F.col("xmin"), cfg.min_x, cfg.width),
                 q(F.col("xmax"), cfg.min_x, cfg.width))))
             .withColumn("__iy", F.explode(F.sequence(
                 q(F.col("ymin"), cfg.min_y, cfg.height),
                 q(F.col("ymax"), cfg.min_y, cfg.height))))
             .withColumn("cell", grid.cell_from_indices(
                 F.col("__ix"), F.col("__iy")))
             .drop("__ix", "__iy"))

    docs_c = with_cell(docs_geo, res, cfg)
    if not broadcast_cover and salt > 1:
        docs_c = docs_c.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)))
        cover = cover.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))
                                .cast("array<long>")))
        join_keys = ["cell", "__salt"]
    else:
        join_keys = ["cell"]
    cand = (docs_c.join(F.broadcast(cover) if broadcast_cover else cover,
                        join_keys)
            .filter((F.col("x") >= F.col("xmin"))
                    & (F.col("x") <= F.col("xmax"))
                    & (F.col("y") >= F.col("ymin"))
                    & (F.col("y") <= F.col("ymax"))))

    n_expr = F.size("vx")
    px, py = F.col("x"), F.col("y")

    def edge_flip(i):
        j = F.pmod(i - 1 + n_expr, n_expr)
        xi = F.element_at(F.col("vx"), (i + 1).cast("int"))
        xj = F.element_at(F.col("vx"), (j + 1).cast("int"))
        yi = F.element_at(F.col("vy"), (i + 1).cast("int"))
        yj = F.element_at(F.col("vy"), (j + 1).cast("int"))
        crosses = (yi > py) != (yj > py)
        xcut = (xj - xi) * F.try_divide(py - yi, yj - yi) + xi
        return F.when(crosses & (px < xcut), 1).otherwise(0)

    flips = F.aggregate(F.sequence(F.lit(0), n_expr - 1), F.lit(0),
                        lambda acc, i: acc + edge_flip(i))
    return (cand.filter(F.pmod(flips, F.lit(2)) == 1)
            .select("poly_id", id_col, "x", "y"))


def point_in_polygon_join(spark: SparkSession, docs_geo: DataFrame,
                          polygons: pd.DataFrame, res: int | None = None,
                          cfg: EngineConfig = DEFAULT,
                          id_col: str = "doc_id") -> DataFrame:
    """docs × polygons containment join.

    ``polygons``: pandas (poly_id, vx: list[float], vy: list[float]).
    Returns (poly_id, doc_id, x, y) for docs strictly inside each polygon
    (even-odd rule)."""
    if res is None:
        res = cfg.index_res
    # bbox covers → reuse the rect machinery for the prune phase
    bboxes = pd.DataFrame({
        "rect_id": polygons["poly_id"],
        "xmin": [min(v) for v in polygons["vx"]],
        "ymin": [min(v) for v in polygons["vy"]],
        "xmax": [max(v) for v in polygons["vx"]],
        "ymax": [max(v) for v in polygons["vy"]],
    })
    cover = covering_cells(bboxes, res, cfg).rename(columns={"rect_id": "poly_id"})
    cover_df = spark.createDataFrame(cover)
    docs_c = with_cell(docs_geo, res, cfg)
    cand = docs_c.join(F.broadcast(cover_df), "cell")

    polys = {int(r.poly_id): (np.asarray(r.vx, dtype=np.float64),
                              np.asarray(r.vy, dtype=np.float64))
             for r in polygons.itertuples(index=False)}

    @F.pandas_udf(T.BooleanType())
    def pip(poly_id: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        px = x.to_numpy(np.float64)
        py = y.to_numpy(np.float64)
        pid = poly_id.to_numpy()
        out = np.zeros(len(px), dtype=bool)
        for p, (vx, vy) in polys.items():
            mask = pid == p
            if mask.any():
                out[mask] = _pip_kernel(px[mask], py[mask], vx, vy)
        return pd.Series(out)

    return (cand
            .filter(pip(F.col("poly_id"), F.col("x"), F.col("y")))
            .select("poly_id", id_col, "x", "y"))
