"""Range queries — the reference's Intersects / Contains (SURVEY.md Q1/Q2).

Reference: ``RTree.Intersects`` (mbR-NGQ/Data/RTree.cs:1980-1995, recursive
descent at :2469-2486, overlap predicate Rectangle.cs:187-199) and
``RTree.Contains`` (RTree.cs:2002-2070, stack traversal, containment
predicate Rectangle.cs:209-219). Both collapse to ONE relational shape here:

    docs ⋈_broadcast covering-cells(query rects)  →  exact predicate

The cell join is the index prune (≡ subtree-intersection descent); the final
WHERE is the exact leaf test. For point data, intersects ≡ contains ≡
point-in-rect. Rect×rect variants are exposed for MBR inputs.

Scale note: covering cells are enumerated per rect at the index resolution
(≤ 4^res per rect, usually a handful); the doc side is never shuffled —
pure broadcast-hash join + codegen'd filter, and the coarse-cell partition
layout of the stored table (index.py) turns the cell filter into partition
pruning at the scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mbrngq_spark import geom, grid
from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.operators.knn import with_cell


def covering_cells(rects: pd.DataFrame, res: int,
                   cfg: EngineConfig = DEFAULT) -> pd.DataFrame:
    """(rect_id, xmin, ymin, xmax, ymax) → exploded (rect_id, cell) covers."""
    out_r, out_c = [], []
    n = 1 << res
    for row in rects.itertuples(index=False):
        ix0 = int(grid.np_quantize(np.array([row.xmin]), cfg.min_x, cfg.width, res)[0])
        ix1 = int(grid.np_quantize(np.array([row.xmax]), cfg.min_x, cfg.width, res)[0])
        iy0 = int(grid.np_quantize(np.array([row.ymin]), cfg.min_y, cfg.height, res)[0])
        iy1 = int(grid.np_quantize(np.array([row.ymax]), cfg.min_y, cfg.height, res)[0])
        ixs = np.arange(max(ix0, 0), min(ix1, n - 1) + 1, dtype=np.int64)
        iys = np.arange(max(iy0, 0), min(iy1, n - 1) + 1, dtype=np.int64)
        gx, gy = np.meshgrid(ixs, iys)
        cells = grid.np_spread_bits(gx.ravel()) | (grid.np_spread_bits(gy.ravel()) << 1)
        out_r.extend([row.rect_id] * len(cells))
        out_c.extend(cells.tolist())
    return pd.DataFrame({"rect_id": out_r, "cell": out_c})


def range_query(spark: SparkSession, docs_geo: DataFrame, rects: pd.DataFrame,
                res: int | None = None, cfg: EngineConfig = DEFAULT,
                id_col: str = "doc_id") -> DataFrame:
    """All docs whose point lies in each query rect (inclusive bounds,
    matching Rectangle.cs:209-219 <= / >= semantics).

    Returns (rect_id, doc_id, x, y)."""
    if res is None:
        res = cfg.index_res
    cover = spark.createDataFrame(covering_cells(rects, res, cfg))
    rects_df = spark.createDataFrame(rects)
    docs_c = with_cell(docs_geo, res, cfg)
    return (docs_c
            .join(F.broadcast(cover), "cell")
            .join(F.broadcast(rects_df), "rect_id")
            .filter(geom.point_in_rect(F.col("x"), F.col("y"),
                                       F.col("xmin"), F.col("ymin"),
                                       F.col("xmax"), F.col("ymax")))
            .select("rect_id", id_col, "x", "y"))
