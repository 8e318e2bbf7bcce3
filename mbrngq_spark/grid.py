"""Hierarchical Z-order (Morton) cell grid — the distributed index.

This replaces the reference's entire R-tree machinery (insert / chooseNode /
splitNode / adjustTree, mbR-NGQ/Data/RTree.cs:254-350,2156-2662 — see
SURVEY.md §2.1): instead of a mutable pointer tree, every document row gets a
deterministic hierarchical cell id computed by pure Column bit-arithmetic
(whole-stage codegen, no UDF). Parent cells are id truncation; neighbor rings
are integer offsets. The grid is an H3/S2-style space-filling-curve index
specialized to the reference's rectangular [minX,maxX]x[minY,maxY] space
(mbR-NGQ/Config.cs:16-19).

Resolution r means 2^r bins per axis → cell ids in [0, 4^r). A cell's parent
at resolution r-1 is ``cell >> 2`` (Morton property). Everything has a NumPy
twin for driver-side planning (ring expansion over the small cell-stats
table) and in-UDF use.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from mbrngq_spark.config import DEFAULT, EngineConfig

MAX_RES = 16  # 2^16 bins/axis → 32-bit cell ids, carried in LongType


# ---------------------------------------------------------------------------
# Column-expression encoder (JVM-side)
# ---------------------------------------------------------------------------

def _spread_bits(v: Column) -> Column:
    """Interleave zeros between the low 16 bits of ``v`` (Morton spread)."""
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x33333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x55555555))
    return v


def quantize(x: Column, lo: float, extent: float, res: int) -> Column:
    """Bin a coordinate into [0, 2^res) — clamped at the top edge so
    max_x/max_y land in the last bin (mirrors the reference treating the
    space as closed, Config.cs:16-19)."""
    n = 1 << res
    ix = F.floor((x - F.lit(lo)) / F.lit(extent) * F.lit(float(n)))
    return F.greatest(F.least(ix, F.lit(n - 1)), F.lit(0)).cast("long")


def cell_encode(x: Column, y: Column, res: int,
                cfg: EngineConfig = DEFAULT) -> Column:
    """(x, y) → Morton cell id at resolution ``res`` (pure Column math)."""
    assert 0 < res <= MAX_RES
    ix = quantize(x, cfg.min_x, cfg.width, res)
    iy = quantize(y, cfg.min_y, cfg.height, res)
    return _spread_bits(ix).bitwiseOR(F.shiftleft(_spread_bits(iy), 1)).cast("long")


def _memo_col(key: tuple, build) -> Column:
    """Session-scoped memo for expensive-to-BUILD Column expressions.

    The Morton/tile encoders cost ~70 ms of py4j round-trips per build
    (dozens of JVM calls for the bit-spread chain), and identical named-
    column requests recur several times per query plan. A Column is an
    immutable unresolved expression, safe to reuse across DataFrames of
    one SparkContext; the cache lives ON the active context object so it
    dies with the JVM gateway it references (a module-level cache would
    hand out stale JVM handles after a context restart in tests)."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    cache = sc.__dict__.setdefault("_mbrngq_colcache", {})
    col = cache.get(key)
    if col is None:
        col = cache[key] = build()
    return col


def cell_encode_named(res: int, cfg: EngineConfig = DEFAULT,
                      xname: str = "x", yname: str = "y") -> Column:
    """Memoized cell_encode over plain named columns (the common case)."""
    return _memo_col(("cell", xname, yname, res, cfg),
                     lambda: cell_encode(F.col(xname), F.col(yname), res, cfg))


def cell_from_indices(ix: Column, iy: Column) -> Column:
    """(ix, iy) grid indices → Morton cell id (callers clip to [0, 2^res))."""
    return _spread_bits(ix).bitwiseOR(F.shiftleft(_spread_bits(iy), 1)) \
        .cast("long")


def cell_parent(cell: Column, levels: int = 1) -> Column:
    """Parent cell id ``levels`` resolutions up (Morton truncation)."""
    return F.shiftright(cell, 2 * levels)


def _compact_bits(v: Column) -> Column:
    """Inverse of _spread_bits: drop the interleaved zero bits."""
    v = v.bitwiseAND(F.lit(0x55555555))
    v = v.bitwiseOR(F.shiftright(v, 1)).bitwiseAND(F.lit(0x33333333))
    v = v.bitwiseOR(F.shiftright(v, 2)).bitwiseAND(F.lit(0x0F0F0F0F))
    v = v.bitwiseOR(F.shiftright(v, 4)).bitwiseAND(F.lit(0x00FF00FF))
    v = v.bitwiseOR(F.shiftright(v, 8)).bitwiseAND(F.lit(0x0000FFFF))
    return v


def cell_ix(cell: Column) -> Column:
    return _compact_bits(cell)


def cell_iy(cell: Column) -> Column:
    return _compact_bits(F.shiftright(cell, 1))


def row_major_tile_id(x: Column, y: Column, res: int,
                      cfg: EngineConfig = DEFAULT) -> Column:
    """Row-major tile id (iy * 2^res + ix) — the raster-tile layer
    (FIXTURES.md §5). Row-major keeps the oracle SQL a one-liner; the
    spatial index itself stays Morton."""
    ix = quantize(x, cfg.min_x, cfg.width, res)
    iy = quantize(y, cfg.min_y, cfg.height, res)
    return F.shiftleft(iy, res).bitwiseOR(ix).cast("long")


def row_major_tile_id_named(res: int, cfg: EngineConfig = DEFAULT,
                            xname: str = "x", yname: str = "y") -> Column:
    """Memoized row_major_tile_id over plain named columns."""
    return _memo_col(("tile", xname, yname, res, cfg),
                     lambda: row_major_tile_id(F.col(xname), F.col(yname),
                                               res, cfg))


# ---------------------------------------------------------------------------
# NumPy twins (driver-side planning / in-UDF)
# ---------------------------------------------------------------------------

def np_spread_bits(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    v = (v | (v << 8)) & 0x00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F
    v = (v | (v << 2)) & 0x33333333
    v = (v | (v << 1)) & 0x55555555
    return v


def np_compact_bits(v: np.ndarray) -> np.ndarray:
    v = v & 0x55555555
    v = (v | (v >> 1)) & 0x33333333
    v = (v | (v >> 2)) & 0x0F0F0F0F
    v = (v | (v >> 4)) & 0x00FF00FF
    v = (v | (v >> 8)) & 0x0000FFFF
    return v


def np_quantize(x: np.ndarray, lo: float, extent: float, res: int) -> np.ndarray:
    n = 1 << res
    ix = np.floor((np.asarray(x, dtype=np.float64) - lo) / extent * n).astype(np.int64)
    return np.clip(ix, 0, n - 1)


def np_cell_encode(x, y, res: int, cfg: EngineConfig = DEFAULT) -> np.ndarray:
    ix = np_quantize(x, cfg.min_x, cfg.width, res)
    iy = np_quantize(y, cfg.min_y, cfg.height, res)
    return np_spread_bits(ix) | (np_spread_bits(iy) << 1)


def np_cell_box(cell: np.ndarray, res: int, cfg: EngineConfig = DEFAULT):
    """cell ids → (xmin, ymin, xmax, ymax) arrays."""
    n = 1 << res
    wx, wy = cfg.width / n, cfg.height / n
    ix = np_compact_bits(np.asarray(cell, dtype=np.int64))
    iy = np_compact_bits(np.asarray(cell, dtype=np.int64) >> 1)
    xmin = cfg.min_x + ix * wx
    ymin = cfg.min_y + iy * wy
    return xmin, ymin, xmin + wx, ymin + wy


def np_cell_mindist(cell: np.ndarray, qx: float, qy: float, res: int,
                    cfg: EngineConfig = DEFAULT) -> np.ndarray:
    """Lower bound on dist(q, any point in cell) — same clamped-gap MINDIST
    as Rectangle.distance (Rectangle.cs:249-262) applied to the cell box.
    This is what lets ring expansion stop early (≡ R-tree MINDIST descent
    pruning, RTree.cs:2448-2452)."""
    xmin, ymin, xmax, ymax = np_cell_box(cell, res, cfg)
    gx = np.maximum(np.maximum(xmin - qx, qx - xmax), 0.0)
    gy = np.maximum(np.maximum(ymin - qy, qy - ymax), 0.0)
    return np.sqrt(gx * gx + gy * gy)


def np_ring_cells(qx: float, qy: float, ring: int, res: int,
                  cfg: EngineConfig = DEFAULT) -> np.ndarray:
    """Cell ids at Chebyshev grid-distance exactly ``ring`` from q's cell
    (ring 0 = the cell itself), clipped to the grid. Used by the kNN planner
    to expand candidates outward until ring MINDIST exceeds the k-th best —
    the distributed analog of the reference's best-first NN descent
    (RTree.cs:2428-2456)."""
    n = 1 << res
    cx = int(np_quantize(np.array([qx]), cfg.min_x, cfg.width, res)[0])
    cy = int(np_quantize(np.array([qy]), cfg.min_y, cfg.height, res)[0])
    if ring == 0:
        coords = [(cx, cy)]
    else:
        coords = []
        for dx in range(-ring, ring + 1):
            for dy in (-ring, ring):
                coords.append((cx + dx, cy + dy))
        for dy in range(-ring + 1, ring):
            for dx in (-ring, ring):
                coords.append((cx + dx, cy + dy))
    coords = [(x, y) for x, y in coords if 0 <= x < n and 0 <= y < n]
    if not coords:
        return np.empty(0, dtype=np.int64)
    xs = np.array([c[0] for c in coords], dtype=np.int64)
    ys = np.array([c[1] for c in coords], dtype=np.int64)
    return np_spread_bits(xs) | (np_spread_bits(ys) << 1)
