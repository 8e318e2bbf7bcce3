"""Geometry kernel — the reference's scalar-function library as Column math.

Every formula mirrors the reference exactly (SURVEY.md §2.3), expressed as
native ``pyspark.sql.functions`` Column expressions so whole-stage codegen
handles them JVM-side, plus NumPy twins for use inside the vectorized
refine UDFs. No Python row-at-a-time UDFs anywhere.

Reference semantics (file:line into /root/reference):
- euclidean point distance, float64:            mbR-NGQ/Data/Point.cs:67-75
- MINDIST point→rect (0 inside, clamped gaps):  mbR-NGQ/Data/Rectangle.cs:249-262
- MINDIST rect→rect (0 on overlap):             mbR-NGQ/Data/Rectangle.cs:273-286
- intersects / contains interval tests:         mbR-NGQ/Data/Rectangle.cs:187-239
- MAXDIST point→rect via farthest corner:       mbR-NGQ/Data/RTree.cs:821-840
- NGQ group score  minDist = innerDist(max pairwise) + interDist(min to q):
                                                mbR-NGQ/Data/RTree.cs:938-966
The reference's ``Rectangle.furthestDistance`` (Rectangle.cs:315-327) is
known-broken (#warning in source) and intentionally NOT reproduced.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Column expressions (JVM-side, codegen'd)
# ---------------------------------------------------------------------------

def _zero() -> Column:
    # F.lit needs an active SparkContext, so build lazily per call
    return F.lit(0.0)

def dist_point(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Euclidean distance between two points (Point.cs:67-75)."""
    dx, dy = x1 - x2, y1 - y2
    return F.sqrt(dx * dx + dy * dy)


def mindist_point_rect(px: Column, py: Column,
                       xmin: Column, ymin: Column,
                       xmax: Column, ymax: Column) -> Column:
    """MINDIST point→rect: per-dim clamped gap, 0 inside (Rectangle.cs:249-262)."""
    gx = F.greatest(xmin - px, px - xmax, _zero())
    gy = F.greatest(ymin - py, py - ymax, _zero())
    return F.sqrt(gx * gx + gy * gy)


def mindist_rect_rect(axmin: Column, aymin: Column, axmax: Column, aymax: Column,
                      bxmin: Column, bymin: Column, bxmax: Column, bymax: Column) -> Column:
    """MINDIST rect→rect: interval gaps, 0 on overlap (Rectangle.cs:273-286)."""
    gx = F.greatest(bxmin - axmax, axmin - bxmax, _zero())
    gy = F.greatest(bymin - aymax, aymin - bymax, _zero())
    return F.sqrt(gx * gx + gy * gy)


def maxdist_point_rect(px: Column, py: Column,
                       xmin: Column, ymin: Column,
                       xmax: Column, ymax: Column) -> Column:
    """MAXDIST point→rect: farthest corner per dim (RTree.cs:821-840)."""
    fx = F.greatest(F.abs(px - xmin), F.abs(px - xmax))
    fy = F.greatest(F.abs(py - ymin), F.abs(py - ymax))
    return F.sqrt(fx * fx + fy * fy)


def rect_intersects(axmin: Column, aymin: Column, axmax: Column, aymax: Column,
                    bxmin: Column, bymin: Column, bxmax: Column, bymax: Column) -> Column:
    """Interval overlap on both dims (Rectangle.cs:187-199)."""
    return (axmin <= bxmax) & (axmax >= bxmin) & (aymin <= bymax) & (aymax >= bymin)


def rect_contains(axmin: Column, aymin: Column, axmax: Column, aymax: Column,
                  bxmin: Column, bymin: Column, bxmax: Column, bymax: Column) -> Column:
    """A contains B on both dims (Rectangle.cs:209-219)."""
    return (axmin <= bxmin) & (axmax >= bxmax) & (aymin <= bymin) & (aymax >= bymax)


def point_in_rect(px: Column, py: Column,
                  xmin: Column, ymin: Column, xmax: Column, ymax: Column) -> Column:
    """Containment of a point (degenerate rect) — the range-query leaf test."""
    return (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)


# ---------------------------------------------------------------------------
# NumPy twins — for the applyInPandas refine kernels (same formulas)
# ---------------------------------------------------------------------------

def np_dist_point(x1, y1, x2, y2):
    dx, dy = x1 - x2, y1 - y2
    return np.sqrt(dx * dx + dy * dy)


def np_mindist_point_rect(px, py, xmin, ymin, xmax, ymax):
    gx = np.maximum(np.maximum(xmin - px, px - xmax), 0.0)
    gy = np.maximum(np.maximum(ymin - py, py - ymax), 0.0)
    return np.sqrt(gx * gx + gy * gy)


def np_maxdist_point_rect(px, py, xmin, ymin, xmax, ymax):
    fx = np.maximum(np.abs(px - xmin), np.abs(px - xmax))
    fy = np.maximum(np.abs(py - ymin), np.abs(py - ymax))
    return np.sqrt(fx * fx + fy * fy)


def np_group_min_dist(member_xy: np.ndarray, qx: float, qy: float) -> float:
    """NGQ group score for point members (RTree.cs:938-966).

    innerDist = max pairwise euclidean distance among members;
    interDist = min euclidean distance from q to any member;
    score = innerDist + interDist.
    """
    xs, ys = member_xy[:, 0], member_xy[:, 1]
    dx = xs[:, None] - xs[None, :]
    dy = ys[:, None] - ys[None, :]
    inner = float(np.sqrt(dx * dx + dy * dy).max())
    inter = float(np_dist_point(xs, ys, qx, qy).min())
    return inner + inter
