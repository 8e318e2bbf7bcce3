"""Polygon-polygon overlay (intersects) join — the spatial-overlay
generalization of the PIP join (reference parity: RTree.cs stops at
point/rect predicates, Contains/Intersects at RTree.cs:1790-2070; full
polygon×polygon overlay is engine-new surface every GIS stack ships).

Predicate (general-position contract — no collinear touching, the same
measure-zero assumption as the PNPOLY tier):

    intersects(A, B) ⇔ some edge of A properly crosses some edge of B
                       ∨ B's first vertex is inside A
                       ∨ A's first vertex is inside B

(if no edges cross, one polygon inside the other ⇒ EVERY vertex inside
⇒ testing one suffices). Edge crossing is four orientation signs —
pure multiply/subtract Column math, bit-identical across engines; the
containment fallback is the PIP tier's even-odd fold.

Shape at scale: both polygon tables explode to the covering cells of
their bboxes (the `point_in_polygon_join_distributed` prune), one
equi-join on the cell key, pair-dedup via min-cell (a bbox-overlapping
pair meets in EVERY shared cover cell — the refine must run once, so
pairs are kept only where the join cell equals the pair's minimum
shared cell: pure arithmetic, no distinct pass), then the edge/PNPOLY
refine as one nested fold. Vertex arrays ride the cover rows (small-
polygon assumption, as in the PIP prune).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mbrngq_spark import grid
from mbrngq_spark.config import DEFAULT, EngineConfig


def _orient(px, py, qx, qy, rx, ry) -> Column:
    """Signed area orientation of (p, q, r)."""
    return (qx - px) * (ry - py) - (qy - py) * (rx - px)


def _edges_cross(avx: str, avy: str, bvx: str, bvy: str) -> Column:
    """True iff any edge of ring a properly crosses any edge of ring b
    (closed rings over the vertex arrays; nested F.exists folds)."""
    na, nb = F.size(avx), F.size(bvx)

    def vert(arr, i, n):
        # 0-based edge index i -> 1-based vertex, next wraps to 1
        return (F.element_at(F.col(arr), (i + 1).cast("int")),
                F.element_at(F.col(arr),
                             (F.pmod(i + 1, n) + 1).cast("int")))

    def cross_one(i, j):
        ax1, ax2 = vert(avx, i, na)
        ay1, ay2 = vert(avy, i, na)
        bx1, bx2 = vert(bvx, j, nb)
        by1, by2 = vert(bvy, j, nb)
        o1 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
        o2 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
        o3 = _orient(bx1, by1, bx2, by2, ax1, ay1)
        o4 = _orient(bx1, by1, bx2, by2, ax2, ay2)
        return (o1 * o2 < 0) & (o3 * o4 < 0)

    return F.exists(
        F.sequence(F.lit(0), na - 1),
        lambda i: F.exists(F.sequence(F.lit(0), nb - 1),
                           lambda j: cross_one(i, j)))


def _pnpoly_arrays(px: Column, py: Column, vx: str, vy: str) -> Column:
    """Even-odd containment of (px, py) in the (vx, vy) ring — the PIP
    tier's fold (pip.py:123-134) parameterized by array column names."""
    n = F.size(vx)

    def flip(i):
        j = F.pmod(i - 1 + n, n)
        xi = F.element_at(F.col(vx), (i + 1).cast("int"))
        xj = F.element_at(F.col(vx), (j + 1).cast("int"))
        yi = F.element_at(F.col(vy), (i + 1).cast("int"))
        yj = F.element_at(F.col(vy), (j + 1).cast("int"))
        crosses = (yi > py) != (yj > py)
        xcut = (xj - xi) * F.try_divide(py - yi, yj - yi) + xi
        return F.when(crosses & (px < xcut), 1).otherwise(0)

    flips = F.aggregate(F.sequence(F.lit(0), n - 1), F.lit(0),
                        lambda acc, i: acc + flip(i))
    return F.pmod(flips, F.lit(2)) == 1


def polygon_measures(polys: DataFrame, id_col: str = "poly_id"
                     ) -> DataFrame:
    """(id, area, perimeter, cx, cy) for each simple polygon — shoelace
    signed area, edge-length perimeter, and the area-weighted centroid,
    all as ONE map-only pass of sequential F.aggregate folds over the
    vertex arrays. Fold order is the vertex index order in BOTH engines
    (Spark's aggregate and an unrolled left-to-right SQL sum associate
    identically), so every double is bit-exact cross-engine — the
    planar-measure companion of geodetic_polygon_area. ``area`` is
    signed (positive = CCW); callers abs() if they only want magnitude.
    Degenerate (zero-area) polygons yield null centroids (try_divide)."""
    n = F.size("vx")

    def at(arr, i):
        return F.element_at(F.col(arr), i.cast("int"))

    def nxt(i):
        return (F.pmod(i, n) + 1).cast("int")

    def fold(term):
        return F.aggregate(F.sequence(F.lit(1), n),
                           F.lit(0.0), lambda acc, i: acc + term(i))

    def cross(i):
        return (at("vx", i) * F.element_at(F.col("vy"), nxt(i))
                - F.element_at(F.col("vx"), nxt(i)) * at("vy", i))

    two_a = fold(cross)
    perim = fold(lambda i: F.sqrt(
        (F.element_at(F.col("vx"), nxt(i)) - at("vx", i))
        * (F.element_at(F.col("vx"), nxt(i)) - at("vx", i))
        + (F.element_at(F.col("vy"), nxt(i)) - at("vy", i))
        * (F.element_at(F.col("vy"), nxt(i)) - at("vy", i))))
    cxn = fold(lambda i: (at("vx", i)
                          + F.element_at(F.col("vx"), nxt(i))) * cross(i))
    cyn = fold(lambda i: (at("vy", i)
                          + F.element_at(F.col("vy"), nxt(i))) * cross(i))
    return polys.select(
        id_col,
        (two_a / 2).alias("area"),
        perim.alias("perimeter"),
        F.try_divide(cxn, 3 * two_a).alias("cx"),
        F.try_divide(cyn, 3 * two_a).alias("cy"))


def polygon_intersects_join(polys_a: DataFrame, polys_b: DataFrame,
                            res: int | None = None,
                            cfg: EngineConfig = DEFAULT,
                            a_id: str = "a_id", b_id: str = "b_id",
                            broadcast_a: bool = True) -> DataFrame:
    """(a_id, b_id) for every intersecting polygon pair. Inputs carry
    (<id>, vx array<double>, vy array<double>); both tables arbitrary
    size and fully distributed."""
    if res is None:
        res = cfg.index_res

    def cover(df, idc, pre):
        p = (df.select(F.col(idc), F.col("vx").alias(f"{pre}vx"),
                       F.col("vy").alias(f"{pre}vy"))
             .withColumn(f"{pre}x0", F.array_min(f"{pre}vx"))
             .withColumn(f"{pre}x1", F.array_max(f"{pre}vx"))
             .withColumn(f"{pre}y0", F.array_min(f"{pre}vy"))
             .withColumn(f"{pre}y1", F.array_max(f"{pre}vy")))
        ix0 = grid.quantize(F.col(f"{pre}x0"), cfg.min_x, cfg.width, res)
        ix1 = grid.quantize(F.col(f"{pre}x1"), cfg.min_x, cfg.width, res)
        iy0 = grid.quantize(F.col(f"{pre}y0"), cfg.min_y, cfg.height, res)
        iy1 = grid.quantize(F.col(f"{pre}y1"), cfg.min_y, cfg.height, res)
        return (p.withColumn("__ix", F.explode(F.sequence(ix0, ix1)))
                .withColumn("__iy", F.explode(F.sequence(iy0, iy1)))
                .withColumn("cell", grid.cell_from_indices(
                    F.col("__ix"), F.col("__iy")))
                .drop("__ix", "__iy"))

    ca = cover(polys_a, a_id, "a_")
    cb = cover(polys_b, b_id, "b_")
    cand = (cb.join(F.broadcast(ca) if broadcast_a else ca, "cell")
            # exact bbox overlap, then refine each pair ONCE: only in the
            # pair's minimum SHARED cover cell (= cell of the overlap
            # bbox's min corner — both covers contain it by construction)
            .filter((F.col("a_x0") <= F.col("b_x1"))
                    & (F.col("b_x0") <= F.col("a_x1"))
                    & (F.col("a_y0") <= F.col("b_y1"))
                    & (F.col("b_y0") <= F.col("a_y1")))
            .filter(F.col("cell") == grid.cell_from_indices(
                grid.quantize(F.greatest("a_x0", "b_x0"),
                              cfg.min_x, cfg.width, res),
                grid.quantize(F.greatest("a_y0", "b_y0"),
                              cfg.min_y, cfg.height, res))))

    first = lambda arr: F.element_at(F.col(arr), 1)  # noqa: E731
    hit = (_edges_cross("a_vx", "a_vy", "b_vx", "b_vy")
           | _pnpoly_arrays(first("b_vx"), first("b_vy"), "a_vx", "a_vy")
           | _pnpoly_arrays(first("a_vx"), first("a_vy"), "b_vx", "b_vy"))
    return cand.filter(hit).select(a_id, b_id)
