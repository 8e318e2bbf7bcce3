"""Driver-contract harness: engine queries + matching DuckDB oracle SQL.

Every operator exposed in ``__spark_entry__.queries()`` has its parameters
(query points, rects, polygons, k/L, grid constants) defined HERE once; the
Spark callables and the oracle SQL strings are both generated from the same
constants, so engine and oracle can never drift.

Geometry is derived from ``doc_id`` by integer arithmetic that is bit-exact
in both Spark and DuckDB (functions/derive.py), so even floating-point
distance columns hash identically across engines (rounded to 6 dp only to
guard against non-IEEE aggregation order).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.functions import derive

CFG: EngineConfig = DEFAULT

# --- shared literals --------------------------------------------------------

QUERY_POINTS = [
    (0, 11.5, 23.25), (1, 80.25, 14.5), (2, 50.0, 50.0), (3, 3.125, 96.875),
    (4, 97.5, 2.5), (5, 25.0, 75.0), (6, 66.0, 33.5), (7, 42.75, 58.125),
]

RECTS = [
    (0, 10.0, 10.0, 30.0, 25.0),
    (1, 0.0, 0.0, 100.0, 5.0),
    (2, 90.0, 90.0, 100.0, 100.0),
    (3, 40.0, 40.0, 60.0, 60.0),
]

# CCW triangles (poly_id, x1, y1, x2, y2, x3, y3) — convex, so the oracle's
# half-plane test and the engine's general ray-crossing agree except on exact
# boundaries (measure zero for hash-derived doubles)
TRIANGLES = [
    (0, 10.0, 10.0, 45.0, 15.0, 20.0, 40.0),
    (1, 50.0, 50.0, 95.0, 55.0, 70.0, 95.0),
    (2, 5.0, 60.0, 35.0, 65.0, 10.0, 95.0),
    (3, 60.0, 5.0, 95.0, 10.0, 75.0, 35.0),
]

# polylines (line_id, vx, vy) — routes across the domain; no degenerate
# (zero-length) segments so the oracle can use plain division
POLYLINES = [
    (0, [5.0, 30.0, 60.0, 95.0], [5.0, 20.0, 25.0, 60.0]),
    (1, [10.0, 40.0, 40.0], [90.0, 90.0, 60.0]),
    (2, [70.0, 75.0, 90.0, 85.0], [10.0, 40.0, 45.0, 75.0]),
]
LINE_RADIUS = 4.0              # corridor half-width for the polyline join
REF_STEP = 7.0                 # linear-referencing milepost spacing
SIMPLIFY_EPS = 6.0             # Douglas-Peucker tolerance
SIMPLIFY_V = 8                 # derived-polyline vertex count
SIMPLIFY_ROUNDS = 6            # split depth (V−2 ⇒ full DP at V=8)
SIMPLIFY_N = 300               # doc_id cap for the simplify gate
GEO_SIMPLIFY_EPS_M = 2_000_000.0   # spherical DP tolerance (2000 km)
FRECHET_N = 60                 # doc_id cap for the Fréchet pair gate
GEO_FRECHET_N = 40             # doc_id cap for the geodetic similarity gate
SNAP_RADIUS = 8.0              # nearest-polyline snap cutoff
OVERLAY_S = 1.5                # per-doc square half-width (overlay join)
STAY_EPS = 40.0                # stay-point leg threshold (trajectory)
# co-location contact params: the derived event positions are a
# low-discrepancy sequence of event_id, so distances of time-near pairs
# are BANDED with minimum ~14.02 — eps must clear that band to produce
# contacts (16.0 → ~2.9k pairs at sf0.01 within 900 s)
COLOC_EPS = 16.0               # co-location contact distance
COLOC_TAU = 900                # co-location contact window, seconds
COLOC_N = 4000                 # event_id cap for the contact gate fixture
CP_GAP = 21600                 # co-presence sessionize gap (6 h)
CP_WIDTH = 86400               # interval-join bucket width (1 day)
OD_RES = 3                     # origin-destination flow grid (8×8)
MATCH_SWITCH = 8.0             # map-matching route-switch penalty
MATCH_N = 3000                 # event_id cap for the map-matching gate
BAL_P = 8                      # equi-depth partitioner target parts
HULL_N = 300                   # doc_id cap for hull/diameter/skyline gates
#   (bounds the oracle's O(n^3) hull-edge test at 27M triples — large
#   WITH blocks push DuckDB past its join-reorder threshold, and the
#   unplanned triple self-join goes 5x slower at n=500)
GEO_COLOC_EPS_M = 2_000_000.0  # spherical contact distance (2000 km)
SSSP_K = 6                     # bounded-hop shortest-path rounds
SSSP_SOURCES = (0, 1, 2)       # multi-source seeds (doc ids)
STAY_DUR = 600                 # stay-point min duration, seconds
KDE_H = 10.0                   # heatmap kernel bandwidth
KDE_RES = 4                    # heatmap grid (16×16 Morton cells)
CONTOUR_T = 5_000_000_000      # marching-squares isoline level (wq units)

KNN_K = 10
KNN_CAP = 6.0                  # radius-capped Nearest: excludes some answers
EPS_JOIN = 2.0                 # ε-distance self-join radius
DBSCAN_EPS = 5.0               # DBSCAN neighborhood radius
DBSCAN_MINPTS = 5              # DBSCAN core threshold (incl. self)
NGQ_K = 10
NGQ_L = 32
NGQ5_M = 5                     # m≠3 coverage (reference Config.m is free)
NGQ5_K = 5
NGQ5_L = 8                     # keeps the oracle's L^m cross join bounded
TILE_RES = CFG.tile_res        # 64×64 row-major tiles
MASK_RES = 4                   # 16×16 Morton cells for the catmask rollup

FP_PRIME = 1000000007          # doc-fingerprint modulus


def queries_pdf() -> pd.DataFrame:
    return pd.DataFrame(QUERY_POINTS, columns=["query_id", "qx", "qy"])


def rects_pdf() -> pd.DataFrame:
    return pd.DataFrame(RECTS, columns=["rect_id", "xmin", "ymin", "xmax", "ymax"])


# --- SQL fragment builders --------------------------------------------------

# NOTE: DuckDB types bare VALUES literals as INTEGER/DECIMAL — every literal
# table is wrapped in explicit BIGINT/DOUBLE casts so the oracle computes in
# the same types as the engine (DECIMAL arithmetic would silently change the
# distance values).

def q_values_sql() -> str:
    rows = ", ".join(f"({i}, {x}, {y})" for i, x, y in QUERY_POINTS)
    return (f"(SELECT CAST(query_id AS BIGINT) AS query_id, "
            f"CAST(qx AS DOUBLE) AS qx, CAST(qy AS DOUBLE) AS qy "
            f"FROM (VALUES {rows}) AS v(query_id, qx, qy)) AS q")


def rect_values_sql() -> str:
    rows = ", ".join(f"({i}, {a}, {b}, {c}, {d})" for i, a, b, c, d in RECTS)
    return (f"(SELECT CAST(rect_id AS BIGINT) AS rect_id, "
            f"CAST(xmin AS DOUBLE) AS xmin, CAST(ymin AS DOUBLE) AS ymin, "
            f"CAST(xmax AS DOUBLE) AS xmax, CAST(ymax AS DOUBLE) AS ymax "
            f"FROM (VALUES {rows}) AS v(rect_id, xmin, ymin, xmax, ymax)) AS r")


def tri_values_sql() -> str:
    rows = ", ".join(f"({i}, {x1}, {y1}, {x2}, {y2}, {x3}, {y3})"
                     for i, x1, y1, x2, y2, x3, y3 in TRIANGLES)
    return (f"(SELECT CAST(poly_id AS BIGINT) AS poly_id, "
            f"CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1, "
            f"CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2, "
            f"CAST(x3 AS DOUBLE) AS x3, CAST(y3 AS DOUBLE) AS y3 "
            f"FROM (VALUES {rows}) AS v(poly_id, x1, y1, x2, y2, x3, y3)) AS t")


def docs_geo_sql(cfg: EngineConfig = CFG) -> str:
    """CTE body deriving (doc_id, x, y, category) — bit-exact vs Spark.
    ``cfg`` parametrizes m (category = id-mix mod m)."""
    return (f"SELECT doc_id, {derive.x_sql(cfg=cfg)} AS x, "
            f"{derive.y_sql(cfg=cfg)} AS y, "
            f"{derive.category_sql(cfg=cfg)} AS category FROM documents")


def dist_sql(ax: str, ay: str, bx: str, by: str) -> str:
    """Euclidean distance with the exact op order of geom.dist_point."""
    return f"sqrt(({ax} - {bx}) * ({ax} - {bx}) + ({ay} - {by}) * ({ay} - {by}))"


def seg_dist_sql(px: str, py: str,
                 ax: float, ay: float, bx: float, by: float) -> str:
    """Point-to-segment distance with the exact op order of
    lines.segment_distance (literal segment endpoints; dx/dy/len2 are
    constant-folded in Python — the same IEEE doubles the engine derives
    at runtime). Assumes a non-degenerate segment (len2 > 0); the
    engine's try_divide guard only fires on zero-length segments, which
    the POLYLINES fixture excludes by contract."""
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    assert len2 > 0
    t = (f"LEAST(GREATEST((({px} - {ax!r}) * {dx!r} + ({py} - {ay!r})"
         f" * {dy!r}) / {len2!r}, 0.0), 1.0)")
    qx = f"({ax!r} + {t} * {dx!r})"
    qy = f"({ay!r} + {t} * {dy!r})"
    return (f"sqrt(({px} - {qx}) * ({px} - {qx})"
            f" + ({py} - {qy}) * ({py} - {qy}))")


def polyline_dist_sql(px: str, py: str, vx: list, vy: list) -> str:
    """Exact min distance from (px, py) to the whole polyline: LEAST of
    the per-segment expressions (min of doubles — order-independent, so
    it matches the engine's F.min aggregation exactly)."""
    segs = [seg_dist_sql(px, py, vx[i], vy[i], vx[i + 1], vy[i + 1])
            for i in range(len(vx) - 1)]
    return segs[0] if len(segs) == 1 else f"LEAST({', '.join(segs)})"


def quantize_sql(expr: str, lo: float, extent: float, res: int) -> str:
    """Mirror of grid.quantize: floor((v - lo)/extent * 2^res), clamped."""
    n = 1 << res
    return (f"LEAST(GREATEST(CAST(FLOOR(({expr} - {lo}) / {extent} * {float(n)})"
            f" AS BIGINT), 0), {n - 1})")


def morton_sql(ix_expr: str, iy_expr: str, res: int) -> str:
    """Bit-interleave via plain integer arithmetic (works in any ANSI SQL)."""
    def spread(e: str) -> str:
        return " + ".join(f"((({e}) // {1 << b}) % 2) * {1 << (2 * b)}"
                          for b in range(res))
    return f"({spread(ix_expr)}) + 2 * ({spread(iy_expr)})"


# --- Spark-side derived docs -------------------------------------------------

def load_docs_geo(spark: SparkSession, sf_dir: str,
                  cfg: EngineConfig = CFG) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return derive.with_geometry(docs, cfg).select("doc_id", "x", "y", "category")
