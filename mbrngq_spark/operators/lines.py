"""Polyline operators — point↔polyline distance join ("every doc within
d of a route"), the corridor generalization of the ε-point-join.

The reference's geometry kernel stops at point/rect distances
(Point.cs:67-75, Rectangle.cs MINDIST); segment distance is the standard
extension every spatial engine ships. Shape at scale:

- polylines explode to SEGMENTS JVM-side (sequence over vertex indices —
  the polyline table can be arbitrarily large and stays distributed);
- each segment emits the grid cells intersecting its bbox EXPANDED by
  the radius (bounded corridor-area explode at a resolution whose cell
  edge ≥ radius, so the corridor is ~3 cells wide);
- docs carry their single cell (computed once, never replicated);
  one equi-join on the cell key — broadcastable when the route set is
  small, AQE-skew-split otherwise;
- refine = exact point-segment distance as pure Column arithmetic
  (+,-,*,/ and sqrt only — bit-identical across engines), then ONE
  map-side-combinable min per (line, doc).

A (doc, segment) pair meets at most once (the doc's one cell appears
once in the segment's cover), and every segment within ``radius`` of a
doc is guaranteed a candidate (the doc's cell intersects that segment's
expanded bbox), so min-over-candidates == min-over-ALL-segments for
every emitted pair — the join is provably exact, not approximate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mbrngq_spark import grid
from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.operators.distance_join import eps_join_res


def segment_distance(px: Column, py: Column, ax: Column, ay: Column,
                     bx: Column, by: Column) -> Column:
    """Distance from point p to CLOSED segment a-b: clamp the projection
    parameter to [0, 1]; degenerate (a == b) segments fall back to the
    point distance via try_divide→coalesce(0) (ANSI-safe, same op order
    as the SQL oracle twin, harness.seg_dist_sql)."""
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    dot = (px - ax) * dx + (py - ay) * dy
    t = F.least(F.greatest(F.coalesce(F.try_divide(dot, len2), F.lit(0.0)),
                           F.lit(0.0)), F.lit(1.0))
    qx, qy = ax + t * dx, ay + t * dy
    return F.sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy))


def polyline_segments(lines: DataFrame) -> DataFrame:
    """(line_id, seg_idx, ax, ay, bx, by) from (line_id, vx, vy) — JVM
    sequence/explode over vertex indices, no Python."""
    return (lines
            .select("line_id", "vx", "vy",
                    F.posexplode(F.sequence(
                        F.lit(1), F.size("vx") - 1)).alias("seg_idx", "i"))
            .select("line_id", "seg_idx",
                    F.element_at("vx", F.col("i")).alias("ax"),
                    F.element_at("vy", F.col("i")).alias("ay"),
                    F.element_at("vx", F.col("i") + 1).alias("bx"),
                    F.element_at("vy", F.col("i") + 1).alias("by")))


def polyline_distance_join(docs_geo: DataFrame, lines: DataFrame,
                           radius: float, cfg: EngineConfig = DEFAULT,
                           res: int | None = None,
                           id_col: str = "doc_id") -> DataFrame:
    """(line_id, doc_id, dist): every doc within ``radius`` of each
    polyline, dist = exact min distance over the line's segments.

    ``lines``: DataFrame (line_id, vx: array<double>, vy: array<double>)
    — a distributed table, any size. ``docs_geo``: (id_col, x, y)."""
    if res is None:
        res = eps_join_res(radius, cfg)
    n = 1 << res

    seg = polyline_segments(lines)
    r = F.lit(float(radius))
    ix0 = grid.quantize(F.least("ax", "bx") - r, cfg.min_x, cfg.width, res)
    ix1 = grid.quantize(F.greatest("ax", "bx") + r, cfg.min_x, cfg.width, res)
    iy0 = grid.quantize(F.least("ay", "by") - r, cfg.min_y, cfg.height, res)
    iy1 = grid.quantize(F.greatest("ay", "by") + r, cfg.min_y, cfg.height, res)
    cover = (seg
             .withColumn("ix0", ix0).withColumn("ix1", ix1)
             .withColumn("iy0", iy0).withColumn("iy1", iy1)
             .withColumn("ix", F.explode(F.sequence("ix0", "ix1")))
             .withColumn("iy", F.explode(F.sequence("iy0", "iy1")))
             .withColumn("cell", grid.cell_from_indices(F.col("ix"),
                                                        F.col("iy")))
             .select("line_id", "ax", "ay", "bx", "by", "cell"))

    docs = (docs_geo.select(F.col(id_col).alias("doc_id"), "x", "y")
            .withColumn("cell", grid.cell_encode(F.col("x"), F.col("y"),
                                                 res, cfg)))
    d = segment_distance(F.col("x"), F.col("y"), F.col("ax"), F.col("ay"),
                         F.col("bx"), F.col("by"))
    return (docs.join(cover, "cell")
            .withColumn("__d", d)
            .groupBy("line_id", "doc_id")
            .agg(F.min("__d").alias("dist"))
            .filter(F.col("dist") <= r)
            .select("line_id", F.col("doc_id").alias(id_col), "dist"))


def nearest_polyline(docs_geo: DataFrame, lines: DataFrame,
                     max_radius: float, k: int = 1,
                     cfg: EngineConfig = DEFAULT,
                     id_col: str = "doc_id") -> DataFrame:
    """Map-matching lite: each doc's ``k`` nearest polylines within
    ``max_radius`` — (doc_id, line_id, dist, rank). Candidates come from
    the corridor join (provably complete within the radius); the rank
    orders on the RAW double distance (bit-identical across engines —
    sqrt of identical arithmetic) with line_id as the tie anchor, and
    compiles to a WindowGroupLimit (each map task forwards ≤ k rows per
    doc into the exchange)."""
    from pyspark.sql import Window

    cand = polyline_distance_join(docs_geo, lines, max_radius,
                                  cfg=cfg, id_col=id_col)
    w = Window.partitionBy(id_col).orderBy(F.col("dist").asc(),
                                           F.col("line_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "line_id", "dist",
                    F.col("rank").cast("long").alias("rank")))


def segment_crossing_join(tracks: DataFrame, lines: DataFrame,
                          cfg: EngineConfig = DEFAULT,
                          res: int | None = None,
                          id_col: str = "doc_id") -> DataFrame:
    """Route-crossing detection: every (track, polyline) pair whose
    segments properly cross, WITH the crossing point — (line_id, doc_id,
    seg_idx, cx, cy). ``tracks`` carries one segment per row (id_col,
    ax, ay, bx, by) — e.g. a trajectory leg; ``lines`` is the polyline
    table (line_id, vx, vy).

    Candidates: route segments emit the cells of their bbox (JVM
    explode), tracks emit the cells of THEIR bbox; equi-join on cell,
    dedup by the min-shared-cell arithmetic (overlay.py discipline).
    Refine: proper-crossing via four orientation signs; the crossing
    point is a1 + t·(a2−a1) with t = o3/(o3−o4) — one division, same op
    order both engines, so rounded coordinates match exactly.
    General-position contract (no collinear overlap), as in the overlay
    tier."""
    from mbrngq_spark.operators.overlay import _orient

    if res is None:

        res = cfg.index_res

    def q(col, lo, extent):
        return grid.quantize(col, lo, extent, res)

    seg = polyline_segments(lines)
    cov_l = (seg
             .withColumn("__lx0", F.least("ax", "bx"))
             .withColumn("__lx1", F.greatest("ax", "bx"))
             .withColumn("__ly0", F.least("ay", "by"))
             .withColumn("__ly1", F.greatest("ay", "by"))
             .withColumn("__ix", F.explode(F.sequence(
                 q(F.col("__lx0"), cfg.min_x, cfg.width),
                 q(F.col("__lx1"), cfg.min_x, cfg.width))))
             .withColumn("__iy", F.explode(F.sequence(
                 q(F.col("__ly0"), cfg.min_y, cfg.height),
                 q(F.col("__ly1"), cfg.min_y, cfg.height))))
             .withColumn("cell", grid.cell_from_indices(F.col("__ix"),
                                                        F.col("__iy")))
             .select("line_id", "seg_idx",
                     F.col("ax").alias("lax"), F.col("ay").alias("lay"),
                     F.col("bx").alias("lbx"), F.col("by").alias("lby"),
                     "__lx0", "__ly0", "cell"))
    cov_t = (tracks
             .withColumn("__tx0", F.least("ax", "bx"))
             .withColumn("__tx1", F.greatest("ax", "bx"))
             .withColumn("__ty0", F.least("ay", "by"))
             .withColumn("__ty1", F.greatest("ay", "by"))
             .withColumn("__ix", F.explode(F.sequence(
                 q(F.col("__tx0"), cfg.min_x, cfg.width),
                 q(F.col("__tx1"), cfg.min_x, cfg.width))))
             .withColumn("__iy", F.explode(F.sequence(
                 q(F.col("__ty0"), cfg.min_y, cfg.height),
                 q(F.col("__ty1"), cfg.min_y, cfg.height))))
             .withColumn("cell", grid.cell_from_indices(F.col("__ix"),
                                                        F.col("__iy")))
             .select(id_col, "ax", "ay", "bx", "by",
                     "__tx0", "__ty0", "cell"))
    cand = (cov_t.join(F.broadcast(cov_l), "cell")
            .filter(F.col("cell") == grid.cell_from_indices(
                q(F.greatest("__tx0", "__lx0"), cfg.min_x, cfg.width),
                q(F.greatest("__ty0", "__ly0"), cfg.min_y, cfg.height))))

    o1 = _orient(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
                 F.col("lax"), F.col("lay"))
    o2 = _orient(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
                 F.col("lbx"), F.col("lby"))
    o3 = _orient(F.col("lax"), F.col("lay"), F.col("lbx"), F.col("lby"),
                 F.col("ax"), F.col("ay"))
    o4 = _orient(F.col("lax"), F.col("lay"), F.col("lbx"), F.col("lby"),
                 F.col("bx"), F.col("by"))
    t = o3 / (o3 - o4)
    return (cand.filter((o1 * o2 < 0) & (o3 * o4 < 0))
            .select("line_id", id_col,
                    F.col("seg_idx").cast("long").alias("seg_idx"),
                    (F.col("ax") + t * (F.col("bx") - F.col("ax")))
                    .alias("cx"),
                    (F.col("ay") + t * (F.col("by") - F.col("ay")))
                    .alias("cy")))


def points_along(lines: DataFrame, step: float,
                 quant: float = 1e9) -> DataFrame:
    """Linear referencing: points at distances 0, step, 2·step, … along
    each polyline (milepost generation / route resampling) —
    (line_id, k, seg_idx, px, py) with the k-th point at arc distance
    k·step, carried by the segment that contains it.

    Cross-engine exactness: segment lengths are int64-quantized
    (round(len·quant), HALF_UP — lengths are nonnegative) BEFORE the
    cumulative sum, so the running offset is exact integer arithmetic —
    immune to the windowed-double-sum reordering DuckDB's segment-tree
    frames can introduce. The k-range per segment is then PURE integer
    ceil-division: k ∈ [⌈cumq/stepq⌉, ⌈(cumq+lenq)/stepq⌉ − 1] (a point
    landing exactly on a segment boundary belongs to the NEXT segment;
    the final endpoint at exactly the total length is omitted — contract:
    k·step < total). The interpolation parameter t = (k·stepq − cumq)/lenq
    is one int→double division; px/py are +,* over it — bit-identical
    across engines. Zero-length segments emit no points and never reach
    the division.

    Shape at scale: explode to segments (JVM), one window over
    (line_id, seg_idx) — per-line state only, lines parallelize freely —
    then a bounded sequence/explode; map-only after the single per-line
    window, no join."""
    from pyspark.sql import Window

    stepq = int(round(step * quant))
    d2 = ((F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax"))
          + (F.col("by") - F.col("ay")) * (F.col("by") - F.col("ay")))
    w = Window.partitionBy("line_id").orderBy("seg_idx") \
        .rowsBetween(Window.unboundedPreceding, -1)
    seg = (polyline_segments(lines)
           .withColumn("lenq", F.round(F.sqrt(d2)
                                       * F.lit(quant)).cast("long"))
           .withColumn("cumq", F.coalesce(F.sum("lenq").over(w),
                                          F.lit(0)).cast("long")))
    k0 = F.expr(f"(cumq + {stepq - 1}) div {stepq}")
    k1 = F.expr(f"(cumq + lenq + {stepq - 1}) div {stepq} - 1")
    ks = F.when(k0 <= k1, F.sequence(k0, k1)) \
        .otherwise(F.expr("CAST(array() AS array<bigint>)"))
    t = (F.col("k") * F.lit(stepq) - F.col("cumq")).cast("double") \
        / F.col("lenq").cast("double")
    return (seg.withColumn("k", F.explode(ks))
            .select("line_id", "k",
                    F.col("seg_idx").cast("long").alias("seg_idx"),
                    (F.col("ax") + t * (F.col("bx") - F.col("ax")))
                    .alias("px"),
                    (F.col("ay") + t * (F.col("by") - F.col("ay")))
                    .alias("py")))


def polyline_length(lines: DataFrame) -> DataFrame:
    """(line_id, length): sum of segment lengths — one aggregate fold
    inside the array (no explode, no shuffle beyond the input layout)."""
    seg_len = F.expr("""
        aggregate(sequence(1, size(vx) - 1), CAST(0.0 AS DOUBLE),
                  (acc, i) -> acc + sqrt(
                    (element_at(vx, i + 1) - element_at(vx, i))
                      * (element_at(vx, i + 1) - element_at(vx, i))
                    + (element_at(vy, i + 1) - element_at(vy, i))
                      * (element_at(vy, i + 1) - element_at(vy, i))))
    """)
    return lines.select("line_id", seg_len.alias("length"))


def simplify_polylines(lines: DataFrame, eps: float, max_rounds: int = 5,
                       quant: float = 1e9) -> DataFrame:
    """Douglas-Peucker polyline simplification to split depth
    ``max_rounds`` — the classic geometry-reduction operator, expressed
    as bounded BFS rounds instead of recursion (the sssp_khop
    discipline, so a SQL oracle can replay it round for round):

    round 0 anchors every line with (first, last); each round, every
    active anchor (i, j) finds its max-distance interior vertex by the
    EXACT int64-quantized point-segment distance (round(d·quant) —
    HALF_UP both engines) with the (−dq, idx) tiebreak, and splits iff
    dq > eps·quant. Kept vertices = every anchor endpoint ever created.
    Depth-``max_rounds`` DP equals full DP whenever the split tree is
    no deeper (V−2 bounds it); either way the semantics are exact and
    engine-independent.

    Shape at scale: vertices explode once (JVM posexplode); each round
    is one line-keyed join + one windowed argmax over the shrinking
    anchor set, localCheckpoint per round. Returns
    (line_id, idx, vx, vy) — the kept vertices in index order."""
    from pyspark.sql import Window

    epsq = int(round(eps * quant))
    # posexplode gives (pos, value) for vx; vy fetched by position
    verts = (lines
             .select("line_id", F.size("vx").alias("__n"),
                     F.posexplode(F.col("vx")).alias("idx", "vx"),
                     F.col("vy").alias("__vys"))
             .withColumn("vy", F.element_at(F.col("__vys"),
                                            F.col("idx") + F.lit(1)))
             .select("line_id", "idx", "vx", "vy", "__n")
             .localCheckpoint(eager=True))
    v = verts.select("line_id", "idx", "vx", "vy")
    anchors = (verts.filter(F.col("idx") == 0)
               .select("line_id", F.lit(0).cast("long").alias("i"),
                       (F.col("__n") - 1).cast("long").alias("j"))
               .filter(F.col("j") > 0))
    # endpoints are ALWAYS kept — including single-vertex lines, which
    # have no anchor (idx 0 == n−1) but must survive simplification
    kept = (verts.filter((F.col("idx") == 0)
                         | (F.col("idx") == F.col("__n") - 1))
            .select("line_id", F.col("idx").cast("long").alias("idx")))
    d = segment_distance(F.col("vx"), F.col("vy"), F.col("xi"),
                         F.col("yi"), F.col("xj"), F.col("yj"))
    for _ in range(int(max_rounds)):
        pi = v.select("line_id", F.col("idx").alias("i"),
                      F.col("vx").alias("xi"), F.col("vy").alias("yi"))
        pj = v.select("line_id", F.col("idx").alias("j"),
                      F.col("vx").alias("xj"), F.col("vy").alias("yj"))
        cand = (anchors.join(pi, ["line_id", "i"])
                .join(pj, ["line_id", "j"])
                .join(v, "line_id")
                .filter((F.col("idx") > F.col("i"))
                        & (F.col("idx") < F.col("j")))
                .withColumn("dq", F.round(d * F.lit(quant)).cast("long")))
        w = Window.partitionBy("line_id", "i", "j") \
            .orderBy(F.col("dq").desc(), F.col("idx").asc())
        split = (cand.withColumn("__rn", F.row_number().over(w))
                 .filter((F.col("__rn") == 1) & (F.col("dq") > epsq))
                 .select("line_id", "i", "j", F.col("idx").alias("m")))
        anchors = (split.select("line_id", "i", F.col("m").alias("j"))
                   .unionByName(split.select("line_id",
                                             F.col("m").alias("i"), "j"))
                   .localCheckpoint(eager=True))
        kept = kept.unionByName(
            split.select("line_id", F.col("m").alias("idx")))
        if anchors.isEmpty():
            break
    return (kept.distinct()
            .join(v, ["line_id", "idx"])
            .select("line_id", "idx", "vx", "vy"))
