"""Structured Streaming ingest: streaming documents → cell index + windowed
cell rollups.

The reference is fully batch (SURVEY.md §2.5 — no streaming of any kind);
this module is the engine's streaming ingestion path so a live document feed
lands in the same cell-grid layout the batch operators query:

  readStream → derive geometry (pure Column math — identical expressions to
  the batch path, so stream and batch rows index identically) → cell ids →
  (a) append sink partitioned like the batch index, or
  (b) event-time tumbling-window per-cell counts with a watermark for late
      data (the streaming twin of the cell-stats aggregate in knn.py).

Watermark + window semantics are standard Structured Streaming; state stays
bounded because the key space is (cell, window) with cells ≤ 4^res.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mbrngq_spark import grid
from mbrngq_spark.config import DEFAULT, EngineConfig


def with_stream_geometry(stream: DataFrame, id_col: str = "doc_id",
                         cfg: EngineConfig = DEFAULT,
                         res: int | None = None) -> DataFrame:
    """Attach (x, y, category, cell) to a streaming frame carrying a string
    ``doc_id`` — same hash-derived geometry as sources/synth.py so streamed
    docs land in the same cells as batch-loaded ones."""
    if res is None:
        res = cfg.index_res
    did = F.col(id_col)

    def u(salt: str) -> F.Column:
        return (F.pmod(F.xxhash64(did, F.lit(salt), F.lit(42)), F.lit(1_000_000))
                .cast("double") / F.lit(1e6))

    out = (stream
           .withColumn("x", F.lit(cfg.min_x) + u("x") * F.lit(cfg.width))
           .withColumn("y", F.lit(cfg.min_y) + u("y") * F.lit(cfg.height))
           .withColumn("category",
                       F.pmod(F.xxhash64(did, F.lit("cat")), F.lit(cfg.m))
                       .cast("int")))
    return out.withColumn("cell", grid.cell_encode(F.col("x"), F.col("y"), res, cfg))


def dedup_stream(stream: DataFrame, text_col: str = "text",
                 ts_col: str = "ts",
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup — the stream twin of dedup.exact_duplicates'
    digest discipline: keep the FIRST arrival per text digest, drop
    duplicates arriving within the watermark horizon
    (dropDuplicatesWithinWatermark keeps state bounded by the horizon; at
    100 TB/day the state is one digest row per distinct doc in the window,
    never the raw text)."""
    return (stream
            .withColumn("text_md5", F.md5(F.col(text_col)))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["text_md5"]))


def windowed_cell_counts(stream: DataFrame, ts_col: str = "ts",
                         window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """Event-time tumbling-window per-cell counts with late-data watermark —
    the streaming analog of the batch cell-stats rollup (CalculateBitArray
    shape, RTree.cs:209-247)."""
    return (stream
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("win"),
                     F.col("cell"))
            .agg(F.count("*").alias("n"),
                 F.bit_or(F.expr("shiftleft(1, category)")).cast("long")
                 .alias("catmask"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "cell", "n", "catmask"))
