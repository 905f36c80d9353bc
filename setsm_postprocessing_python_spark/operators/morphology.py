"""Morphology over the occupied-cell set — imerode/imdilate/range filter.

Reference semantics (citations into /root/reference):
- imdilate/imerode, binary, radius-r square kernels
  (lib/raster_array_tools.py:2270-2403),
- bwboundaries_array: 1-px boundary = array != erode(array)
  (lib/raster_array_tools.py:2441-2538),
- max1d - min1d range filter feeding the water mask
  (lib/filter_scene.py:1354-1356).

Cell-space recast: a binary raster = the set of occupied cells; dilation is
the distinct union of k-rings, erosion keeps cells whose full k-ring is
occupied, boundary = occupied minus eroded (computed inline by
q_morphology as is_occupied & ~is_eroded). Value-space range filter =
ring max - ring min. All pure DataFrame algebra (explode + aggregate),
two-stage and skew-tolerant. Large radii = iterate (the reference applies
radius-31/61 kernels the same way: repeated small kernels).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..sql import dialect as D
from .knn import ring_offsets


def _ring_scatter(cells: DataFrame, ring: int, keep_self: bool = True) -> DataFrame:
    offsets = [(dx, dy) for dx, dy in ring_offsets(ring)
               if keep_self or not (dx == 0 and dy == 0)]
    arr = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in offsets])
    return (cells.withColumn("_o", F.explode(arr))
            .select(((F.col("cell_y") + F.col("_o.dy")) * D.LON_CELL_STRIDE
                     + (F.col("cell_x") + F.col("_o.dx"))).alias("cell"),
                    (F.col("cell_x") + F.col("_o.dx")).alias("cell_x"),
                    (F.col("cell_y") + F.col("_o.dy")).alias("cell_y")))


def imdilate(cells: DataFrame, ring: int = 1) -> DataFrame:
    """Binary dilation: every cell within `ring` of an occupied cell."""
    return _ring_scatter(cells, ring).distinct()


def imerode(cells: DataFrame, ring: int = 1) -> DataFrame:
    """Binary erosion: occupied cells whose entire (2r+1)^2 neighborhood
    is occupied. Implemented as scatter + count == kernel size (each
    occupied neighbor contributes one vote to the center)."""
    k = (2 * ring + 1) ** 2
    votes = (_ring_scatter(cells, ring)
             .groupBy("cell").agg(F.count(F.lit(1)).alias("v")))
    occ = cells.select("cell", "cell_x", "cell_y")
    return (occ.join(votes, "cell").where(F.col("v") == k)
            .select("cell", "cell_x", "cell_y"))


def ring_range_filter(df: DataFrame, value: str, ring: int = 1) -> DataFrame:
    """max - min of `value` over each occupied cell's k-ring (the
    maximum_filter1d - minimum_filter1d analogue, 2-D form)."""
    per_cell = df.groupBy("cell", "cell_x", "cell_y").agg(
        F.max(value).alias("vmax"), F.min(value).alias("vmin"))
    arr = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                             F.lit(dx == 0 and dy == 0).alias("s"))
                    for dx, dy in ring_offsets(ring)])
    scattered = (per_cell.withColumn("_o", F.explode(arr))
                 .select(((F.col("cell_y") + F.col("_o.dy")) * D.LON_CELL_STRIDE
                          + (F.col("cell_x") + F.col("_o.dx"))).alias("target_cell"),
                         "vmax", "vmin", F.col("_o.s").alias("_self")))
    # occupied flag rides the scatter shuffle — no join back to occupied
    rng = scattered.groupBy("target_cell").agg(
        (F.max("vmax") - F.min("vmin")).alias("vrange"),
        F.max("_self").alias("_occ"))
    return (rng.where("_occ")
            .select(F.col("target_cell").alias("cell"), "vrange"))
