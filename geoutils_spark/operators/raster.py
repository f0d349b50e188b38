"""Raster -> vector conversion: polygonize a density raster into connected
regions (the GDAL-polygonize / heatmap-blob operation, distributed).

The engine already rasterizes (2D tile/cell histograms — reference A2
density grids, operators/partitioner.py heatmap sink); this module goes the
other way: threshold the raster, merge 4-adjacent occupied cells into
connected regions, report per-region vector stats (bbox, cell count, mass).
That is the "raster-to-vector zonal" leg of the north-star query set:
hotspot extraction from a page-density grid, built-up-area detection from a
feature-count raster, etc.

Plan shape (100 TB story): the raster is ALREADY the small side — a
grid-cell histogram is bounded by 4^zoom cells regardless of input rows, so
the expensive part (points -> per-cell counts) is one partial-aggregating
hash agg of the point set; everything after operates on the occupied-cell
table (<= 4^zoom rows). Adjacency is TWO equi-joins on a computed neighbor
key (right neighbor key+2^zoom, down neighbor key+1 — no theta join, no
crossJoin); region labels come from the shared pointer-doubling
``connected_components`` (O(log diameter) rounds); isolated cells rejoin as
their own regions via one anti-join. Region ids are the minimum raster-scan
cell id in the region — deterministic, partitioning-invariant.

Oracle: min-label closure is replayable as a recursive CTE over the same
edges (queries.py ``geo_raster_regions``), so unlike free-form graph CC the
grid version IS hash-exact-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoutils_spark.functions import cells as C
from geoutils_spark.operators.dedup import connected_components


def grid_occupancy(points: DataFrame, lon: str, lat: str, zoom: int,
                   min_count: int = 1) -> DataFrame:
    """Rasterize points to slippy tiles at ``zoom`` and keep cells with
    ``n >= min_count``. Output: (k, x, y, n) — k = x * 2^zoom + y is the
    raster-scan cell id the region labels minimize over."""
    n = 1 << zoom
    g = C.with_tile_xy(points, lon, lat, zoom, "x", "y")
    occ = (g.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
           .filter(F.col("n") >= min_count))
    return occ.select(
        (F.col("x") * n + F.col("y")).cast("long").alias("k"),
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("n").cast("long").alias("n"),
    )


def tile_pyramid(occ: DataFrame, zoom: int, zoom_min: int) -> DataFrame:
    """Full tile-pyramid rollup (the hypertable/tileserver build step):
    from a leaf occupancy grid at ``zoom`` (columns x, y, n), produce
    every level down to ``zoom_min`` with per-tile counts. Output:
    (zoom, x, y, n), one row per non-empty tile per level.

    Plan shape: ITERATIVE HALVING — each level aggregates the PREVIOUS
    level (x>>1, y>>1), not the leaf grid, so level z costs a shuffle of
    at most 4^z rows and the whole pyramid is a geometric series
    totalling ~1.33x the leaf aggregation (vs ~L x leaf for the naive
    re-aggregate-from-leaves plan). Counts are sums, so coarsening
    composes exactly; the oracle replays each level directly from the
    leaf grid with a bit-shift GROUP BY — same numbers, proving the
    incremental rollup against the declarative definition."""
    lvl = occ.select("x", "y", F.col("n").cast("long").alias("n"))
    out = lvl.select(F.lit(zoom).cast("long").alias("zoom"), "x", "y", "n")
    for z in range(zoom - 1, zoom_min - 1, -1):
        lvl = (lvl.groupBy(F.shiftright("x", 1).alias("x"),
                           F.shiftright("y", 1).alias("y"))
               .agg(F.sum("n").alias("n")))
        out = out.unionByName(
            lvl.select(F.lit(z).cast("long").alias("zoom"), "x", "y", "n"))
    return out


def raster_regions(occ: DataFrame, zoom: int,
                   max_iter: int = 20) -> DataFrame:
    """Polygonize an occupancy grid (output of ``grid_occupancy``) into
    4-connected regions. Output, one row per region:
    (region_id = min cell id k, n_cells, n_points, min_x, max_x, min_y,
    max_y) — the vector bbox + mass of every blob in the raster."""
    n = 1 << zoom
    # adjacency as equi-joins on the computed neighbor key; the down
    # neighbor (y+1) guards the column edge so keys never wrap into x+1
    right = (occ.select(F.col("k").alias("id_a"),
                        (F.col("k") + n).alias("id_b"))
             .join(occ.select(F.col("k").alias("id_b")), "id_b"))
    down = (occ.filter(F.col("y") < n - 1)
            .select(F.col("k").alias("id_a"),
                    (F.col("k") + 1).alias("id_b"))
            .join(occ.select(F.col("k").alias("id_b")), "id_b"))
    edges = right.unionByName(down)
    comps = connected_components(edges, max_iter=max_iter)
    labeled = (occ.join(comps, occ.k == comps.node, "left")
               .select(occ.k, "x", "y", "n",
                       F.coalesce("component_id", occ.k).alias("region_id")))
    return labeled.groupBy("region_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("n_points"),
        F.min("x").alias("min_x"), F.max("x").alias("max_x"),
        F.min("y").alias("min_y"), F.max("y").alias("max_y"),
    )


def rasterize_polygons(polygons: DataFrame, level: int,
                       max_cells: int = 4096) -> DataFrame:
    """Vector -> raster: burn a polygon table onto the level-``level``
    cell grid by CENTER SAMPLING (a cell is covered iff its center is
    inside the polygon — GDAL rasterize's default rule), returning one
    row per occupied cell: (cell_id, n_polys, min_way_id).

    The inverse of ``raster_regions``; reference parity is the split
    side of the tiler (osmsplit routes ways onto cells; this burns
    them). Plan: bbox -> covering cells (bounded explode, loud
    ``max_cells`` guard), cell centers decoded row-locally, the exact
    ray-cast refine (the same Catalyst fold as spatial_join) keeps
    center-inside cells, then ONE partial-aggregating exchange keyed by
    cell id. Polygon payloads never shuffle — the explode carries
    (way_id, ring arrays) only as long as the refine needs them, and
    the refine is a per-row predicate, not a join.
    """
    from geoutils_spark.operators import spatial_join as SJ

    p = SJ.with_covering_cells(polygons, level, max_cells=max_cells)
    p = p.select(
        "way_id",
        F.col("ring.lon").alias("__rx"), F.col("ring.lat").alias("__ry"),
        F.explode("cells").alias("cell_id"))
    clon, clat = C.cell_center_col(F.col("cell_id"), level)
    p = p.withColumn("__clon", clon).withColumn("__clat", clat)
    p = p.filter(SJ.point_in_polygon_col(
        F.col("__clon"), F.col("__clat"), F.col("__rx"), F.col("__ry")))
    return p.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_polys"),
        F.min("way_id").alias("min_way_id"))
