"""Cell-indexed spatial join: point-in-polygon at web scale.

The scale story (SURVEY.md §2 G10/J2/J3): containment becomes *equality after
indexing*. Points get one level-L cell (attribute column); polygons get their
covering cell set (reference semantics: a way is assigned to every covered
cell, /root/reference/osms2split/src/s2splitter.cpp:91-135) which we
``explode`` — then the spatial join is a plain equi-join on ``cell_id`` that
Catalyst/AQE can broadcast, shuffle, or skew-split like any other join, and
Iceberg/parquet partition pruning on ``cell_id`` works for free. An exact
vectorized ray-cast refines the candidates (analog of the reference's exact
Clipper/S2 containment, /root/reference/osm2assimp/utils.cpp:95-154 and
viewfilter.cpp:32-43).

No Python in the point-in-polygon refine: the ray-cast is a Catalyst
``aggregate`` fold over ring edges, evaluated in the join itself; the numpy
kernels below are its parity reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoutils_spark.functions import cells as C

DEFAULT_MAX_COVER_CELLS = 4096


# ---------------------------------------------------------------------------
# Polygon -> covering cells
# ---------------------------------------------------------------------------

def with_covering_cells(df: DataFrame, level: int, bbox: str = "bbox",
                        out: str = "cells",
                        max_cells: int = DEFAULT_MAX_COVER_CELLS) -> DataFrame:
    """Add ``out``: array of level-``level`` cell ids covering the bbox.

    bbox cover (not exact polygon cover) is deliberate: candidates are refined
    by the exact ray-cast afterwards, same prefilter role as the reference's
    box-tree routing (/root/reference/osmsplit/osmsplitconfig.cpp:128-154).
    Rows whose bbox would cover more than ``max_cells`` cells raise — at scale
    you index oversized polygons at a coarser level instead (multi-level
    assignment), not by exploding millions of cells.
    """
    # lat max -> y min (v grows southward).
    df = C.with_tile_xy(df, f"{bbox}.minx", f"{bbox}.maxy", level, "__x0", "__y0")
    df = C.with_tile_xy(df, f"{bbox}.maxx", f"{bbox}.miny", level, "__x1", "__y1")
    n_cells = (F.col("__x1") - F.col("__x0") + 1) * (F.col("__y1") - F.col("__y0") + 1)
    # Guard lives inside the consumed expression so it cannot be pruned:
    # oversize bboxes fail loudly instead of exploding a billion-element array.
    xs = F.when(
        n_cells <= max_cells, F.sequence(F.col("__x0"), F.col("__x1"))
    ).otherwise(
        F.array(
            F.assert_true(
                F.lit(False),
                F.concat(F.lit(f"covering cells exceed max_cells={max_cells}: "),
                         n_cells.cast("string")),
            ).cast("long")
        )
    )
    ys = F.sequence(F.col("__y0"), F.col("__y1"))
    cell_of = lambda x, y: _encode_lambda(x, y, level)  # noqa: E731
    df = df.withColumn(
        out,
        F.flatten(F.transform(xs, lambda x: F.transform(ys, lambda y: cell_of(x, y)))),
    )
    return df.drop("__x0", "__y0", "__x1", "__y1")


def _encode_lambda(x: Column, y: Column, level: int) -> Column:
    # Lambda vars are leaf expressions — the 2x-per-step duplication stays tiny.
    return C.cell_from_tile_col(x, y, level)


# ---------------------------------------------------------------------------
# Exact ray-cast point-in-polygon: numpy reference + Catalyst predicate
# ---------------------------------------------------------------------------

def _ring_crossings_np(px: np.ndarray, py: np.ndarray, xs_list, ys_list) -> np.ndarray:
    """Per-entry ray-crossing counts, fully vectorized across rows *and* edges.

    Half-open rule: edge crosses iff (y1 > py) != (y2 > py) and the
    intersection x lies strictly right of the point — deterministic on
    boundaries, no libm-dependent branches (integer-robust in the same spirit
    as the reference's Clipper int-scaling, utils.cpp:95-105).
    """
    n = len(px)
    lens = np.fromiter((len(a) for a in xs_list), dtype=np.int64, count=n)
    nedges = lens - 1  # rings are closed (first == last)
    xs_flat = np.concatenate([np.asarray(a, float) for a in xs_list])
    ys_flat = np.concatenate([np.asarray(a, float) for a in ys_list])
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    total = int(nedges.sum())
    # per-ring arange: [0..nedges_r) for each row r
    row_of_edge = np.repeat(np.arange(n), nedges)
    edge_local = np.arange(total) - np.repeat(np.cumsum(nedges) - nedges, nedges)
    idx = starts[row_of_edge] + edge_local
    x1, x2 = xs_flat[idx], xs_flat[idx + 1]
    y1, y2 = ys_flat[idx], ys_flat[idx + 1]
    pxe, pye = px[row_of_edge], py[row_of_edge]
    cond = (y1 > pye) != (y2 > pye)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = x1 + (pye - y1) / (y2 - y1) * (x2 - x1)
    crossing = cond & (pxe < xint)
    return np.bincount(row_of_edge[crossing], minlength=n)


def ray_cast_np(px: np.ndarray, py: np.ndarray, xs_list, ys_list) -> np.ndarray:
    """Even-odd point-in-single-ring test (see _ring_crossings_np)."""
    if len(px) == 0:
        return np.zeros(0, dtype=bool)
    return (_ring_crossings_np(px, py, xs_list, ys_list) % 2) == 1


def ray_cast_rings_np(px: np.ndarray, py: np.ndarray,
                      rings_x_list, rings_y_list) -> np.ndarray:
    """Even-odd point-in-multi-ring-polygon: crossings are summed across ALL
    rings of a row (outer + interior), so a point inside an interior ring
    (hole) has even total parity and is excluded — the even-odd fill rule the
    reference applies via Clipper (pftEvenOdd,
    /root/reference/osm2assimp/utils.cpp:95-154; donut ground meshes
    exercised at /root/reference/osm2assimp/test.cpp:26-76).

    ``rings_x_list[i]`` is the row's sequence of rings, each a closed
    coordinate array (first == last).
    """
    n = len(px)
    if n == 0:
        return np.zeros(0, dtype=bool)
    nrings = np.fromiter((len(r) for r in rings_x_list), dtype=np.int64, count=n)
    xs_list = [np.asarray(a, float) for row in rings_x_list for a in row]
    ys_list = [np.asarray(a, float) for row in rings_y_list for a in row]
    if not xs_list:
        return np.zeros(n, dtype=bool)
    row_of_ring = np.repeat(np.arange(n), nrings)
    crossings = _ring_crossings_np(px[row_of_ring], py[row_of_ring],
                                   xs_list, ys_list)
    counts = np.bincount(row_of_ring, weights=crossings, minlength=n)
    return (counts.astype(np.int64) % 2) == 1


def _ring_fold(xs: Column, ys: Column, acc: Column) -> Column:
    """Fold one ring's edges into ``acc = struct(n, x, y)``, counting in
    ``n`` the crossings of the ray from ``(x, y)`` with the half-open rule
    and float expression order of ``_ring_crossings_np`` (bit-identical).
    The point rides in the accumulator, so the lambda captures only the
    ring arrays (a point-capturing lambda has been seen pushed below the
    polygon side's ``Generate``; ``test_join_plan_has_no_refine_python_eval``
    pins the predicate above it)."""
    size = F.size(xs)
    # sequence(0, -1) counts downward: rings of < 2 points have no edges
    edges = F.when(size > 1, F.sequence(F.lit(0), size - 2)) \
        .otherwise(F.array().cast("array<int>"))

    def step(a: Column, i: Column) -> Column:
        px, py = a["x"], a["y"]
        x1, x2, y1, y2 = xs[i], xs[i + 1], ys[i], ys[i + 1]
        xint = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
        # an edge with a NaN y has a NaN xint: numpy compares it false,
        # Spark orders NaN above every double. The CASE keeps the division
        # off horizontal edges (ANSI divide-by-zero).
        crosses = F.when((y1 > py) != (y2 > py),
                         (px < xint) & ~F.isnan(xint)).otherwise(F.lit(False))
        return F.struct((a["n"] + F.when(crosses, 1).otherwise(0)).alias("n"),
                        px.alias("x"), py.alias("y"))

    return F.aggregate(edges, acc, step)


def _point_acc(lon: Column, lat: Column) -> Column:
    return F.struct(F.lit(0).alias("n"), lon.cast("double").alias("x"),
                    lat.cast("double").alias("y"))


def point_in_polygon_col(lon: Column, lat: Column,
                         ring_x: Column, ring_y: Column) -> Column:
    """Even-odd point-in-ring predicate; row-for-row ``ray_cast_np``."""
    return _ring_fold(ring_x, ring_y, _point_acc(lon, lat))["n"] % 2 == 1


def point_in_rings_col(lon: Column, lat: Column,
                       rings_x: Column, rings_y: Column) -> Column:
    """Even-odd multi-ring predicate, crossings summed over every ring
    (holes); row-for-row ``ray_cast_rings_np``."""
    rings = F.arrays_zip(rings_x.alias("x"), rings_y.alias("y"))
    acc = F.aggregate(rings, _point_acc(lon, lat),
                      lambda a, r: _ring_fold(r["x"], r["y"], a))
    return acc["n"] % 2 == 1


# ---------------------------------------------------------------------------
# The join
# ---------------------------------------------------------------------------

def spatial_join(points: DataFrame, polygons: DataFrame, level: int,
                 lon: str = "lon", lat: str = "lat",
                 point_cols: tuple = ("page_id",),
                 broadcast_polygons: bool = True,
                 exact: bool = True,
                 n_salt: int = 0) -> DataFrame:
    """points-in-polygons: returns point_cols + (way_id, cell_id).

    * ``broadcast_polygons`` — polygon dim tables (even "all OSM buildings on
      Earth" exploded to cells) are usually << the pages fact table; broadcast
      kills the shuffle on the 100-TB side entirely.
    * ``n_salt`` — for the non-broadcast path with hot cells: points get a
      deterministic salt, the polygon side is replicated n_salt ways, and the
      join key becomes (cell_id, salt) — the two-phase skew treatment the
      reference's balanced-split partitioner approximates
      (/root/reference/osmsplit/mapsplit.h:65-88).
    """
    pts = C.with_cell(points, lon, lat, level, "cell_id")
    return _join_prepared(pts, polygons, level, lon, lat, point_cols,
                          broadcast_polygons, exact, n_salt)


def spatial_join_adaptive(points: DataFrame, polygons: DataFrame,
                          fine_level: int, coarse_level: int,
                          lon: str = "lon", lat: str = "lat",
                          point_cols: tuple = ("page_id",),
                          max_fine_cells: int = 64,
                          broadcast_polygons: bool = True,
                          exact: bool = True) -> DataFrame:
    """Two-level spatial join: small polygons index at ``fine_level``, large
    ones at ``coarse_level`` (SURVEY.md §4 "two-level cell refinement").

    At scale a single level can't fit both: city-block polygons want fine
    cells (selective candidates), country-sized ones would explode to
    millions of fine cells (the ``max_cells`` guard). Points carry ONE fine
    cell; the coarse join key is its parent — a row-local bit truncation, so
    the fact table still computes exactly one cell id and never shuffles.
    Results are the exact union of the two passes (each polygon joins in
    exactly one pass).
    """
    n_fine = (
        F.col("__x1") - F.col("__x0") + 1) * (F.col("__y1") - F.col("__y0") + 1)
    probe = C.with_tile_xy(polygons, "bbox.minx", "bbox.maxy", fine_level, "__x0", "__y0")
    probe = C.with_tile_xy(probe, "bbox.maxx", "bbox.miny", fine_level, "__x1", "__y1")
    probe = probe.withColumn("__n_fine", n_fine).drop("__x0", "__y0", "__x1", "__y1")
    small = probe.filter(F.col("__n_fine") <= max_fine_cells).drop("__n_fine")
    large = probe.filter(F.col("__n_fine") > max_fine_cells).drop("__n_fine")

    pts = C.with_cell(points, lon, lat, fine_level, "cell_id")
    pts_coarse = pts.withColumn(
        "cell_id", C.cell_parent_col(F.col("cell_id"), coarse_level))

    out_small = _join_prepared(pts, small, fine_level, lon, lat,
                               point_cols, broadcast_polygons, exact)
    out_large = _join_prepared(pts_coarse, large, coarse_level, lon, lat,
                               point_cols, broadcast_polygons, exact)
    return out_small.unionByName(out_large)


def _join_prepared(pts: DataFrame, polygons: DataFrame, level: int,
                   lon: str, lat: str, point_cols: tuple,
                   broadcast_polygons: bool, exact: bool,
                   n_salt: int = 0, refine=None) -> DataFrame:
    """Cell equi-join of celled points against ``polygons``' covering
    cells, refined by ``refine(lon, lat, ring_x, ring_y)`` on ``ring``;
    by default the even-odd PIP, multi-ring when the schema carries
    ``rings: array<struct<lon:array,lat:array>>``."""
    ring = "ring"
    if refine is None:
        ring, refine = (("rings", point_in_rings_col) if "rings" in polygons.columns
                        else ("ring", point_in_polygon_col))
    polys = with_covering_cells(polygons, level).select(
        "way_id", F.explode("cells").alias("cell_id"),
        F.col(f"{ring}.lon").alias("__rx"), F.col(f"{ring}.lat").alias("__ry"),
    )
    keys = ["cell_id"]
    if n_salt > 1:
        pts = pts.withColumn("__salt", F.pmod(F.xxhash64(*point_cols), F.lit(n_salt)))
        polys = polys.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
        keys.append("__salt")
    right = F.broadcast(polys) if broadcast_polygons else polys
    joined = pts.join(right, on=keys, how="inner")
    if exact:
        joined = joined.filter(
            refine(F.col(lon), F.col(lat), F.col("__rx"), F.col("__ry"))
        )
    return joined.select(*point_cols, "way_id", "cell_id")


def polyline_join(points: DataFrame, lines: DataFrame, level: int,
                  tolerance_deg: float,
                  lon: str = "lon", lat: str = "lat",
                  point_cols: tuple = ("page_id",),
                  broadcast_lines: bool = True) -> DataFrame:
    """points-near-polyline within ``tolerance_deg`` (highway matching).

    Same cell-equi-join skeleton; refinement is vectorized point-to-segment
    distance (the reference buffers polylines into ribbons of width w and
    tests containment — geometry.cpp:137-230; distance-to-segment <= w/2 is
    the same predicate without materializing the ribbon).
    """
    pts = C.with_cell(points, lon, lat, level, "cell_id")

    def near(x: Column, y: Column, rx: Column, ry: Column) -> Column:
        return point_to_polyline_dist_udf(x, y, rx, ry) <= F.lit(tolerance_deg)

    return _join_prepared(pts, _pad_bbox(lines, tolerance_deg), level, lon, lat,
                          point_cols, broadcast_lines, True, refine=near)


def _pad_bbox(df: DataFrame, pad: float) -> DataFrame:
    b = F.col("bbox")
    return df.withColumn(
        "bbox",
        F.struct(
            (b["minx"] - pad).alias("minx"), (b["miny"] - pad).alias("miny"),
            (b["maxx"] + pad).alias("maxx"), (b["maxy"] + pad).alias("maxy"),
        ),
    )


def point_to_polyline_dist_np(px, py, xs_list, ys_list) -> np.ndarray:
    """Min euclidean (degree-space) distance point -> polyline, vectorized
    (segment projection clamp; reference segment math geometry.cpp:17-41)."""
    n = len(px)
    if n == 0:
        return np.zeros(0)
    lens = np.fromiter((len(a) for a in xs_list), dtype=np.int64, count=n)
    nedges = np.maximum(lens - 1, 1)
    xs_flat = np.concatenate([np.asarray(a, float) for a in xs_list])
    ys_flat = np.concatenate([np.asarray(a, float) for a in ys_list])
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    total = int(nedges.sum())
    row_of_edge = np.repeat(np.arange(n), nedges)
    edge_local = np.arange(total) - np.repeat(np.cumsum(nedges) - nedges, nedges)
    idx = starts[row_of_edge] + np.minimum(edge_local, lens[row_of_edge] - 2).clip(min=0)
    x1, y1 = xs_flat[idx], ys_flat[idx]
    x2 = xs_flat[np.minimum(idx + 1, starts[row_of_edge] + lens[row_of_edge] - 1)]
    y2 = ys_flat[np.minimum(idx + 1, starts[row_of_edge] + lens[row_of_edge] - 1)]
    pxe, pye = px[row_of_edge], py[row_of_edge]
    dx, dy = x2 - x1, y2 - y1
    seg2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.clip(((pxe - x1) * dx + (pye - y1) * dy) / seg2, 0.0, 1.0)
    t = np.where(seg2 == 0.0, 0.0, t)
    cx, cy = x1 + t * dx, y1 + t * dy
    d = np.hypot(pxe - cx, pye - cy)
    out = np.full(n, np.inf)
    np.minimum.at(out, row_of_edge, d)
    return out


@F.pandas_udf(T.DoubleType())
def point_to_polyline_dist_udf(lon: pd.Series, lat: pd.Series,
                               ring_x: pd.Series, ring_y: pd.Series) -> pd.Series:
    return pd.Series(
        point_to_polyline_dist_np(lon.to_numpy(), lat.to_numpy(),
                                  ring_x.to_numpy(), ring_y.to_numpy())
    )
