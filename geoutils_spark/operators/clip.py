"""Constructive polygon ∩ axis-aligned-rectangle clipping (Sutherland–
Hodgman) and intersection areas — entirely as Catalyst column expressions.

Reference semantics: the C++ engine computes real clipped polygons with
Clipper (`intersectPolygons`, /root/reference/osm2assimp/utils.cpp:95-154)
and uses them for ground/zonal geometry. Here the clip window is always a
raster cell rectangle, which makes every half-plane clip a convex clip —
Sutherland–Hodgman is exact for that case — and lets the whole construction
stay in whole-stage codegen: each of the four half-plane stages is one
``transform``/``flatten`` over the ring array, materialized stepwise (one
projection per stage) so Catalyst trees stay linear.

Parity design (DuckDB oracle twin, same file):

* every coordinate op (inside test, edge interpolation, shoelace term) is
  emitted with identical evaluation order in both dialects → bit-identical
  doubles;
* sums are taken over FIXED-POINT terms (``floor(term * 1e12 + 0.5)`` as
  BIGINT) so aggregation order cannot matter — the classic DECIMAL-sum
  parity trick, but integer-typed because Spark and DuckDB disagree on
  decimal precision/scale propagation in folds. Areas therefore resolve at
  1e-12 deg² — an explicit, documented quantization of the *oracle-visible*
  value (the geometric arithmetic itself is full double).

Multi-ring (holes): signed ring areas are SUMMED before the abs, so a hole
ring wound opposite to its outer ring subtracts — the standard OSM
multipolygon convention, matching the even-odd fill of the PIP refine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PT_ARR = "array<struct<x:double,y:double>>"

# Fixed-point scale for order-independent area summation (see module doc).
FP_SCALE = 1.0e12


# ---------------------------------------------------------------------------
# Column backend
# ---------------------------------------------------------------------------

def ring_struct_col(rx: Column, ry: Column) -> Column:
    """Parallel coord arrays -> array<struct<x,y>> (closed ring)."""
    return F.zip_with(rx, ry,
                      lambda a, b: F.struct(a.alias("x"), b.alias("y")))


def _edge_out(ring: Column, inside, inter):
    """Per-edge Sutherland–Hodgman output (0-2 points) as a transform body."""
    def body(p1: Column, k: Column) -> Column:
        p2 = F.element_at(ring, (k + F.lit(2)).cast("int"))
        i1, i2 = inside(p1), inside(p2)
        return (
            F.when(i1 & i2, F.array(p2))
            .when(i1 & ~i2, F.array(inter(p1, p2)))
            .when(~i1 & i2, F.array(inter(p1, p2), p2))
            .otherwise(F.array().cast(_PT_ARR))
        )
    return body


def _clip_half_plane_col(ring: Column, inside, inter) -> Column:
    """One S-H stage: clip a closed ring by a half-plane; reclose output."""
    n = F.size(ring)
    pts = F.flatten(F.transform(
        F.slice(ring, 1, F.greatest(n - 1, F.lit(0))),
        _edge_out(ring, inside, inter),
    ))
    return F.when(F.size(pts) > 0,
                  F.concat(pts, F.slice(pts, 1, 1))).otherwise(pts)


def _x_plane(bound: Column, ge: bool):
    """inside/inter pair for a vertical clip plane x >= bound (or <=)."""
    def inside(p):
        return p["x"] >= bound if ge else p["x"] <= bound

    def inter(p1, p2):
        t = (bound - p1["x"]) / (p2["x"] - p1["x"])
        return F.struct(bound.alias("x"),
                        (p1["y"] + t * (p2["y"] - p1["y"])).alias("y"))
    return inside, inter


def _y_plane(bound: Column, ge: bool):
    def inside(p):
        return p["y"] >= bound if ge else p["y"] <= bound

    def inter(p1, p2):
        t = (bound - p1["y"]) / (p2["y"] - p1["y"])
        return F.struct((p1["x"] + t * (p2["x"] - p1["x"])).alias("x"),
                        bound.alias("y"))
    return inside, inter


def with_clipped_ring(df: DataFrame, ring: str, x0: str, x1: str,
                      y0: str, y1: str, out: str = "clipped") -> DataFrame:
    """Clip ``ring`` (array<struct<x,y>>, closed) to the rect
    [x0,x1]x[y0,y1]; four stages, each its own projection (bounded trees)."""
    stages = [
        _x_plane(F.col(x0), ge=True),
        _x_plane(F.col(x1), ge=False),
        _y_plane(F.col(y0), ge=True),
        _y_plane(F.col(y1), ge=False),
    ]
    df = df.withColumn(out, F.col(ring))
    for inside, inter in stages:
        df = df.withColumn(out, _clip_half_plane_col(F.col(out), inside, inter))
    return df


def shoelace_fp_col(ring: Column) -> Column:
    """2x the signed ring area, in 1e-12 fixed point (BIGINT) — summation
    over edges is integer-exact and order-free (parity with the SQL twin)."""
    n = F.size(ring)

    def term(p1: Column, k: Column) -> Column:
        p2 = F.element_at(ring, (k + F.lit(2)).cast("int"))
        t = p1["x"] * p2["y"] - p2["x"] * p1["y"]
        return F.floor(t * F.lit(FP_SCALE) + F.lit(0.5)).cast("long")

    terms = F.transform(F.slice(ring, 1, F.greatest(n - 1, F.lit(0))), term)
    return F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)


# ---------------------------------------------------------------------------
# SQL-text backend (DuckDB oracle twin — identical arithmetic)
# ---------------------------------------------------------------------------

def _clip_half_plane_sql(r: str, axis: str, cmp: str, bound: str) -> str:
    other = "y" if axis == "x" else "x"
    p1, p2 = f"{r}[k]", f"{r}[k+1]"
    in1 = f"({p1}.{axis} {cmp} {bound})"
    in2 = f"({p2}.{axis} {cmp} {bound})"
    t = f"(({bound} - {p1}.{axis}) / ({p2}.{axis} - {p1}.{axis}))"
    o = f"({p1}.{other} + {t} * ({p2}.{other} - {p1}.{other}))"
    ip = (f"{{'x': {bound}, 'y': {o}}}" if axis == "x"
          else f"{{'x': {o}, 'y': {bound}}}")
    body = (f"CASE WHEN {in1} AND {in2} THEN [{p2}] "
            f"WHEN {in1} THEN [{ip}] "
            f"WHEN {in2} THEN [{ip}, {p2}] "
            f"ELSE CAST([] AS STRUCT(x DOUBLE, y DOUBLE)[]) END")
    pts = f"flatten(list_transform(range(1, GREATEST(len({r}), 1)), k -> {body}))"
    return (f"(CASE WHEN len({pts}) > 0 THEN list_concat({pts}, [({pts})[1]]) "
            f"ELSE {pts} END)")


def clip_stages_sql(ring: str, x0: str, x1: str, y0: str, y1: str) -> list[tuple[str, str]]:
    """[(colname, expr)] chain for a CTE-per-stage clip (ring -> __c4)."""
    out = []
    prev = ring
    for name, (axis, cmp, bound) in zip(
        ("__c1", "__c2", "__c3", "__c4"),
        (("x", ">=", x0), ("x", "<=", x1), ("y", ">=", y0), ("y", "<=", y1)),
    ):
        out.append((name, _clip_half_plane_sql(prev, axis, cmp, bound)))
        prev = name
    return out


def shoelace_fp_sql(r: str) -> str:
    term = (f"FLOOR(({r}[k].x * {r}[k+1].y - {r}[k+1].x * {r}[k].y) "
            f"* {FP_SCALE!r} + 0.5)")
    return (f"CAST(COALESCE(list_sum(list_transform("
            f"range(1, GREATEST(len({r}), 1)), k -> CAST({term} AS BIGINT))), 0) "
            f"AS BIGINT)")
