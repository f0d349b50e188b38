"""Driver-contract query registry: Spark DataFrame query + DuckDB oracle SQL.

Every operator claimed in SURVEY.md §2 gets an entry here; the driver runs
the Spark side and the oracle side at sf=0.01 and compares row count, schema
and an order-insensitive value hash (see ``__spark_entry__``).

Oracle-safety rules used throughout:

* geo columns derive from integer keys by pure arithmetic (identical text in
  both dialects — ``functions.keys``);
* money/double aggregations go through DECIMAL so sums are exact and
  order-independent, then cast to DOUBLE at the end (identical bits);
* output columns favor ints/strings; doubles only when they're a single
  deterministic function of exact inputs;
* every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoutils_spark.constants import LONDON_EXTENTS
from geoutils_spark.functions import cells as C
from geoutils_spark.functions import keys as K
from geoutils_spark.functions.geodesy import haversine_m_col, haversine_m_sql
from geoutils_spark.operators.knn import knn_join
from geoutils_spark.operators.spatial_join import spatial_join
from geoutils_spark.sources import fixtures

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dbl(x: float) -> str:
    """Float literal for DuckDB SQL. Bare `51.514853` parses as DECIMAL there
    (decimal arithmetic != IEEE double); force DOUBLE so both engines compute
    on identical bits."""
    return f"CAST({x!r} AS DOUBLE)"


# ---------------------------------------------------------------------------
# Geo block — cell index, tiles, bbox, spatial join, kNN
# (reference ops F1/F6/F11/F12, P3/P4, J2/J3, §2.5)
# ---------------------------------------------------------------------------

_LON = K.key_lon_sql("o_orderkey")
_LAT = K.key_lat_sql("o_orderkey")
_DLON = K.key_lon_sql("doc_id")
_DLAT = K.key_lat_sql("doc_id")


def _orders_points(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").select("o_orderkey")
    return (
        df.withColumn("lon", K.key_lon_col(F.col("o_orderkey")))
        .withColumn("lat", K.key_lat_col(F.col("o_orderkey")))
    )


def _documents_points(spark, sf_dir):
    df = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        df.withColumn("lon", K.key_lon_col(F.col("doc_id")))
        .withColumn("lat", K.key_lat_col(F.col("doc_id")))
    )


@register(
    "geo_cell_assign",
    f"""
    SELECT o_orderkey,
           {C.cell_sql(_LON, _LAT, 12)} AS cell_id,
           {C.tile_x_sql(_LON, 14)} AS tile_x,
           {C.tile_y_sql(_LAT, 14)} AS tile_y
    FROM orders
    """,
)
def geo_cell_assign(spark, sf_dir):
    """Point -> level-12 cell + z14 slippy tile (F11 + F1 analogs)."""
    df = _orders_points(spark, sf_dir)
    df = C.with_cell(df, "lon", "lat", 12, "cell_id")
    df = C.with_tile_xy(df, "lon", "lat", 14, "tile_x", "tile_y")
    return df.select("o_orderkey", "cell_id", "tile_x", "tile_y")


@register(
    "geo_cell_histogram",
    f"""
    SELECT {C.cell_sql(_LON, _LAT, 10)} AS cell_id, COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def geo_cell_histogram(spark, sf_dir):
    """2D density histogram keyed by cell (reference A2, mapsplit.h:115-132)."""
    df = _orders_points(spark, sf_dir)
    df = C.with_cell(df, "lon", "lat", 10, "cell_id")
    return df.groupBy("cell_id").agg(F.count("*").alias("n"))


@register(
    "geo_parent_rollup",
    f"""
    WITH leaf AS (
      SELECT {C.cell_sql(_LON, _LAT, 12)} AS cell_id FROM orders
    )
    SELECT ((cell_id & -{1 << (2 * (30 - 8))}) | {1 << (2 * (30 - 8))}) AS parent_id,
           COUNT(*) AS n
    FROM leaf GROUP BY 1
    """,
)
def geo_parent_rollup(spark, sf_dir):
    """Hierarchical rollup via trailing-bit parent (reference F12,
    s2util.h:68-77): leaf cells at L12 aggregated to L8 ancestors."""
    df = _orders_points(spark, sf_dir)
    df = C.with_cell(df, "lon", "lat", 12, "cell_id")
    df = df.withColumn("parent_id", C.cell_parent_col(F.col("cell_id"), 8))
    return df.groupBy("parent_id").agg(F.count("*").alias("n"))


@register(
    "geo_tile_math",
    f"""
    SELECT o_orderkey,
           {C.tile_x_sql(_LON, 10)} AS z10_x, {C.tile_y_sql(_LAT, 10)} AS z10_y,
           {C.tile_x_sql(_LON, 16)} AS z16_x, {C.tile_y_sql(_LAT, 16)} AS z16_y
    FROM orders
    """,
)
def geo_tile_math(spark, sf_dir):
    """Slippy tile math at two zooms (reference F1 Mercator,
    convertlatlng.cpp:27-35)."""
    df = _orders_points(spark, sf_dir)
    df = C.with_tile_xy(df, "lon", "lat", 10, "z10_x", "z10_y")
    df = C.with_tile_xy(df, "lon", "lat", 16, "z16_x", "z16_y")
    return df.select("o_orderkey", "z10_x", "z10_y", "z16_x", "z16_y")


_BBOX = (-0.095, 51.518, -0.080, 51.528)


@register(
    "geo_bbox_filter",
    f"""
    SELECT o_orderkey FROM orders
    WHERE {_LON} >= {_BBOX[0]!r} AND {_LON} < {_BBOX[2]!r}
      AND {_LAT} >= {_BBOX[1]!r} AND {_LAT} < {_BBOX[3]!r}
    """,
)
def geo_bbox_filter(spark, sf_dir):
    """BoundFilter (reference P3, viewfilter.cpp:21-30) as a sargable
    conjunctive range predicate."""
    df = _orders_points(spark, sf_dir)
    return df.filter(
        (F.col("lon") >= _BBOX[0]) & (F.col("lon") < _BBOX[2])
        & (F.col("lat") >= _BBOX[1]) & (F.col("lat") < _BBOX[3])
    ).select("o_orderkey")


_CENTER = (-0.0852, 51.5231)


@register(
    "geo_haversine_filter",
    f"""
    SELECT doc_id FROM documents
    WHERE {haversine_m_sql(_DLON, _DLAT, repr(_CENTER[0]), repr(_CENTER[1]))} < 400.0
    """,
)
def geo_haversine_filter(spark, sf_dir):
    """Radius query by great-circle distance (reference F6)."""
    df = _documents_points(spark, sf_dir)
    d = haversine_m_col(F.col("lon"), F.col("lat"),
                        F.lit(_CENTER[0]), F.lit(_CENTER[1]))
    return df.filter(d < 400.0).select("doc_id")


@register(
    "geo_knn",
    f"""
    WITH pts AS (
      SELECT doc_id, {_DLON} AS lon, {_DLAT} AS lat FROM documents
    ),
    q AS (SELECT doc_id AS query_id, lon, lat FROM pts WHERE doc_id % 100 = 0),
    cand AS (
      SELECT q.query_id, p.doc_id AS neighbor_id,
             {haversine_m_sql('q.lon', 'q.lat', 'p.lon', 'p.lat')} AS d
      FROM q, pts p WHERE p.doc_id <> q.query_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d ASC, neighbor_id ASC) AS rank
      FROM cand
    ) WHERE rank <= 5
    """,
)
def geo_knn(spark, sf_dir):
    """kNN (SURVEY §2.5): cell-ring candidates + haversine + windowed top-k.
    Level 12 / ring 1 covers the whole fixture extent, so the result is
    exact vs the oracle's brute-force cross join."""
    pts = _documents_points(spark, sf_dir)
    q = pts.filter(F.col("doc_id") % 100 == 0).selectExpr(
        "doc_id as query_id", "lon", "lat")
    c = pts.selectExpr("doc_id as neighbor_id", "lon", "lat")
    out = knn_join(q, c, k=5, level=12, ring=1,
                   q_id="query_id", c_id="neighbor_id")
    return out.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


@register(
    "geo_knn_exact",
    f"""
    WITH pts AS (
      SELECT doc_id, {_DLON} AS lon, {_DLAT} AS lat FROM documents
    ),
    q AS (SELECT doc_id AS query_id, lon, lat FROM pts WHERE doc_id % 100 = 0),
    cand AS (
      SELECT q.query_id, p.doc_id AS neighbor_id,
             {haversine_m_sql('q.lon', 'q.lat', 'p.lon', 'p.lat')} AS d
      FROM q, pts p WHERE p.doc_id <> q.query_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d ASC, neighbor_id ASC) AS rank
      FROM cand
    ) WHERE rank <= 5
    """,
)
def geo_knn_exact(spark, sf_dir):
    """Escalating kNN (knn_join_exact): level 18 / ring 1 is deliberately
    too fine for the fixture density, so round 1 fails the guaranteed
    self-check and the operator coarsens the level per round (18->15->12,
    r2-verdict bounded escalation — no unbounded corpus cross product)
    until the ring answer is provably exact; the result must STILL equal
    the oracle's exact cross-join top-k (unconditional exactness)."""
    from geoutils_spark.operators.knn import knn_join_exact

    pts = _documents_points(spark, sf_dir)
    q = pts.filter(F.col("doc_id") % 100 == 0).selectExpr(
        "doc_id as query_id", "lon", "lat")
    c = pts.selectExpr("doc_id as neighbor_id", "lon", "lat")
    out = knn_join_exact(q, c, k=5, level=18, ring=1,
                         q_id="query_id", c_id="neighbor_id")
    return out.select("query_id", "neighbor_id",
                      F.col("rank").cast("long").alias("rank"))


def _grid_sql(nx: int = 6, ny: int = 3) -> str:
    """Regenerate the fixture building grid in SQL (identical float math to
    fixtures.polygon_grid)."""
    lon0, lat0, lon1, lat1 = LONDON_EXTENTS
    space = fixtures.grid_space(LONDON_EXTENTS, nx)
    return f"""
      SELECT (yi * {nx} + xi) AS way_id,
             {_dbl(lon0)} + ({_dbl(space)} * xi) * 2 AS minx,
             {_dbl(lat0)} + ({_dbl(space)} * yi) * 2 AS miny,
             {_dbl(lon0)} + ({_dbl(space)} * xi) * 2 + {_dbl(space)} AS maxx,
             {_dbl(lat0)} + ({_dbl(space)} * yi) * 2 + {_dbl(space)} AS maxy
      FROM range({nx}) t1(xi), range({ny}) t2(yi)
    """


@register(
    "geo_spatial_join",
    f"""
    WITH pts AS (
      SELECT o_orderkey, {_LON} AS lon, {_LAT} AS lat FROM orders
    ),
    grid AS ({_grid_sql()})
    SELECT p.o_orderkey AS page_id, g.way_id
    FROM pts p JOIN grid g
      ON p.lon >= g.minx AND p.lon < g.maxx
     AND p.lat >= g.miny AND p.lat < g.maxy
    """,
)
def geo_spatial_join(spark, sf_dir):
    """Point-in-polygon spatial join through the full engine path (covering
    cells -> cell equi-join -> exact ray cast). For the axis-aligned fixture
    rectangles the half-open ray-cast rule equals the bbox predicate the
    oracle uses, so parity is exact (reference J2/J3 + G5 semantics)."""
    pts = _orders_points(spark, sf_dir).withColumnRenamed("o_orderkey", "page_id")
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    out = spatial_join(pts, polys, level=15, point_cols=("page_id",))
    return out.select("page_id", "way_id")


# Hole bounds derive from the STORED bbox doubles plus a precomputed inset
# offset, so fixture and oracle share the exact float ops (minx + space*0.25).
_HOLE_OFF_LO = fixtures.grid_space(LONDON_EXTENTS) * fixtures.HOLE_LO
_HOLE_OFF_HI = fixtures.grid_space(LONDON_EXTENTS) * fixtures.HOLE_HI


@register(
    "geo_spatial_join_holes",
    f"""
    WITH pts AS (
      SELECT o_orderkey, {_LON} AS lon, {_LAT} AS lat FROM orders
    ),
    grid AS ({_grid_sql()})
    SELECT p.o_orderkey AS page_id, g.way_id
    FROM pts p JOIN grid g
      ON p.lon >= g.minx AND p.lon < g.maxx
     AND p.lat >= g.miny AND p.lat < g.maxy
    WHERE NOT (p.lon >= g.minx + {_dbl(_HOLE_OFF_LO)}
           AND p.lon <  g.minx + {_dbl(_HOLE_OFF_HI)}
           AND p.lat >= g.miny + {_dbl(_HOLE_OFF_LO)}
           AND p.lat <  g.miny + {_dbl(_HOLE_OFF_HI)})
    """,
)
def geo_spatial_join_holes(spark, sf_dir):
    """Point-in-MULTIPOLYGON spatial join: every fixture building carries an
    interior ring (courtyard); the even-odd multi-ring ray cast must exclude
    points inside the hole. For axis-aligned rings the half-open crossing
    rule equals half-open bbox predicates, so the oracle is outer-box AND NOT
    hole-box — exact parity (reference Clipper pftEvenOdd semantics,
    /root/reference/osm2assimp/utils.cpp:95-154)."""
    pts = _orders_points(spark, sf_dir).withColumnRenamed("o_orderkey", "page_id")
    polys = fixtures.polygons_with_holes_df(spark)
    out = spatial_join(pts, polys, level=15, point_cols=("page_id",))
    return out.select("page_id", "way_id")


def _zonal_cells_sql(D: int = 16) -> str:
    """WITH-fragment (to ``cellagg``): per-(donut way, grid cell) exact
    intersection areas in fixed point — identical Sutherland–Hodgman clip
    arithmetic to operators/clip.py (see its parity design)."""
    from geoutils_spark.operators import clip as CL

    lon0, lat0, lon1, lat1 = LONDON_EXTENTS
    dx = (lon1 - lon0) / D
    dy = (lat1 - lat0) / D
    lo, hi = _dbl(_HOLE_OFF_LO), _dbl(_HOLE_OFF_HI)
    outer = ("[{'x': maxx, 'y': maxy}, {'x': minx, 'y': maxy}, "
             "{'x': minx, 'y': miny}, {'x': maxx, 'y': miny}, "
             "{'x': maxx, 'y': maxy}]")
    hole = (f"[{{'x': minx + {lo}, 'y': miny + {lo}}}, "
            f"{{'x': minx + {lo}, 'y': miny + {hi}}}, "
            f"{{'x': minx + {hi}, 'y': miny + {hi}}}, "
            f"{{'x': minx + {hi}, 'y': miny + {lo}}}, "
            f"{{'x': minx + {lo}, 'y': miny + {lo}}}]")
    stages = CL.clip_stages_sql("__r0", "x0", "x1", "y0", "y1")
    stage_ctes = ",\n    ".join(
        f"s{k + 1} AS (SELECT *, {expr} AS {name} FROM "
        f"{'cand' if k == 0 else f's{k}'})"
        for k, (name, expr) in enumerate(stages)
    )
    return f"""grid AS ({_grid_sql()}),
    rings AS (
      SELECT way_id, minx, miny, maxx, maxy, [{outer}, {hole}] AS rings
      FROM grid
    ),
    cells AS (
      SELECT i, j,
             {_dbl(lon0)} + i * {_dbl(dx)} AS x0,
             {_dbl(lon0)} + (i + 1) * {_dbl(dx)} AS x1,
             {_dbl(lat0)} + j * {_dbl(dy)} AS y0,
             {_dbl(lat0)} + (j + 1) * {_dbl(dy)} AS y1
      FROM range({D}) t1(i), range({D}) t2(j)
    ),
    cand AS (
      SELECT r.way_id, c.i, c.j, c.x0, c.x1, c.y0, c.y1,
             UNNEST(r.rings) AS __r0
      FROM rings r JOIN cells c
        ON c.x0 < r.maxx AND c.x1 > r.minx
       AND c.y0 < r.maxy AND c.y1 > r.miny
    ),
    {stage_ctes},
    scored AS (
      SELECT way_id, i, j, {CL.shoelace_fp_sql('__c4')} AS fp FROM s4
    ),
    cellagg AS (
      SELECT way_id, i, j, ABS(SUM(fp)) AS cell_fp
      FROM scored GROUP BY 1, 2, 3
      HAVING ABS(SUM(fp)) > 0
    )"""


def _zonal_area_sql(D: int = 16) -> str:
    from geoutils_spark.operators import clip as CL

    return f"""
    WITH {_zonal_cells_sql(D)}
    SELECT way_id, COUNT(*) AS n_cells,
           CAST(SUM(cell_fp) AS DOUBLE) / {2.0 * CL.FP_SCALE!r} AS area_deg2
    FROM cellagg GROUP BY way_id
    """


@register("geo_zonal_area", _zonal_area_sql())
def geo_zonal_area(spark, sf_dir):
    """Constructive area-weighted zonal: exact polygon∩cell intersection
    areas (Sutherland–Hodgman clip, reference utils.cpp:95-154) of the DONUT
    building grid against a 16x16 raster — holes subtract (opposite-wound
    interior rings). Whole pipeline is codegen'd array expressions; the
    oracle replays the identical clip arithmetic in SQL."""
    from geoutils_spark.operators.zonal import area_zonal_stats

    donuts = fixtures.polygons_with_holes_df(spark)
    return area_zonal_stats(donuts, LONDON_EXTENTS, 16, 16)


def _zonal_area_weighted_sql(D: int = 16) -> str:
    from geoutils_spark.operators import clip as CL

    lon0, lat0, lon1, lat1 = LONDON_EXTENTS
    dx = (lon1 - lon0) / D
    dy = (lat1 - lat0) / D
    denom = 2.0 * CL.FP_SCALE * (dx * dy)
    return f"""
    WITH {_zonal_cells_sql(D)},
    praster AS (
      SELECT i, j, COUNT(*) AS n FROM (
        SELECT CAST(FLOOR(({_LON} - {_dbl(lon0)}) / {_dbl(dx)}) AS BIGINT) AS i,
               CAST(FLOOR(({_LAT} - {_dbl(lat0)}) / {_dbl(dy)}) AS BIGINT) AS j
        FROM orders
      ) WHERE i >= 0 AND i < {D} AND j >= 0 AND j < {D}
      GROUP BY 1, 2
    )
    SELECT c.way_id, COUNT(*) AS n_cells,
           CAST(SUM(p.n) AS BIGINT) AS n_points,
           CAST(SUM(c.cell_fp * p.n) AS DOUBLE) / {denom!r} AS weighted_pts
    FROM cellagg c JOIN praster p ON c.i = p.i AND c.j = p.j
    GROUP BY c.way_id
    """


@register("geo_zonal_area_weighted", _zonal_area_weighted_sql())
def geo_zonal_area_weighted(spark, sf_dir):
    """THE standard raster↔vector zonal: per-donut-polygon point counts
    weighted by the exact intersection-area FRACTION of every raster cell
    (Σ n·area(poly∩cell)/area(cell)) — the area-weighted semantics the
    reference's constructive Clipper intersections enable
    (utils.cpp:95-154). Fixed-point weighted sums keep the oracle
    hash-exact under any aggregation order."""
    from geoutils_spark.operators.zonal import area_weighted_zonal

    pts = _orders_points(spark, sf_dir)
    donuts = fixtures.polygons_with_holes_df(spark)
    return area_weighted_zonal(pts, donuts, LONDON_EXTENTS, 16, 16)


def _s2_parity_sql() -> str:
    from geoutils_spark.functions import s2cells as S2

    src = f"SELECT o_orderkey, {_LON} AS lon, {_LAT} AS lat FROM orders"
    q = S2.s2_sql_query(
        src, "lon", "lat", 12,
        out_cols=("o_orderkey, s2_cell, "
                  "lpad(lower(hex(s2_cell::UBIGINT)), 16, '0') AS s2_hex, "
                  f"((s2_cell & {-(1 << 44)}) | {1 << 44}) AS s2_parent"),
        out="s2_cell")
    return q


@register("geo_s2_parity", _s2_parity_sql())
def geo_s2_parity(spark, sf_dir):
    """TRUE S2 cell ids (face + Hilbert, real-S2 bit layout) at level 12 +
    hex token + level-8 parent, Catalyst backend vs a DuckDB twin replaying
    the identical cube-face/quadratic-ST/Hilbert-lookup arithmetic. The
    same ids the reference gets from the s2 library (pinned goldens
    /root/reference/test.py:80-83; parent math s2util.h:68-77) — pytest
    test_s2cells.py::test_pinned_reference_golden_cells checks the
    reference's two London cells bit-for-bit."""
    from geoutils_spark.functions import s2cells as S2

    df = _orders_points(spark, sf_dir)
    df = S2.with_s2_cell(df, "lon", "lat", 12, "s2_cell")
    return df.select(
        "o_orderkey", "s2_cell",
        S2.s2_hex_col(F.col("s2_cell")).alias("s2_hex"),
        S2.s2_parent_col(F.col("s2_cell"), 8).alias("s2_parent"),
    )


@register(
    "geo_mercator_project",
    f"""
    SELECT o_orderkey,
           ROUND(6378137.0 * RADIANS({_LON}), 2) AS merc_x,
           ROUND(6378137.0 * LN(TAN(PI() / 4.0 + RADIANS({_LAT}) / 2)), 2) AS merc_y
    FROM orders
    """,
)
def geo_mercator_project(spark, sf_dir):
    """Web-Mercator projection (reference F1, convertlatlng.cpp:27-35).
    JVM Math and libm can differ by 1 ulp on tan/ln, so the oracle compares
    at cm precision (the engine itself keeps full doubles)."""
    from geoutils_spark.functions.geodesy import mercator_xy_col
    df = _orders_points(spark, sf_dir)
    x, y = mercator_xy_col(F.col("lon"), F.col("lat"))
    return df.select("o_orderkey", F.round(x, 2).alias("merc_x"),
                     F.round(y, 2).alias("merc_y"))


# ---------------------------------------------------------------------------
# Relational block — scans/filters/aggs/joins/windows/set ops
# (operators Spark gives free; exercised for the correctness harness)
# ---------------------------------------------------------------------------

_D = "DECIMAL(18,2)"


@register(
    "rel_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS {_D})) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS {_D})) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS {_D}) * (CAST(1 AS {_D}) - CAST(l_discount AS {_D}))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rel_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan -> filter -> hash agg. DECIMAL sums keep the
    result independent of partition order (exact), then DOUBLE for schema
    parity."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast(_D)  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast(_D) - dec("l_discount")))
            .cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "rel_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, rank FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
      FROM orders
    ) WHERE rank <= 3
    """,
)
def rel_topk_per_group(spark, sf_dir):
    """Top-k per group via window (deterministic tiebreak on key)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rank").cast("long").alias("rank"))
    )


@register(
    "rel_revenue_by_nation",
    f"""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS {_D}) * (CAST(1 AS {_D}) - CAST(l.l_discount AS {_D}))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def rel_revenue_by_nation(spark, sf_dir):
    """Multi-join star query; small dims broadcast (Catalyst auto + hint)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast(_D)  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast(_D) - dec("l_discount")))
            .cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "rel_events_hourly",
    """
    SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS hour_bucket,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def rel_events_hourly(spark, sf_dir):
    """Tumbling 1-hour event-time window as batch agg (streaming analog is
    in streaming/, same semantics)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("hour_bucket",
                     F.floor(F.unix_timestamp("ts") / 3600).cast("long"))
        .groupBy("hour_bucket", "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
             .alias("total_value"))
    )


@register(
    "rel_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def rel_sessionize(spark, sf_dir):
    """Sessionization: lag + gap>30min -> session starts per user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap > 1800, 1).when(F.lag("ts").over(w).isNull(), 1).otherwise(0)
    return (
        e.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("long").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


@register(
    "rel_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id AND e.ts >= v.t1
               AND e.ts <= v.t1 + INTERVAL 24 HOUR
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id AND e.ts >= c.t2
               AND e.ts <= c.t2 + INTERVAL 24 HOUR
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    u AS (SELECT DISTINCT user_id FROM events)
    SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
      SELECT u.user_id,
             CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                       WHEN c.user_id IS NOT NULL THEN 2
                       WHEN v.user_id IS NOT NULL THEN 1
                       ELSE 0 END AS BIGINT) AS stage
      FROM u LEFT JOIN v USING (user_id)
             LEFT JOIN c USING (user_id)
             LEFT JOIN p USING (user_id)
    ) GROUP BY stage
    """,
)
def rel_funnel(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase) with a 24 h conversion
    window per stage: each stage's timestamp must fall in
    [prev_first_hit, prev_first_hit + 24 h]; users counted at the deepest
    stage reached. Plan: three conditional-min hash aggs chained by
    user_id equi-joins (each post-agg side is one row per user — AQE
    broadcasts them), no windows over the raw event stream and no
    per-event state, so it scales with events/user_id cardinality."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    win = F.expr("INTERVAL 24 HOURS")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (e.filter(F.col("event_type") == "click").join(v, "user_id")
         .filter((F.col("ts") >= F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    p = (e.filter(F.col("event_type") == "purchase").join(c, "user_id")
         .filter((F.col("ts") >= F.col("t2")) & (F.col("ts") <= F.col("t2") + win))
         .groupBy("user_id").agg(F.min("ts").alias("t3")))
    u = e.select("user_id").distinct()
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    ).cast("long")
    return (
        u.join(v, "user_id", "left")
        .join(c.select("user_id", "t2"), "user_id", "left")
        .join(p.select("user_id", "t3"), "user_id", "left")
        .select(stage.alias("stage"))
        .groupBy("stage").agg(F.count("*").cast("long").alias("n_users"))
    )


@register(
    "rel_value_histogram",
    """
    SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def rel_value_histogram(spark, sf_dir):
    """1D histogram (reference A2's bucketing, mapsplit.h:123-126)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("bucket", F.floor(F.col("value") / 50.0).cast("long"))
        .groupBy("bucket").agg(F.count("*").alias("n"))
    )


@register(
    "rel_cube_lineitem",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS {_D})) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def rel_cube_lineitem(spark, sf_dir):
    """CUBE grouping sets (absent in reference; free in Spark — SURVEY §2.6)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(_D)).cast("double").alias("sum_qty"),
        F.count("*").alias("n"),
    )


@register(
    "rel_distinct_union",
    """
    SELECT l_orderkey AS k FROM lineitem
    UNION
    SELECT o_orderkey AS k FROM orders
    """,
)
def rel_distinct_union(spark, sf_dir):
    """Union + dedup (reference S7/J4 set semantics)."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    return li.union(o).distinct()


@register(
    "rel_semi_anti",
    """
    SELECT 'with_lines' AS side, COUNT(*) AS n FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'no_lines' AS side, COUNT(*) AS n FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def rel_semi_anti(spark, sf_dir):
    """Semi + anti join counts."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    semi = o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").count()
    anti = o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").count()
    return spark.createDataFrame(
        [("with_lines", semi), ("no_lines", anti)], "side string, n long")


@register(
    "rel_part_supplier",
    """
    SELECT p.p_brand AS brand, s.s_nationkey AS nationkey,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
    """,
)
def rel_part_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("p_brand").alias("brand"),
                 F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_lines"),
             F.sum(F.col("l_quantity").cast(_D)).cast("double").alias("qty"))
    )


# ---------------------------------------------------------------------------
# Webtext block — dedup / text analysis / embeddings (training-data ops)
# ---------------------------------------------------------------------------

@register(
    "text_token_stats",
    """
    SELECT doc_id,
           LENGTH(text) AS n_chars_m,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
           CAST(LENGTH(text) - LENGTH(REPLACE(LOWER(text), 'e', '')) AS BIGINT) AS n_e
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting + char stats (quality-scoring inputs), whole-stage
    codegen string ops, no UDF."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1)
        .cast("long").alias("n_tokens"),
        (F.length(F.lower(F.col("text")))
         - F.length(F.replace(F.lower(F.col("text")), F.lit("e"), F.lit(""))))
        .cast("long").alias("n_e"),
    )


@register(
    "text_lang_stats",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_lang_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@register(
    "emb_knn_cosine",
    """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id % 50 = 0),
    sims AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             list_dot_product(q.e, v.e)
               / (SQRT(list_dot_product(q.e, q.e)) * SQRT(list_dot_product(v.e, v.e))) AS sim
      FROM q, v WHERE v.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= 5
    """,
)
def emb_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-k over the embeddings table — the ANN baseline
    (training-data similarity search). Double-cast before the fold so both
    engines accumulate in float64."""
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    # precompute norms row-locally BEFORE the pair join: per-pair work drops
    # from three 64-dim folds to one (3-4x less on the O(Q*N) hot loop)
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    v = v.withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
    q = v.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"))
    cand = F.broadcast(q).crossJoin(v).filter(F.col("vec_id") != F.col("query_id"))
    cand = cand.withColumn(
        "sim", dot(F.col("qe"), F.col("e")) / (F.col("qnrm") * F.col("nrm")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# OSM block — nodes⋈ways assembly (reference J1)
# ---------------------------------------------------------------------------

_NX, _NY = 6, 3


def _nodes_ways_sql() -> str:
    """SQL regeneration of the fixture nodes/ways tables: building b has node
    ids [b*5 (road), b*5+1..b*5+4 (corners NE,NW,SW,SE)], refs = corners +
    first corner again (closure)."""
    lon0, lat0, _, _ = LONDON_EXTENTS
    space = fixtures.grid_space(LONDON_EXTENTS, _NX)
    return f"""
    buildings AS (
      SELECT (yi * {_NX} + xi) AS b, xi, yi,
             {_dbl(lon0)} + ({_dbl(space)} * xi) * 2 AS swx,
             {_dbl(lat0)} + ({_dbl(space)} * yi) * 2 AS swy
      FROM range({_NX}) t1(xi), range({_NY}) t2(yi)
    ),
    corners AS (
      SELECT b, b*5 + 1 + c AS node_id,
             CASE WHEN c IN (0, 3) THEN swx + {_dbl(space)} ELSE swx END AS lon,
             CASE WHEN c IN (0, 1) THEN swy + {_dbl(space)} ELSE swy END AS lat
      FROM buildings, range(4) t3(c)
    ),
    way_refs AS (
      SELECT b AS way_id, r,
             CASE WHEN r = 4 THEN b*5 + 1 ELSE b*5 + 1 + r END AS ref
      FROM buildings, range(5) t4(r)
    )
    """


def _osm_s2_split_sql() -> str:
    from geoutils_spark.functions import s2cells as S2

    lut, stages = S2.s2_sql_parts("lon", "lat", 12, "s2_cell")
    ctes = [
        _nodes_ways_sql().strip().lstrip(),
        lut,
        ("q0 AS (SELECT w.way_id, c.lon, c.lat, s2lut.t "
         "FROM way_refs w JOIN corners c ON w.ref = c.node_id, s2lut)"),
    ]
    prev = "q0"
    for k, (name, expr) in enumerate(stages):
        nxt = f"q{k + 1}"
        ctes.append(f"{nxt} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = nxt
    return ("WITH " + ",\n    ".join(ctes)
            + f"""
    SELECT DISTINCT way_id, s2_cell,
           lpad(lower(hex(s2_cell::UBIGINT)), 16, '0') AS s2_hex
    FROM {prev}""")


@register("osm_s2_split", _osm_s2_split_sql())
def osm_s2_split(spark, sf_dir):
    """The osms2split tile-assignment core with TRUE S2 ids: resolve each
    way's nodes (J1), assign every node its level-12 real-S2 cell, and emit
    the way's DISTINCT covered-cell set — exactly the per-way
    `cellsCovered` loop of the reference
    (/root/reference/osms2split/src/s2splitter.cpp:91-105) with the same
    uint64 ids and `s2_<hex16>` tokens it uses as output filenames."""
    from geoutils_spark.functions import s2cells as S2

    nodes, ways = fixtures.nodes_ways_df(spark, nx=_NX, ny=_NY)
    buildings = ways.filter(F.try_element_at("tags", F.lit("building")).isNotNull())
    exploded = buildings.select(
        F.col("id").alias("way_id"), F.explode("refs").alias("ref"))
    resolved = exploded.join(F.broadcast(nodes), exploded.ref == nodes.id) \
        .select("way_id", "lon", "lat")
    df = S2.with_s2_cell(resolved, "lon", "lat", 12, "s2_cell")
    return df.select(
        "way_id", "s2_cell",
        S2.s2_hex_col(F.col("s2_cell")).alias("s2_hex"),
    ).distinct()


@register(
    "osm_ring_assembly",
    f"""
    WITH {_nodes_ways_sql()}
    SELECT w.way_id,
           COUNT(*) AS n_pts,
           CAST(MIN(c.lon) AS DOUBLE) AS minx,
           CAST(MIN(c.lat) AS DOUBLE) AS miny,
           CAST(MAX(c.lon) AS DOUBLE) AS maxx,
           CAST(MAX(c.lat) AS DOUBLE) AS maxy
    FROM way_refs w JOIN corners c ON w.ref = c.node_id
    GROUP BY w.way_id
    """,
)
def osm_ring_assembly(spark, sf_dir):
    """J1: nodes⋈ways location resolution (build-side hash join in the
    reference, osm2assimp/main.cpp:32-35) as posexplode + equi-join +
    re-assembly, emitting per-way bbox (A4 analog)."""
    nodes, ways = fixtures.nodes_ways_df(spark, nx=_NX, ny=_NY)
    buildings = ways.filter(F.try_element_at("tags", F.lit("building")).isNotNull())
    exploded = buildings.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref"))
    resolved = exploded.join(F.broadcast(nodes), exploded.ref == nodes.id)
    return resolved.groupBy("way_id").agg(
        F.count("*").alias("n_pts"),
        F.min("lon").alias("minx"), F.min("lat").alias("miny"),
        F.max("lon").alias("maxx"), F.max("lat").alias("maxy"),
    )


_RIBBON_W = 0.00008


def _ribbon_sql() -> str:
    """Oracle twin of ribbon_polylines over the fixture highways. Their
    polylines are axis-aligned (east-west rows / north-south columns of
    road nodes), so segment lengths are exact (|dx| or |dy|), unit normals
    are exactly (0,±1)/(±1,0), and every ribbon vertex — including the
    collinear-fallback interior joints — is coordinate ± width/2 with
    bit-identical floats in both engines."""
    lon0, lat0, _, _ = LONDON_EXTENTS
    space = fixtures.grid_space(LONDON_EXTENTS, _NX)
    x = (f"{_dbl(lon0)} + ({_dbl(space)} * xi) * 2 + {_dbl(space)} "
         f"+ {_dbl(space)} * 0.5")
    y = (f"{_dbl(lat0)} + ({_dbl(space)} * yi) * 2 + {_dbl(space)} "
         f"+ {_dbl(space)} * 0.5")
    hw = f"{_dbl(_RIBBON_W)} / 2.0"
    return f"""
    WITH ew AS (
      SELECT CAST({_NX * _NY} + 2 * yi AS BIGINT) AS way_id,
             CAST(2 * {_NX} AS BIGINT) AS n_vertices,
             CAST({_NX} - 1 AS BIGINT) AS n_faces,
             flatten(list_transform(range(0, {_NX}),
                                    xi -> [{x}, {x}])) AS vx,
             flatten(list_transform(range(0, {_NX}),
                                    xi -> [{y} + {hw}, {y} - {hw}])) AS vy
      FROM range({_NY}) t(yi)
    ),
    ns AS (
      SELECT CAST({_NX * _NY} + 2 * xi + 1 AS BIGINT) AS way_id,
             CAST(2 * {_NY} AS BIGINT) AS n_vertices,
             CAST({_NY} - 1 AS BIGINT) AS n_faces,
             flatten(list_transform(range(0, {_NY}),
                                    yi -> [{x} - {hw}, {x} + {hw}])) AS vx,
             flatten(list_transform(range(0, {_NY}),
                                    yi -> [{y}, {y}])) AS vy
      FROM range({_NY}) t(xi)
    ),
    ways AS (SELECT * FROM ew UNION ALL SELECT * FROM ns),
    e0 AS (
      SELECT way_id, n_faces, vx, vy,
             UNNEST(range(1, len(vx) + 1)) AS i
      FROM ways
    )
    SELECT way_id, CAST(i - 1 AS BIGINT) AS vidx,
           vx[i] AS x, vy[i] AS y, n_faces
    FROM e0
    """


@register("geo_ribbon_vertices", _ribbon_sql())
def geo_ribbon_vertices(spark, sf_dir):
    """G2 ribbon-mesh CONSTRUCTION through the driver contract: exact
    per-vertex coordinates (interleaved left/right offsets, miter fallback
    on collinear joints) of every fixture highway ribbon, exploded to one
    row per vertex (the driver compare handles scalars, not float arrays)
    and hash-compared against the oracle replaying the offset arithmetic
    (/root/reference/osm2assimp/geometry.cpp:137-230 semantics)."""
    from geoutils_spark.operators.ribbon import ribbon_polylines

    hw = fixtures.polygons_df(spark).filter(F.col("kind") == "highway")
    m = ribbon_polylines(hw.select("way_id", F.col("ring").alias("line")),
                         width=_RIBBON_W)
    return m.select(
        "way_id", "n_faces",
        F.posexplode(F.arrays_zip("vx", "vy")).alias("vidx", "__v"),
    ).select(
        "way_id", F.col("vidx").cast("long").alias("vidx"),
        F.col("__v.vx").alias("x"), F.col("__v.vy").alias("y"), "n_faces")


@register(
    "geom_scene_stats",
    f"""
    SELECT 'building' AS kind,
           CAST({_NX * _NY} AS BIGINT) AS n_meshes,
           CAST({_NX * _NY} * 8 AS BIGINT) AS n_vertices,
           CAST({_NX * _NY} * 12 AS BIGINT) AS n_faces
    UNION ALL
    SELECT 'highway' AS kind,
           CAST(2 * {_NY} AS BIGINT) AS n_meshes,
           CAST({_NY} * 2 * {_NX} + {_NY} * 2 * {_NY} AS BIGINT) AS n_vertices,
           CAST({_NY} * ({_NX} - 1) + {_NY} * ({_NY} - 1) AS BIGINT) AS n_faces
    """,
)
def geom_scene_stats(spark, sf_dir):
    """Full osm2assimp scene composition (G1 extrusion + G2 ribbon meshes +
    G7 ground in ONE plan, operators/scene.py): per-kind mesh/vertex/face
    counts over the fixture grid. The oracle re-derives the counts from the
    construction rules: each building prism is 2k vertices / 4k-4 faces
    (k=4), each highway ribbon 2n vertices / n-1 quad faces (ny east-west
    ways of nx nodes + ny north-south ways of ny nodes). The ground mesh is
    excluded here (Delaunay triangle counts aren't SQL-replayable) and is
    instead pytest-asserted against the reference's own scene golden
    numBuildings+numHighways+1 (tests/test_scene.py; reference
    test.py:85-100)."""
    from geoutils_spark.operators.scene import scene_meshes

    nodes, ways = fixtures.nodes_ways_df(spark, nx=_NX, ny=_NY)
    m = scene_meshes(nodes, ways)
    return m.filter(F.col("kind") != "ground").groupBy("kind").agg(
        F.count("*").alias("n_meshes"),
        F.sum("n_vertices").alias("n_vertices"),
        F.sum("n_faces").alias("n_faces"),
    )


# ---------------------------------------------------------------------------
# Training-data ops block — language-ID, quality, fingerprints, near-dup
# dedup (MinHash+LSH, SimHash), embedding near-dup + IVF ANN.
#
# The dedup queries union deterministic mutated copies of documents into the
# corpus (suffix-truncated texts / perturbed vectors) so near-duplicate pairs
# provably exist at every sf — the fixture trick the reference uses for its
# goldens (/root/reference/create_test_osm_file.py:140-209), applied to text.
# ---------------------------------------------------------------------------

from geoutils_spark.functions import textanalysis as TA  # noqa: E402
from geoutils_spark.operators import dedup as DD  # noqa: E402
from geoutils_spark.operators import similarity as SIM  # noqa: E402


@register(
    "text_langid",
    f"""
    SELECT doc_id,
           {TA.lang_hits_sql(TA.tokens_sql('text'), 'en')} AS en_hits,
           {TA.lang_hits_sql(TA.tokens_sql('text'), 'de')} AS de_hits,
           {TA.langid_sql(TA.tokens_sql('text'))} AS pred_lang
    FROM documents
    """,
)
def text_langid(spark, sf_dir):
    """Stopword-hit language-ID heuristic (pure column expressions)."""
    d = _t(spark, sf_dir, "documents")
    toks = TA.tokens_col(F.col("text"))
    return d.select(
        "doc_id",
        TA.lang_hits_col(toks, "en").alias("en_hits"),
        TA.lang_hits_col(toks, "de").alias("de_hits"),
        TA.langid_col(toks).alias("pred_lang"),
    )


def _quality_sql_cols() -> str:
    qs = TA.quality_sqls("text")
    return ",\n           ".join(f"{sql} AS {name}" for name, sql in qs.items())


@register(
    "text_quality",
    f"""
    SELECT doc_id,
           {_quality_sql_cols()}
    FROM documents
    """,
)
def text_quality(spark, sf_dir):
    """Quality-signal bundle (token stats, stopword/digit/punct ratios) —
    single deterministic float ops, oracle-exact."""
    d = _t(spark, sf_dir, "documents")
    qc = TA.quality_cols(F.col("text"))
    return d.select("doc_id", *[c.alias(n) for n, c in qc.items()])


@register(
    "text_quality_gate",
    f"""
    WITH q AS (
      SELECT doc_id, lang,
             {TA.quality_sqls('text')['n_tokens']} AS n_tokens,
             {TA.quality_sqls('text')['stopword_ratio']} AS stop_ratio,
             {TA.quality_sqls('text')['mark_ratio']} AS mark_ratio
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_tokens >= 20 AND stop_ratio >= 0.01
                          AND mark_ratio <= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM q GROUP BY lang
    """,
)
def text_quality_gate(spark, sf_dir):
    """Gopher-style keep/drop filter rollup per language."""
    d = _t(spark, sf_dir, "documents")
    keep = TA.quality_keep_col(F.col("text"))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_keep"),
    )


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id, {TA.fingerprint_sql('text')} AS fp
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Bottom-k shingle-hash document fingerprint (winnowing-style)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TA.fingerprint_col(F.col("text")).alias("fp"))


# -- mutated-corpus helpers (near-dup ground truth) -------------------------

_MUTANT_OFFSET = 100000


def _docs_with_mutants(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mut = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + _MUTANT_OFFSET).alias("doc_id"),
        # greatest(..., 0): Spark's slice RAISES on negative length while the
        # DuckDB twin's w[1:len-3] degrades to empty — clamp so a <4-token
        # document degrades identically in both dialects.
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(0))), " "
        ).alias("text"),
    )
    return d.unionByName(mut)


_DOCS_MUTANTS_SQL = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_MUTANT_OFFSET} AS doc_id,
             array_to_string(w[1:GREATEST(len(w)-3, 0)], ' ') AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS w
            FROM documents WHERE doc_id % 3 = 0)
"""


@register(
    "text_dedup_exact",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_MUTANT_OFFSET} AS doc_id, text
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT MD5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
    FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def text_dedup_exact(spark, sf_dir):
    """Exact dedup via content hash over a corpus with known exact copies:
    groups with >1 member + canonical keeper (reference J4 semantics)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _MUTANT_OFFSET).alias("doc_id"), "text")
    corpus = d.unionByName(dup)
    return (
        corpus.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_minhash_lsh",
    f"""
    WITH corpus AS ({_DOCS_MUTANTS_SQL}),
    out AS ({DD.minhash_lsh_pairs_sql('corpus', min_est_jaccard=0.5)})
    SELECT id_a, id_b, est_jaccard, exact_jaccard FROM out
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs (shingle -> 12-hash signature -> 4 bands ->
    bucket self-join -> signature-agreement filter -> exact Jaccard)."""
    corpus = _docs_with_mutants(spark, sf_dir)
    return DD.minhash_lsh_pairs(corpus, min_est_jaccard=0.5)


@register(
    "dedup_simhash",
    f"""
    WITH corpus AS ({_DOCS_MUTANTS_SQL}),
    out AS ({DD.simhash_pairs_sql('corpus', 'doc_id', TA.tokens_sql('text'), max_hamming=3)})
    SELECT id_a, id_b, hamming FROM out
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs: 32-bit weighted bit-vote fingerprint, banded
    candidate join on 8-bit chunks, hamming<=8 verify."""
    corpus = _docs_with_mutants(spark, sf_dir)
    return DD.simhash_pairs(corpus, max_hamming=3)


# -- embeddings: near-dup + IVF ANN -----------------------------------------

_PERTURB = "(1.0 + 0.02 * CAST((((i - 1) * 7 + vec_id) % 5) - 2 AS DOUBLE))"


def _vectors_with_mutants(spark, sf_dir):
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    i = F.sequence(F.lit(1), F.lit(SIM.EMB_DIM))
    mut = v.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + _MUTANT_OFFSET).alias("vec_id"),
        F.transform(
            i,
            lambda idx: F.element_at(F.col("e"), idx.cast("int"))
            * (F.lit(1.0) + F.lit(0.02)
               * (F.pmod((idx - 1) * 7 + F.col("vec_id"), F.lit(5)) - 2).cast("double")),
        ).alias("e"),
    )
    return v.unionByName(mut)


_VECS_MUTANTS_SQL = f"""
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
      UNION ALL
      SELECT vec_id + {_MUTANT_OFFSET} AS vec_id,
             list_transform(range(1, {SIM.EMB_DIM} + 1),
                            i -> e[i] * {_PERTURB}) AS e
      FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings WHERE vec_id % 4 = 0)
"""


@register(
    "emb_near_dup",
    f"""
    WITH corpus AS ({_VECS_MUTANTS_SQL}),
    out AS ({DD.embedding_near_dup_sql('corpus', threshold=0.98)})
    SELECT id_a, id_b, ROUND(cosine, 9) AS cosine_r FROM out
    """,
)
def emb_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via sign-LSH buckets (comparison-only
    hash family — no float drift at bucket boundaries) + exact cosine."""
    corpus = _vectors_with_mutants(spark, sf_dir)
    out = DD.embedding_near_dup_pairs(corpus, threshold=0.98)
    # cosine is already a deterministic fold; round for hash stability anyway
    return out.select("id_a", "id_b", F.round("cosine", 9).alias("cosine_r"))


@register(
    "emb_ann_ivf",
    SIM.ivf_topk_sql("embeddings", "__id % 25 = 7", "__id % 50 = 0",
                     k=5, nprobe=3),
)
def emb_ann_ivf(spark, sf_dir):
    """IVF ANN: vectors bucketed to nearest of 20 centroids (broadcast,
    row-local argmax), queries probe 3 buckets, exact cosine + top-5."""
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["e"]])
        for r in v.filter(F.col("vec_id") % 25 == 7).collect()
    ]
    q = v.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
    return SIM.ivf_topk(v, q, cents, k=5, nprobe=3)


# ---------------------------------------------------------------------------
# OSM feature-derivation + geometry block (reference F8-F10/P7, G1/G3, A2+J3
# zonal). Oracles re-derive expected values from the fixture construction
# rules — an independent derivation, not a SQL copy of the Spark plan.
# ---------------------------------------------------------------------------

from geoutils_spark.functions import geometry as G  # noqa: E402
from geoutils_spark.functions import osmtags as OT  # noqa: E402
from geoutils_spark.operators.extrude import extrude_polygons  # noqa: E402
from geoutils_spark.operators.zonal import zonal_stats  # noqa: E402

_N_BUILDINGS = _NX * _NY


def _height_case_sql(b: str) -> str:
    """Height from the fixture tag variants (fixtures._building_tag_variant):
    %4==0 -> height '30.0'; ==1 -> 4 levels * 2.5; ==2 -> default 7.5;
    ==3 -> unparseable height, fall back to 2 levels * 2.5."""
    return (
        f"CASE ({b}) % 4 WHEN 0 THEN 30.0 WHEN 1 THEN 10.0 "
        f"WHEN 2 THEN 7.5 ELSE 5.0 END"
    )


def _name_case_sql(b: str) -> str:
    return f"""
      CASE ({b} + 1) % 4
        WHEN 0 THEN 'Building ' || CAST({b} AS VARCHAR)
        WHEN 1 THEN 'House ' || CAST({b} AS VARCHAR)
        WHEN 2 THEN CAST({b} AS VARCHAR) || ' High Street'
        ELSE CAST({b} AS VARCHAR)
      END
    """


@register(
    "osm_feature_attrs",
    f"""
    WITH b AS (SELECT UNNEST(range({_N_BUILDINGS})) AS way_id),
    hw AS (SELECT UNNEST(range({_N_BUILDINGS}, {_N_BUILDINGS + 2 * _NY})) AS way_id)
    SELECT way_id, 'building' AS kind, TRUE AS closed,
           CAST({_height_case_sql('way_id')} AS DOUBLE) AS height,
           {_name_case_sql('way_id')} AS name
    FROM b
    UNION ALL
    SELECT way_id, 'highway' AS kind, FALSE AS closed,
           7.5 AS height, CAST(way_id AS VARCHAR) AS name
    FROM hw
    """,
)
def osm_feature_attrs(spark, sf_dir):
    """F8/F9/F10/P7: kind, closed-way, height cascade (incl. bad-parse
    fallback), name priority lists — over the fixture ways; the oracle
    re-derives expectations from the construction rules."""
    _, ways = fixtures.nodes_ways_df(spark, nx=_NX, ny=_NY)
    return ways.select(
        F.col("id").alias("way_id"),
        OT.kind_col(F.col("tags")).alias("kind"),
        OT.closed_way_col(F.col("refs")).alias("closed"),
        OT.height_col(F.col("tags")).alias("height"),
        OT.name_col(F.col("tags"), F.col("id")).alias("name"),
    )


@register(
    "geo_polygon_area",
    f"""
    WITH grid AS ({_grid_sql()}),
    rings AS (
      SELECT way_id,
             [maxx, minx, minx, maxx, maxx] AS rx,
             [maxy, maxy, miny, miny, maxy] AS ry
      FROM grid
    )
    SELECT way_id,
           ROUND({G.signed_area_sql('rx', 'ry')}, 12) AS area,
           ({G.signed_area_sql('rx', 'ry')}) > 0 AS ccw,
           ROUND({G.perimeter_deg_sql('rx', 'ry')}, 12) AS perimeter
    FROM rings
    """,
)
def geo_polygon_area(spark, sf_dir):
    """G3 shoelace signed area + winding + perimeter over fixture building
    rings (ring order NE,NW,SW,SE => CCW positive)."""
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    return polys.select(
        "way_id",
        F.round(G.signed_area_col(F.col("ring")), 12).alias("area"),
        G.is_ccw_col(F.col("ring")).alias("ccw"),
        F.round(G.perimeter_deg_col(F.col("ring")), 12).alias("perimeter"),
    )


@register(
    "geo_clean_ring",
    f"""
    WITH grid AS ({_grid_sql()}),
    rings AS (
      SELECT way_id,
             [maxx, minx, minx, maxx, maxx] AS rx,
             [maxy, maxy, miny, miny, maxy] AS ry
      FROM grid
    ),
    r0 AS (
      SELECT way_id,
             list_transform(range(1, 6),
                            i -> {{'lon': rx[i], 'lat': ry[i]}}) AS ring0,
             rx, ry
      FROM rings
    ),
    dirty AS (
      SELECT way_id,
             list_concat(list_concat(
               [ring0[1]],
               flatten(list_transform(range(1, 5), k ->
                 [ring0[k],
                  {{'lon': (rx[k] + rx[k+1]) / 2.0,
                    'lat': (ry[k] + ry[k+1]) / 2.0}}]))),
               [ring0[5]]) AS d
      FROM r0
    ),
    p1 AS (
      SELECT way_id, d,
             list_filter(d[1:len(d)-1],
                         (p, i) -> i = 1 OR NOT
                           (p.lon = (d[1:len(d)-1])[i-1].lon AND
                            p.lat = (d[1:len(d)-1])[i-1].lat)) AS dd
      FROM dirty
    ),
    p1b AS (
      SELECT way_id, d,
             CASE WHEN len(dd) >= 2 AND dd[1].lon = dd[len(dd)].lon
                       AND dd[1].lat = dd[len(dd)].lat
                  THEN dd[1:len(dd)-1] ELSE dd END AS dd
      FROM p1
    ),
    p2 AS (
      SELECT way_id, d,
             list_filter(dd, (p, i) ->
               CASE WHEN
                 (dd[(i % len(dd)) + 1].lon - dd[((i - 2 + len(dd)) % len(dd)) + 1].lon)
                   * (dd[(i % len(dd)) + 1].lon - dd[((i - 2 + len(dd)) % len(dd)) + 1].lon)
                 + (dd[(i % len(dd)) + 1].lat - dd[((i - 2 + len(dd)) % len(dd)) + 1].lat)
                   * (dd[(i % len(dd)) + 1].lat - dd[((i - 2 + len(dd)) % len(dd)) + 1].lat) = 0.0
               THEN FALSE
               ELSE
                 ((p.lon - dd[((i - 2 + len(dd)) % len(dd)) + 1].lon)
                    * (dd[(i % len(dd)) + 1].lat - dd[((i - 2 + len(dd)) % len(dd)) + 1].lat)
                  - (p.lat - dd[((i - 2 + len(dd)) % len(dd)) + 1].lat)
                    * (dd[(i % len(dd)) + 1].lon - dd[((i - 2 + len(dd)) % len(dd)) + 1].lon))
                 * ((p.lon - dd[((i - 2 + len(dd)) % len(dd)) + 1].lon)
                    * (dd[(i % len(dd)) + 1].lat - dd[((i - 2 + len(dd)) % len(dd)) + 1].lat)
                  - (p.lat - dd[((i - 2 + len(dd)) % len(dd)) + 1].lat)
                    * (dd[(i % len(dd)) + 1].lon - dd[((i - 2 + len(dd)) % len(dd)) + 1].lon))
                 > 1e-18 * (
                   (dd[(i % len(dd)) + 1].lon - dd[((i - 2 + len(dd)) % len(dd)) + 1].lon)
                     * (dd[(i % len(dd)) + 1].lon - dd[((i - 2 + len(dd)) % len(dd)) + 1].lon)
                   + (dd[(i % len(dd)) + 1].lat - dd[((i - 2 + len(dd)) % len(dd)) + 1].lat)
                     * (dd[(i % len(dd)) + 1].lat - dd[((i - 2 + len(dd)) % len(dd)) + 1].lat))
               END) AS c
      FROM p1b
    ),
    closed AS (
      SELECT way_id, d,
             CASE WHEN len(c) >= 3 THEN list_concat(c, [c[1]]) ELSE [] END AS cr
      FROM p2
    )
    SELECT way_id,
           CAST(len(d) AS BIGINT) AS n_dirty,
           CAST(len(cr) AS BIGINT) AS n_clean,
           ROUND(list_sum(list_transform(range(1, len(cr)),
             i -> cr[i].lon * cr[i+1].lat - cr[i+1].lon * cr[i].lat)) / 2.0, 12)
             AS area
    FROM closed
    """,
)
def geo_clean_ring(spark, sf_dir):
    """G6 polygon cleaning through the driver contract: fixture rings are
    DIRTIED deterministically (duplicate first vertex + exact midpoint
    inserted on every edge), then cleaned (near-duplicate pass + collinear
    pass, reference Clipper CleanPolygon semantics utils.cpp:160-165); the
    cleaned ring's size and shoelace area must match the oracle replaying
    the identical construction + filters. tol=1e-9 (deg) so only the exact
    artifacts are removed."""
    from geoutils_spark.functions.geometry import signed_area_col, with_clean_ring

    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    ring = F.col("ring")
    n = F.size(ring)

    def mid(p, q):
        return F.struct(((p["lon"] + q["lon"]) / F.lit(2.0)).alias("lon"),
                        ((p["lat"] + q["lat"]) / F.lit(2.0)).alias("lat"))

    edges = F.slice(ring, 1, n - 1)
    dirty_mid = F.flatten(F.transform(
        edges,
        lambda p, k: F.array(p, mid(p, F.element_at(ring, (k + F.lit(2)).cast("int"))))))
    dirty = F.concat(F.array(F.element_at(ring, 1)), dirty_mid,
                     F.slice(ring, n, 1))
    df = polys.select("way_id", dirty.alias("dirty"))
    df = with_clean_ring(df, "dirty", out="cr", tol=1e-9)
    return df.select(
        "way_id",
        F.size("dirty").cast("long").alias("n_dirty"),
        F.size("cr").cast("long").alias("n_clean"),
        F.round(signed_area_col(F.col("cr")), 12).alias("area"),
    )


def _zones_sql(nz: int = 6) -> str:
    """Regenerate fixtures.zones_df's diamond layer in SQL (identical float
    math): (zone_id, ring_b closed x/y struct list, bbox cols)."""
    lon0, lat0, _, _ = LONDON_EXTENTS
    space = fixtures.grid_space(LONDON_EXTENTS, _NX)
    return f"""
      SELECT zone_id, cx, cy, r,
             [{{'x': cx + r, 'y': cy}}, {{'x': cx, 'y': cy + r}},
              {{'x': cx - r, 'y': cy}}, {{'x': cx, 'y': cy - r}},
              {{'x': cx + r, 'y': cy}}] AS ring_b
      FROM (
        SELECT zi AS zone_id,
               {_dbl(lon0)} + ({_dbl(space)} * (zi % {_NX - 1})) * 2
                 + {_dbl(space)} AS cx,
               {_dbl(lat0)} + ({_dbl(space)} * (zi % {_NY})) * 2
                 + {_dbl(space)} AS cy,
               {_dbl(space)} * 1.5 AS r
        FROM range({nz}) t(zi)
      )
    """


def _poly_boolean_sql() -> str:
    from geoutils_spark.operators.clip import shoelace_fp_sql
    from geoutils_spark.operators.overlay import overlay_intersection_fp_sql

    return f"""
    WITH grid AS ({_grid_sql()}),
    bld AS (
      SELECT way_id, minx, miny, maxx, maxy,
             [{{'x': maxx, 'y': maxy}}, {{'x': minx, 'y': maxy}},
              {{'x': minx, 'y': miny}}, {{'x': maxx, 'y': miny}},
              {{'x': maxx, 'y': maxy}}] AS ring_a
      FROM grid
    ),
    zones AS ({_zones_sql()}),
    pairs AS (
      SELECT b.way_id, z.zone_id, b.ring_a, z.ring_b
      FROM bld b, zones z
      WHERE b.minx <= z.cx + z.r AND b.maxx >= z.cx - z.r
        AND b.miny <= z.cy + z.r AND b.maxy >= z.cy - z.r
    ),
    res AS ({overlay_intersection_fp_sql('pairs', ['way_id', 'zone_id'])})
    SELECT r.way_id, r.zone_id, r.inter_fp,
           {shoelace_fp_sql('p.ring_a')} + {shoelace_fp_sql('p.ring_b')}
             - r.inter_fp AS union_fp,
           {shoelace_fp_sql('p.ring_a')} - r.inter_fp AS diff_fp
    FROM res r
    JOIN pairs p ON r.way_id = p.way_id AND r.zone_id = p.zone_id
    WHERE r.inter_fp <> 0
    """


@register("geo_poly_boolean", _poly_boolean_sql())
def geo_poly_boolean(spark, sf_dir):
    """G5 general polygon⋈polygon boolean (the r2-verdict gap): exact
    intersection areas between TWO polygon layers — axis-aligned building
    footprints ⋈ oblique diamond zones — via the relational Green's-theorem
    boundary-fragment overlay (operators/overlay.py; no clip window, no
    UDF). Candidate pairs come from the cover-cell equi-join
    (polygon_pair_candidates); areas are 1e-12 fixed-point integers so the
    DuckDB twin (bbox cross join + identical fragment arithmetic) is
    hash-exact. Constructive ring output of the same operator family is
    pytest-validated against the reference's own Clipper cases
    (tests/test_polybool.py; /root/reference/osm2assimp/test.cpp:26-119)."""
    from geoutils_spark.operators.overlay import (overlay_intersection_fp,
                                                  polygon_pair_candidates,
                                                  xy_ring_col)

    from geoutils_spark.operators.clip import shoelace_fp_col

    bld = fixtures.polygons_df(spark).filter(F.col("kind") == "building") \
        .select("way_id", xy_ring_col(F.col("ring")).alias("ring_a"), "bbox")
    zones = fixtures.zones_df(spark).select(
        "zone_id", xy_ring_col(F.col("ring")).alias("ring_b"), "bbox")
    pairs = polygon_pair_candidates(bld, F.broadcast(zones), level=12)
    # union/difference areas fall out algebraically (A∪B = A + B − A∩B,
    # A−B = A − A∩B) — fixed-point integers, so exact in both dialects
    areas = pairs.select(
        "way_id", "zone_id",
        shoelace_fp_col(F.col("ring_a")).alias("__a_fp"),
        shoelace_fp_col(F.col("ring_b")).alias("__b_fp"))
    out = overlay_intersection_fp(pairs, ["way_id", "zone_id"]) \
        .join(areas, on=["way_id", "zone_id"])
    return out.filter(F.col("inter_fp") != 0).select(
        "way_id", "zone_id", "inter_fp",
        (F.col("__a_fp") + F.col("__b_fp") - F.col("inter_fp")).alias("union_fp"),
        (F.col("__a_fp") - F.col("inter_fp")).alias("diff_fp"))


@register(
    "geo_zonal_stats",
    f"""
    WITH pts AS (
      SELECT {C.tile_x_sql(_LON, 15)} AS tx, {C.tile_y_sql(_LAT, 15)} AS ty
      FROM orders
    ),
    raster AS (SELECT tx, ty, COUNT(*) AS n FROM pts GROUP BY tx, ty),
    grid AS ({_grid_sql()}),
    bounds AS (
      SELECT way_id,
             {C.tile_x_sql('minx', 15)} AS x0, {C.tile_x_sql('maxx', 15)} AS x1,
             {C.tile_y_sql('maxy', 15)} AS y0, {C.tile_y_sql('miny', 15)} AS y1
      FROM grid
    )
    SELECT b.way_id, COUNT(*) AS n_cells, CAST(SUM(r.n) AS BIGINT) AS n_points
    FROM raster r JOIN bounds b
      ON r.tx BETWEEN b.x0 AND b.x1 AND r.ty BETWEEN b.y0 AND b.y1
    GROUP BY b.way_id
    """,
)
def geo_zonal_stats(spark, sf_dir):
    """Raster↔vector zonal: points rasterized to level-15 cells (A2 density
    grid keyed by cell), covering-cell join to polygons (J2/J3), per-polygon
    rollup. Cell-granular semantics on both sides."""
    pts = _orders_points(spark, sf_dir)
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    return zonal_stats(pts, polys, level=15).select(
        "way_id", "n_cells", F.col("n_points").cast("long").alias("n_points"))


@register(
    "geom_extrude_stats",
    f"""
    WITH b AS (SELECT UNNEST(range({_N_BUILDINGS})) AS way_id)
    SELECT way_id,
           CAST(8 AS BIGINT) AS n_vertices,
           CAST(12 AS BIGINT) AS n_faces,
           CAST(4 * ({_height_case_sql('way_id')}) AS DOUBLE) AS vz_sum
    FROM b
    """,
)
def geom_extrude_stats(spark, sf_dir):
    """G1 prism extrusion through mapInPandas (Arrow-batched numpy mesh
    synthesis): per-way vertex/face counts + total top-ring height — the
    oracle derives counts from the mesh layout contract (k=4 footprint =>
    2k vertices, 4k-4 triangles)."""
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    polys = polys.withColumn("height", OT.height_col(F.col("tags")))
    mesh = extrude_polygons(polys, "height")
    return mesh.select(
        "way_id", "n_vertices", "n_faces",
        F.aggregate("vz", F.lit(0.0), lambda a, x: a + x).alias("vz_sum"),
    )


# U ticks exactly 4 per building edge: fixture buildings are squares of
# side grid_space (queries _grid_sql == fixtures.polygon_grid float math)
_ATTR_UV_SCALE = fixtures.grid_space(LONDON_EXTENTS, _NX) / 4.0


@register(
    "geom_attr_stats",
    f"""
    WITH g AS ({_grid_sql()})
    SELECT way_id,
           CAST(24 AS BIGINT) AS n_vertices,
           CAST(6 AS BIGINT) AS n_faces,
           CAST(4 * (ROUND((maxx - minx) / {_dbl(_ATTR_UV_SCALE)})
                     + ROUND((maxy - miny) / {_dbl(_ATTR_UV_SCALE)}))
                AS DOUBLE) AS sum_tu,
           CAST(8 * ROUND(({_height_case_sql('way_id')})
                          / {_dbl(_ATTR_UV_SCALE)}) AS DOUBLE) AS sum_tv,
           CAST(16 * way_id AS DOUBLE) AS sum_tw,
           CAST(0 AS DOUBLE) AS sum_nz
    FROM g
    """,
)
def geom_attr_stats(spark, sf_dir):
    """G1 attribute layout (reference geometry.cpp:310-415 via
    ``with_attributes=True``): the oracle re-derives the 6k-vertex /
    k+2-face contract and the reference UV rounding rule
    (U = round(edge/scale) twice per side quad -> 2 per edge; V =
    round(height/scale) twice per quad -> 8V total; tw = featureId on the
    16 side vertices) plus the normal-balance invariant (base -up and top
    +up cancel; flat side normals have z = 0 -> sum_nz == 0). All summed
    values are integer-valued doubles, so aggregation order is exact in
    both dialects."""
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    polys = polys.withColumn("height", OT.height_col(F.col("tags")))
    mesh = extrude_polygons(polys, "height", with_attributes=True,
                            uv_scale=_ATTR_UV_SCALE)
    s = lambda c: F.aggregate(c, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    return mesh.select(
        "way_id", "n_vertices", "n_faces",
        s("tu").alias("sum_tu"), s("tv").alias("sum_tv"),
        s("tw").alias("sum_tw"), s("nz").alias("sum_nz"),
    )


# ---------------------------------------------------------------------------
# Polyline near-join + cell decode block (reference G2 buffer semantics,
# s2util decode surface F12-F15)
# ---------------------------------------------------------------------------

_TOL = 0.0015


def _highway_segments_sql() -> str:
    """Axis-aligned fixture highways as (way_id, x0, y0, x1, y1): EW rows at
    y = lat0 + space*(2*yi + 1.5), NS cols at x = lon0 + space*(2*i + 1.5)
    (fixtures.polygon_grid road-node layout)."""
    lon0, lat0, _, _ = LONDON_EXTENTS
    space = fixtures.grid_space(LONDON_EXTENTS, _NX)
    n_b = _NX * _NY
    return f"""
      SELECT {n_b} + 2 * i AS way_id,
             {_dbl(lon0)} + {_dbl(space)} * 1.5 AS x0,
             {_dbl(lat0)} + {_dbl(space)} * (2 * i + 1.5) AS y0,
             {_dbl(lon0)} + {_dbl(space)} * (2 * ({_NX} - 1) + 1.5) AS x1,
             {_dbl(lat0)} + {_dbl(space)} * (2 * i + 1.5) AS y1
      FROM range({_NY}) t(i)
      UNION ALL
      SELECT {n_b} + 2 * i + 1 AS way_id,
             {_dbl(lon0)} + {_dbl(space)} * (2 * i + 1.5) AS x0,
             {_dbl(lat0)} + {_dbl(space)} * 1.5 AS y0,
             {_dbl(lon0)} + {_dbl(space)} * (2 * i + 1.5) AS x1,
             {_dbl(lat0)} + {_dbl(space)} * (2 * ({_NY} - 1) + 1.5) AS y1
      FROM range({_NY}) t(i)
    """


@register(
    "geo_polyline_join",
    f"""
    WITH pts AS (
      SELECT o_orderkey AS page_id, {_LON} AS px, {_LAT} AS py FROM orders
    ),
    hw AS ({_highway_segments_sql()})
    SELECT p.page_id, h.way_id
    FROM pts p CROSS JOIN hw h
    WHERE SQRT(
        POW(GREATEST(h.x0 - p.px, p.px - h.x1, 0.0), 2)
      + POW(GREATEST(h.y0 - p.py, p.py - h.y1, 0.0), 2)
    ) <= {_TOL!r}
    """,
)
def geo_polyline_join(spark, sf_dir):
    """Points within tolerance of highway polylines (reference G2: the ribbon
    buffer, expressed as distance-to-segment <= w/2). Engine path: padded
    covering cells -> cell equi-join -> vectorized point-to-segment distance;
    oracle re-derives with the axis-aligned closed form."""
    from geoutils_spark.operators.spatial_join import polyline_join

    pts = _orders_points(spark, sf_dir).withColumnRenamed("o_orderkey", "page_id")
    lines = fixtures.polygons_df(spark).filter(F.col("kind") == "highway")
    out = polyline_join(pts, lines, level=15, tolerance_deg=_TOL,
                        point_cols=("page_id",))
    return out.select("page_id", "way_id").dropDuplicates()


def _center_sinh_sql(v: str) -> str:
    """sinh via exp (DuckDB lacks sinh); the Spark side uses the identical
    exp form for bit parity."""
    x = f"(PI() * (1.0 - 2.0 * ({v})))"
    return f"((EXP({x}) - EXP(-{x})) / 2.0)"


@register(
    "geo_cell_decode",
    f"""
    WITH pts AS (
      SELECT o_orderkey,
             {C.tile_x_sql(_LON, 12)} AS tx, {C.tile_y_sql(_LAT, 12)} AS ty,
             {C.cell_sql(_LON, _LAT, 12)} AS cell_id
      FROM orders
    )
    SELECT o_orderkey, cell_id,
           printf('%016x', cell_id) AS cell_hex,
           CAST('0x' || printf('%016x', cell_id) AS BIGINT) AS reparsed,
           ((cell_id & -{1 << (2 * (30 - 9))}) | {1 << (2 * (30 - 9))}) AS parent9,
           12 AS level,
           ROUND((CAST(tx AS DOUBLE) + 0.5) / {float(1 << 12)!r} * 360.0 - 180.0, 9) AS center_lon,
           ROUND(DEGREES(ATAN({_center_sinh_sql(f"(CAST(ty AS DOUBLE) + 0.5) / {float(1 << 12)!r}")})), 9) AS center_lat
    FROM pts
    """,
)
def geo_cell_decode(spark, sf_dir):
    """Cell-id decode surface (reference s2util F12-F15): hex token
    round-trip, parent derivation, level recovery, center decode. The Spark
    side decodes tile coords FROM the cell id (Morton compact); the oracle
    recomputes them from source coords — decode correctness is the test."""
    import numpy as np

    df = _orders_points(spark, sf_dir)
    df = C.with_cell(df, "lon", "lat", 12, "cell_id")
    df = C.with_cell_tile_xy(df, "cell_id", 12, "__tx", "__ty")
    n = float(1 << 12)
    u = (F.col("__tx").cast("double") + 0.5) / F.lit(n)
    v = (F.col("__ty").cast("double") + 0.5) / F.lit(n)
    x = F.lit(float(np.pi)) * (F.lit(1.0) - F.lit(2.0) * v)
    sinh_x = (F.exp(x) - F.exp(-x)) / F.lit(2.0)  # exp form matches oracle
    hexcol = C.cell_to_hex_col(F.col("cell_id"))
    return df.select(
        "o_orderkey", "cell_id",
        hexcol.alias("cell_hex"),
        C.hex_to_cell_col(hexcol).alias("reparsed"),
        C.cell_parent_col(F.col("cell_id"), 9).alias("parent9"),
        C.cell_level_col(F.col("cell_id")).cast("int").alias("level"),
        F.round(u * 360.0 - 180.0, 9).alias("center_lon"),
        F.round(F.degrees(F.atan(sinh_x)), 9).alias("center_lat"),
    )


# ---------------------------------------------------------------------------
# JSON + geodesy block (tag-map analog for webtext props; reference F7/F2)
# ---------------------------------------------------------------------------

from geoutils_spark.functions.geodesy import bearing_deg_col  # noqa: E402


@register(
    "rel_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def rel_json_extract(spark, sf_dir):
    """Semi-structured projection: JSON props -> typed column -> rollup (the
    webtext analog of the reference's dynamic tag-map access,
    osmfeature.cpp:27-49)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).cast("long").alias("max_k"),
    )


_BEARING_DEG = (
    "DEGREES(ATAN2("
    f"SIN(RADIANS({_dbl(_CENTER[0])}) - RADIANS({_DLON})) * COS(RADIANS({_dbl(_CENTER[1])})), "
    f"COS(RADIANS({_DLAT})) * SIN(RADIANS({_dbl(_CENTER[1])})) "
    f"- SIN(RADIANS({_DLAT})) * COS(RADIANS({_dbl(_CENTER[1])})) "
    f"* COS(RADIANS({_dbl(_CENTER[0])}) - RADIANS({_DLON}))"
    "))"
)


@register(
    "geo_bearing",
    f"""
    SELECT doc_id,
           ROUND((({_BEARING_DEG}) % 360.0 + 360.0) % 360.0, 9) AS bearing
    FROM documents
    """,
)
def geo_bearing(spark, sf_dir):
    """Initial bearing from each doc point to the fixture center (reference
    F7, eigenconversion.cpp:133-144)."""
    df = _documents_points(spark, sf_dir)
    b = bearing_deg_col(F.col("lon"), F.col("lat"),
                        F.lit(_CENTER[0]), F.lit(_CENTER[1]))
    return df.select("doc_id", F.round(b, 9).alias("bearing"))


# ---------------------------------------------------------------------------
# ECEF / weighted-median / scalar-subquery / mesh-merge block
# (reference F2, A5, A6; subquery decorrelation is Catalyst-free coverage)
# ---------------------------------------------------------------------------


@register(
    "geo_ecef",
    f"""
    SELECT doc_id,
           ROUND((6378137.0 / SQRT(1.0 - 0.0066943799901413165 * SIN(RADIANS({_DLAT})) * SIN(RADIANS({_DLAT}))))
                 * COS(RADIANS({_DLAT})) * COS(RADIANS({_DLON})), 6) AS ecef_x,
           ROUND((6378137.0 / SQRT(1.0 - 0.0066943799901413165 * SIN(RADIANS({_DLAT})) * SIN(RADIANS({_DLAT}))))
                 * COS(RADIANS({_DLAT})) * SIN(RADIANS({_DLON})), 6) AS ecef_y,
           ROUND((6378137.0 / SQRT(1.0 - 0.0066943799901413165 * SIN(RADIANS({_DLAT})) * SIN(RADIANS({_DLAT}))))
                 * (1.0 - 0.0066943799901413165) * SIN(RADIANS({_DLAT})), 6) AS ecef_z
    FROM documents
    """,
)
def geo_ecef(spark, sf_dir):
    """WGS84 LLA -> ECEF through the Arrow-batched numpy kernel (reference
    F2, eigenconversion.cpp:51-61 — array-vectorized there too); alt=0 so
    the oracle's closed form matches to a micrometer."""
    from geoutils_spark.functions.geodesy import make_lla_to_ecef_udf

    df = _documents_points(spark, sf_dir)
    e = make_lla_to_ecef_udf()(F.col("lon"), F.col("lat"))
    return df.select(
        "doc_id",
        F.round(e["x"], 6).alias("ecef_x"),
        F.round(e["y"], 6).alias("ecef_y"),
        F.round(e["z"], 6).alias("ecef_z"),
    )


@register(
    "rel_weighted_median",
    """
    WITH buckets AS (
      SELECT event_type, CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bucket, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum_n,
             SUM(n) OVER (PARTITION BY event_type) AS total_n
      FROM buckets
    )
    SELECT event_type, CAST(MIN(bucket) AS BIGINT) AS median_bucket
    FROM cum WHERE cum_n * 2 >= total_n GROUP BY event_type
    """,
)
def rel_weighted_median(spark, sf_dir):
    """A5 weighted-median split point (mapsplit.h:65-88): histogram ->
    cumulative window -> first bucket at half mass. The exact prefix-sum
    formulation, not percentile_approx."""
    e = _t(spark, sf_dir, "events")
    b = (
        e.withColumn("bucket", F.floor(F.col("value") / 10.0).cast("long"))
        .groupBy("event_type", "bucket").agg(F.count("*").alias("n"))
    )
    w_cum = Window.partitionBy("event_type").orderBy("bucket")
    w_tot = Window.partitionBy("event_type")
    cum = (
        b.withColumn("cum_n", F.sum("n").over(w_cum))
        .withColumn("total_n", F.sum("n").over(w_tot))
    )
    return (
        cum.filter(F.col("cum_n") * 2 >= F.col("total_n"))
        .groupBy("event_type").agg(F.min("bucket").cast("long").alias("median_bucket"))
    )


@register(
    "rel_scalar_subquery",
    """
    SELECT o.o_orderpriority AS priority, COUNT(*) AS n_above
    FROM orders o
    WHERE o.o_totalprice > (
      SELECT AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    GROUP BY 1
    """,
)
def rel_scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery (orders above their customer's average) —
    expressed as agg+join in the engine; Catalyst decorrelates the SQL form
    identically (SURVEY.md §4: nothing to port)."""
    o = _t(spark, sf_dir, "orders")
    avg = o.groupBy("o_custkey").agg(F.avg("o_totalprice").alias("cust_avg"))
    return (
        o.join(avg, on="o_custkey")
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_above"))
    )


@register(
    "geom_mesh_merge",
    f"""
    WITH b AS (
      SELECT UNNEST(range({_N_BUILDINGS})) AS way_id
    ),
    hb AS (SELECT way_id, {_height_case_sql('way_id')} AS h FROM b)
    SELECT CAST(h AS DOUBLE) AS height,
           COUNT(*) AS n_meshes,
           CAST(8 * COUNT(*) AS BIGINT) AS total_vertices,
           CAST(12 * COUNT(*) AS BIGINT) AS total_faces,
           CAST(8 * COUNT(*) - 1 AS BIGINT) AS max_face_idx
    FROM hb GROUP BY h
    """,
)
def geom_mesh_merge(spark, sf_dir):
    """A6 mesh merge (assimpwriter.cpp:32-92): concat vertex arrays per
    group and rebase face indices by the running vertex offset (window
    cumsum), exactly the memcpy+shift the reference does — validated by the
    max rebased index."""
    from geoutils_spark.functions import osmtags as OT2
    from geoutils_spark.operators.extrude import extrude_polygons

    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    polys = polys.withColumn("height", OT2.height_col(F.col("tags")))
    mesh = extrude_polygons(polys, "height")
    mesh = polys.select("way_id", "height").join(mesh, on="way_id")
    w = (Window.partitionBy("height").orderBy("way_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    mesh = mesh.withColumn("v_offset",
                           F.coalesce(F.sum("n_vertices").over(w), F.lit(0)))
    rebased_max = F.aggregate(
        F.flatten("faces"), F.lit(0),
        lambda acc, i: F.greatest(acc, i + F.col("v_offset").cast("int")),
    )
    return (
        mesh.withColumn("rebased_max", rebased_max)
        .groupBy("height")
        .agg(
            F.count("*").alias("n_meshes"),
            F.sum("n_vertices").cast("long").alias("total_vertices"),
            F.sum("n_faces").cast("long").alias("total_faces"),
            F.max("rebased_max").cast("long").alias("max_face_idx"),
        )
    )


# ---------------------------------------------------------------------------
# Adaptive join / valued zonal / dedup decision block
# ---------------------------------------------------------------------------


@register(
    "geo_spatial_join_adaptive",
    ORACLE_SQL["geo_spatial_join"],
)
def geo_spatial_join_adaptive(spark, sf_dir):
    """Two-level adaptive spatial join (SURVEY §4 hot-cell refinement). All
    fixture buildings are small, so the adaptive result must equal the
    single-level oracle exactly — the coarse path contributes zero rows
    here and is exercised for non-interference."""
    from geoutils_spark.operators.spatial_join import spatial_join_adaptive

    pts = _orders_points(spark, sf_dir).withColumnRenamed("o_orderkey", "page_id")
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    out = spatial_join_adaptive(pts, polys, fine_level=15, coarse_level=11,
                                max_fine_cells=64)
    return out.select("page_id", "way_id")


@register(
    "geo_zonal_value",
    f"""
    WITH pts AS (
      SELECT o_orderkey, o_totalprice,
             {C.tile_x_sql(_LON, 15)} AS tx, {C.tile_y_sql(_LAT, 15)} AS ty
      FROM orders
    ),
    raster AS (
      SELECT tx, ty, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sv,
             MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
      FROM pts GROUP BY tx, ty
    ),
    grid AS ({_grid_sql()}),
    bounds AS (
      SELECT way_id,
             {C.tile_x_sql('minx', 15)} AS x0, {C.tile_x_sql('maxx', 15)} AS x1,
             {C.tile_y_sql('maxy', 15)} AS y0, {C.tile_y_sql('miny', 15)} AS y1
      FROM grid
    )
    SELECT b.way_id, COUNT(*) AS n_cells,
           CAST(SUM(r.n) AS BIGINT) AS n_points,
           CAST(SUM(CAST(r.sv AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(r.mn) AS min_value, MAX(r.mx) AS max_value
    FROM raster r JOIN bounds b
      ON r.tx BETWEEN b.x0 AND b.x1 AND r.ty BETWEEN b.y0 AND b.y1
    GROUP BY b.way_id
    """,
)
def geo_zonal_value(spark, sf_dir):
    """Zonal stats with a value band (sum/min/max of order totalprice per
    polygon) — the raster/vector rollup carrying measures, DECIMAL-summed
    for order independence."""
    from geoutils_spark.operators.zonal import zonal_stats

    pts = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("val"),
        K.key_lon_col(F.col("o_orderkey")).alias("lon"),
        K.key_lat_col(F.col("o_orderkey")).alias("lat"),
    )
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    out = zonal_stats(pts, polys, level=15, value="val")
    return out.select(
        "way_id", "n_cells", F.col("n_points").cast("long").alias("n_points"),
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


@register(
    "dedup_drop_list",
    f"""
    WITH corpus AS ({_DOCS_MUTANTS_SQL}),
    pairs AS ({DD.minhash_lsh_pairs_sql('corpus', min_est_jaccard=0.5)})
    SELECT DISTINCT id_b AS drop_id FROM pairs WHERE exact_jaccard >= 0.7
    """,
)
def dedup_drop_list(spark, sf_dir):
    """End-to-end dedup decision: greedy keep-smallest-id — a document is
    dropped iff it near-duplicates (exact Jaccard >= 0.7) some smaller-id
    document. The corpus-dedup action LSH candidates exist to drive."""
    corpus = _docs_with_mutants(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(corpus, min_est_jaccard=0.5)
    return (
        pairs.filter(F.col("exact_jaccard") >= 0.7)
        .select(F.col("id_b").alias("drop_id")).distinct()
    )


# ---------------------------------------------------------------------------
# Streaming-module batch parity + iterative dedup clusters
# ---------------------------------------------------------------------------


@register(
    "stream_hourly_batch",
    """
    SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS hour_bucket,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_hourly_batch(spark, sf_dir):
    """The streaming module's watermarked tumbling-window operator run on a
    batch frame (unified API): window.start must equal the oracle's
    floor(epoch/3600) bucket — the batch/stream parity contract, driver
    checked."""
    from geoutils_spark.streaming.windows import hourly_event_counts

    e = _t(spark, sf_dir, "events")
    out = hourly_event_counts(e)
    return out.select(
        (F.unix_timestamp("window_start") / 3600).cast("long").alias("hour_bucket"),
        "event_type", "n", "total_value",
    )


@register("dedup_components")  # iterative — no single-SQL oracle (rows-only)
def dedup_components(spark, sf_dir):
    """Duplicate clusters: transitive closure over the LSH near-dup pair
    graph via iterative min-label propagation (operators/dedup.py
    connected_components). Deliberately registered WITHOUT an oracle twin:
    the algorithm is iterative (SURVEY §2.8 escape hatch) — the driver
    records the rows-only check; correctness is pinned by
    tests/test_dedup.py::test_connected_components_*."""
    corpus = _docs_with_mutants(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(corpus, min_est_jaccard=0.5).filter(
        F.col("exact_jaccard") >= 0.7)
    from geoutils_spark.operators.dedup import dedup_keepers

    return dedup_keepers(pairs).select(
        "node", "component_id", F.col("keep").cast("boolean").alias("keep"))


# ---------------------------------------------------------------------------
# As-of join (temporal most-recent-prior; absent from the reference —
# SURVEY §2.5 — and from Spark; oracle is DuckDB's NATIVE ASOF JOIN)
# ---------------------------------------------------------------------------


@register(
    "rel_asof_join",
    """
    WITH r AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS last_order
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, r.last_order
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
)
def rel_asof_join(spark, sf_dir):
    """Each event joined to the user's most recent order at-or-before the
    event time. Engine: union-tag + one window pass per key (no range-join
    blowup); oracle: DuckDB's native ASOF JOIN — two independent
    implementations of the same semantics."""
    from geoutils_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id",
                                           F.col("ts").cast("timestamp").alias("ts"))
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"),
                 F.col("o_orderdate").cast("timestamp").alias("odate"))
        .agg(F.max("o_orderkey").alias("last_order"))
    )
    out = asof_join(e, o, on="user_id", left_ts="ts", right_ts="odate",
                    value_cols=["last_order"])
    return out.select("event_id", "last_order")


@register(
    "rel_rollup_orders",
    f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS {_D})) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rel_rollup_orders(spark, sf_dir):
    """ROLLUP grouping sets (hierarchical subtotals; free in Spark —
    SURVEY §2.6 notes the reference has none)."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(_D)).cast("double").alias("total"),
    )


@register(
    "text_ngram_topk",
    f"""
    WITH sh AS (
      SELECT lang, UNNEST({TA.word_shingles_sql('text', 2)}) AS gram
      FROM documents
    ),
    counted AS (
      SELECT lang, gram, COUNT(*) AS n FROM sh GROUP BY lang, gram
    )
    SELECT lang, gram, n, rank FROM (
      SELECT lang, gram, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, gram ASC) AS rank
      FROM counted
    ) WHERE rank <= 5
    """,
)
def text_ngram_topk(spark, sf_dir):
    """Top-5 word bigrams per language (corpus n-gram frequency analysis):
    distinct-per-doc shingles -> global count -> windowed top-k."""
    d = _t(spark, sf_dir, "documents")
    sh = d.select("lang", F.explode(TA.word_shingles_col(F.col("text"), 2)).alias("gram"))
    counted = sh.groupBy("lang", "gram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "gram", "n", F.col("rank").cast("long").alias("rank"))
    )


@register(
    "text_gopher_repetition",
    f"""
    WITH g AS (
      SELECT doc_id, UNNEST({TA.word_ngrams_sql('text', 2)}) AS gram
      FROM documents
    ),
    c AS (
      SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY doc_id, gram
    ),
    p AS (
      SELECT doc_id, CAST(MAX(n) AS BIGINT) AS top_bigram_n,
             CAST(SUM(n) AS BIGINT) AS n_bigrams
      FROM c GROUP BY doc_id
    ),
    base AS (
      SELECT d.doc_id,
             CAST(len({TA.tokens_sql('text')}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct({TA.tokens_sql('text')})) AS BIGINT)
               AS n_distinct_tokens,
             COALESCE(p.top_bigram_n, 0) AS top_bigram_n,
             COALESCE(CAST(p.top_bigram_n AS DOUBLE)
                      / CAST(p.n_bigrams AS DOUBLE),
                      CAST(0 AS DOUBLE)) AS top_bigram_frac
      FROM documents d LEFT JOIN p USING (doc_id)
    )
    SELECT doc_id, n_tokens, n_distinct_tokens,
           CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS distinct_ratio,
           top_bigram_n, top_bigram_frac,
           CAST(CASE WHEN CAST(n_distinct_tokens AS DOUBLE)
                          / CAST(n_tokens AS DOUBLE) >= {_dbl(0.15)}
                      AND top_bigram_frac <= {_dbl(0.05)}
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM base
    """,
)
def text_gopher_repetition(spark, sf_dir):
    """Gopher-style repetition quality metrics per document: distinct-word
    ratio and the fraction of all word bigrams occupied by the single most
    frequent bigram (Rae et al. 2021 'fraction of characters in the most
    common n-gram' analog on the word level), plus a keep gate on both.
    Plan: row-local n-gram expansion -> two-level hash agg keyed by
    (doc_id, gram) with map-side combine -> left join back onto the doc
    scan. No corpus-wide state, no windows; the (doc_id, gram) shuffle is
    the only exchange and its key is near-unique (no skew)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = TA.tokens_col(F.col("text"))
    base = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )
    g = d.select(
        "doc_id",
        F.explode(TA.word_ngrams_col(F.col("text"), 2)).alias("gram"))
    c = g.groupBy("doc_id", "gram").agg(F.count("*").alias("n"))
    p = c.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("top_bigram_n"),
        F.sum("n").cast("long").alias("n_bigrams"),
    )
    out = base.join(p, "doc_id", "left")
    dr = (F.col("n_distinct_tokens").cast("double")
          / F.col("n_tokens").cast("double"))
    frac = F.coalesce(
        F.col("top_bigram_n").cast("double") / F.col("n_bigrams").cast("double"),
        F.lit(0.0))
    return out.select(
        "doc_id", "n_tokens", "n_distinct_tokens",
        dr.alias("distinct_ratio"),
        F.coalesce(F.col("top_bigram_n"), F.lit(0)).cast("long")
         .alias("top_bigram_n"),
        frac.alias("top_bigram_frac"),
        F.when((dr >= F.lit(0.15)) & (frac <= F.lit(0.05)), 1).otherwise(0)
         .cast("long").alias("keep"),
    )


@register(
    "text_tfidf_topterms",
    f"""
    WITH tok AS (
      SELECT lang, doc_id, UNNEST({TA.tokens_sql('text')}) AS term
      FROM documents
    ),
    tf AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY lang, term
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT lang, term, tf, df,
             CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT lang, term, tf, df, score, rank FROM (
      SELECT lang, term, tf, df, score,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY score DESC, term ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def text_tfidf_topterms(spark, sf_dir):
    """Corpus TF-IDF salience: term frequency per (lang, term) weighted by
    inverse document frequency (linear N/df inverse — division is IEEE
    exact-rounded in both engines, unlike ln), top-5 per language.
    Plan: one explode feeding two hash aggs (tf keyed by (lang, term), df
    keyed by term — both map-side combined), the vocab-sized df table
    BROADCAST onto tf (Heaps' law keeps natural-language vocab sublinear
    in corpus size, so the post-agg table fits executors long after the
    corpus doesn't; drop the hint only for unbounded token alphabets), a
    broadcast scalar for N, and a per-lang window over the tiny scored
    set. The explode output is never joined or windowed raw."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "lang", "doc_id",
        F.explode(TA.tokens_col(F.col("text"))).alias("term"))
    tf = tok.groupBy("lang", "term").agg(F.count("*").cast("long").alias("tf"))
    dfreq = tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df"))
    n = d.agg(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "lang", "term", "tf", "df",
            ((F.col("tf") * F.col("n_docs")).cast("double")
             / F.col("df").cast("double")).alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("lang", "term", "tf", "df", "score", "rank")
    )


@register(
    "rel_range_join",
    """
    WITH p AS (
      SELECT event_id, (event_id * 37) % 100000 AS pos FROM events
    ),
    i AS (
      SELECT doc_id, (doc_id * 911) % 100000 AS start_v,
             (doc_id * 911) % 100000 + 40 + (doc_id % 60) * 4 AS end_v
      FROM documents
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos
    FROM i JOIN p ON p.pos BETWEEN i.start_v AND i.end_v
    GROUP BY doc_id
    """,
)
def rel_range_join(spark, sf_dir):
    """Binned 1-D range join (operators/rangejoin.py): points fall into
    intervals via bin-explode + equi-join + BETWEEN refine instead of the
    BroadcastNestedLoopJoin a bare BETWEEN condition would plan. The oracle
    states the same join declaratively (DuckDB plans its own IEJoin)."""
    from geoutils_spark.operators.rangejoin import range_join

    e = _t(spark, sf_dir, "events").select("event_id")
    p = e.select("event_id", ((F.col("event_id") * 37) % 100000).alias("pos"))
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = d.select(
        "doc_id",
        ((F.col("doc_id") * 911) % 100000).alias("start_v"),
        ((F.col("doc_id") * 911) % 100000 + 40
         + (F.col("doc_id") % 60) * 4).alias("end_v"),
    )
    joined = range_join(p, i, "pos", "start_v", "end_v", bin_width=128)
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_event"),
        F.min("pos").cast("long").alias("min_pos"),
        F.max("pos").cast("long").alias("max_pos"),
    )


# ---------------------------------------------------------------------------
# Window/date/percentile coverage block
# ---------------------------------------------------------------------------


@register(
    "rel_window_suite",
    """
    SELECT o_custkey, o_orderkey,
           DENSE_RANK() OVER w AS drank,
           NTILE(4) OVER w AS quartile,
           LEAD(o_orderkey, 1) OVER w AS next_order,
           CAST(SUM(o_totalprice) OVER (PARTITION BY o_custkey) AS DOUBLE) AS cust_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
)
def rel_window_suite(spark, sf_dir):
    """dense_rank + ntile + lead + partition-total in one pass (window
    breadth the reference lacks entirely, SURVEY §2.7)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    wp = Window.partitionBy("o_custkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lead("o_orderkey", 1).over(w).alias("next_order"),
        F.sum("o_totalprice").over(wp).cast("double").alias("cust_total"),
    )


@register(
    "rel_date_parts",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
           CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS q,
           CAST(EXTRACT(dow FROM o_orderdate) AS BIGINT) AS dow,
           COUNT(*) AS n
    FROM orders GROUP BY 1, 2, 3
    """,
)
def rel_date_parts(spark, sf_dir):
    """Temporal extraction rollup. Spark dayofweek is 1=Sunday; DuckDB dow
    is 0=Sunday — aligned by subtracting 1."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.quarter("o_orderdate").cast("long").alias("q"),
            (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
        ).agg(F.count("*").alias("n"))
    )


@register(
    "rel_exact_percentiles",
    """
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
      FROM orders
    )
    SELECT o_orderpriority AS priority,
           MIN(CASE WHEN rn * 2 >= cnt THEN o_totalprice END) AS p50,
           MIN(CASE WHEN rn * 10 >= cnt * 9 THEN o_totalprice END) AS p90
    FROM ranked GROUP BY o_orderpriority
    """,
)
def rel_exact_percentiles(spark, sf_dir):
    """Exact p50/p90 per group via the rank formulation (deterministic —
    NOT percentile_approx, whose sketches aren't engine-portable)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    wc = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority", "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("cnt"),
    )
    return ranked.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.min(F.when(F.col("rn") * 2 >= F.col("cnt"), F.col("o_totalprice"))).alias("p50"),
        F.min(F.when(F.col("rn") * 10 >= F.col("cnt") * 9, F.col("o_totalprice"))).alias("p90"),
    )


# ---------------------------------------------------------------------------
# Multimodal block — binary image columns + frame sampling through the
# driver contract (the codec itself is the documented seam; the synth
# header, decode round-trip and frame-index plumbing are fully checkable).
# ---------------------------------------------------------------------------


@register(
    "mm_image_meta",
    f"""
    SELECT doc_id,
           CAST(doc_id % 320 + 16 AS INTEGER) AS width,
           CAST((doc_id * 7) % 240 + 16 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels,
           (['png', 'jpeg', 'webp'])[CAST(doc_id % 3 AS INTEGER) + 1] AS format,
           CAST(48 AS BIGINT) AS n_bytes,
           TRUE AS valid
    FROM documents
    """,
)
def mm_image_meta(spark, sf_dir):
    """Multimodal round-trip through the REAL distributed plumbing: a
    deterministic binary image payload is synthesized JVM-side
    (FAKM header, functions/multimodal.py), decoded back by the
    mapInPandas Arrow decode, and the recovered metadata must equal the
    oracle's direct arithmetic — proving the binary encode/decode path
    (the slot a real codec plugs into) is lossless."""
    from geoutils_spark.functions import multimodal as MM

    d = _t(spark, sf_dir, "documents").select("doc_id")
    d = d.withColumn("image", MM.synth_image_col(F.col("doc_id")))
    out = MM.decode_image_meta(d, "image")
    return out.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.channels").alias("channels"),
        F.col("meta.format").alias("format"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.valid").alias("valid"),
    )


@register(
    "mm_frame_sample",
    """
    WITH vids AS (
      SELECT doc_id, CAST(doc_id % 50 + 1 AS BIGINT) AS n_frames
      FROM documents
    )
    SELECT v.doc_id, CAST(f.i AS BIGINT) AS frame_idx
    FROM vids v, LATERAL (SELECT UNNEST(range(0, v.n_frames, 10)) AS i) f
    """,
)
def mm_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing (every-10th frame-index explode over a
    per-document frame count) — pure column ops, per-frame decode is the
    codec seam."""
    from geoutils_spark.functions import multimodal as MM

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.pmod(F.col("doc_id"), F.lit(50)) + 1).alias("n_frames"))
    out = MM.sample_frames(d, "n_frames", every=10)
    return out.select("doc_id", F.col("frame_idx").cast("long").alias("frame_idx"))


@register(
    "geom_ground_mesh",
    """
    SELECT CAST(0 AS BIGINT) AS group_id,
           CAST(72 AS BIGINT) AS n_vertices,
           CAST(110 AS BIGINT) AS n_faces
    """,
)
def geom_ground_mesh(spark, sf_dir):
    """G7 Delaunay ground mesh (reference ground.cpp:104-158) over the
    fixture building corners. The oracle is the EULER-CHARACTERISTIC
    expectation, not a re-triangulation: the corner set is a 12x6 lattice
    (72 distinct points, 32 on the rectangular boundary), and EVERY valid
    triangulation of a planar point set has exactly 2N - 2 - B triangles
    (T = 2*72 - 2 - 32 = 110). Matching it proves the engine produced a
    complete, non-overlapping triangulation of the full point set; the
    geometric Delaunay property itself (empty circumcircles, CCW, exact
    hull area) is pinned by tests/test_ground.py."""
    from geoutils_spark.operators.ground import ground_mesh

    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    pts = polys.select(
        F.lit(0).alias("group_id"), F.explode(F.col("ring")).alias("p"),
    ).select("group_id", F.col("p.lon").alias("lon"), F.col("p.lat").alias("lat"))
    return ground_mesh(pts).select("group_id", "n_vertices", "n_faces")


@register(
    "text_hash_split",
    """
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM (
      SELECT CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split, n_chars
      FROM (
        SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 AS bucket, n_chars
        FROM documents
      )
    ) GROUP BY split
    """,
)
def text_hash_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (90/5/5): bucket =
    first-8-hex of md5(doc_id) mod 100. The assignment is a pure row-local
    projection — stable under repartitioning, re-runs, and corpus growth
    (a doc's split never changes when other docs are added), which is the
    property a 100 TB training-data pipeline needs from its split column.
    The only exchange here is the final 3-group count. Hex->int parity:
    Spark conv(h,16,10) == DuckDB CAST('0x'||h AS BIGINT)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16, 10,
        ).cast("long"),
        F.lit(100),
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@register(
    "dedup_shingle_coverage",
    f"""
    WITH sh AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gram_fp
      FROM (
        SELECT doc_id, UNNEST({TA.word_shingles_sql('text', 6)}) AS gram
        FROM documents
      )
    ),
    dup AS (
      SELECT gram_fp FROM sh GROUP BY gram_fp HAVING COUNT(*) > 1
    ),
    nd AS (
      SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_shingles
      FROM sh JOIN dup USING (gram_fp) GROUP BY sh.doc_id
    ),
    base AS (
      SELECT doc_id,
             CAST(len({TA.word_shingles_sql('text', 6)}) AS BIGINT)
               AS n_shingles
      FROM documents
    )
    SELECT b.doc_id, b.n_shingles,
           COALESCE(nd.n_dup_shingles, CAST(0 AS BIGINT)) AS n_dup_shingles,
           CAST(COALESCE(nd.n_dup_shingles, 0) AS DOUBLE)
             / CAST(b.n_shingles AS DOUBLE) AS dup_frac
    FROM base b LEFT JOIN nd USING (doc_id)
    WHERE CAST(COALESCE(nd.n_dup_shingles, 0) AS DOUBLE)
            / CAST(b.n_shingles AS DOUBLE) > 0.5
    """,
)
def dedup_shingle_coverage(spark, sf_dir):
    """Exact-substring duplicate coverage (RefinedWeb/Lee et al. 'deduplicating
    training data' shingle approximation): for each doc, the fraction of its
    distinct word 6-shingles that also occur in at least one OTHER doc; docs
    above 50% coverage are flagged. A dedup tier between doc-level exact
    (text_dedup_exact) and doc-level near-dup (MinHash): it catches partial
    copy-paste that whole-doc hashing misses.

    Scale plan: shingle counts aggregate with map-side combine; the
    join-back carries ONLY grams seen in >1 doc (usually a small fraction
    of the vocabulary, broadcast here), never the full exploded corpus —
    same survivors-only discipline as the LSH operators. One pass over the
    exploded shingles computes numerator and denominator together, so the
    (interpreted HOF) shingle expansion runs exactly twice. At 100 TB the
    dup-gram set broadcast-joins when it fits, else it is a gram-keyed
    shuffle of a post-agg (vocabulary-sized) side."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    grams = TA.word_shingles_col(F.col("text"), 6)
    # shuffle 60-bit md5 fingerprints, not gram strings (~5x fewer bytes
    # through both exchanges; the oracle replays the identical hash, and at
    # 60 bits a collision needs ~2^30 DISTINCT grams per birthday pair —
    # shard the corpus into cohorts before that)
    sh = d.select("doc_id", F.explode(grams).alias("gram")).select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.col("gram").cast("binary")), 1, 15), 16, 10
        ).cast("long").alias("gram_fp"),
    )
    dup = (
        sh.groupBy("gram_fp")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("gram_fp", F.lit(1).alias("hit"))
    )
    # one pass over the exploded shingles computes BOTH the denominator
    # (count of all shingles) and the numerator (count of dup-marked ones):
    # the shingle explode is evaluated twice total (dup agg + this), never
    # a third time for a separate n_shingles scan
    per = (
        sh.join(F.broadcast(dup), "gram_fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.count("hit").cast("long").alias("n_dup_shingles"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_dup_shingles").cast("double")
            / F.col("n_shingles").cast("double"),
        )
    )
    return per.filter(F.col("dup_frac") > 0.5).select(
        "doc_id", "n_shingles", "n_dup_shingles", "dup_frac"
    )


@register(
    "text_decontaminate",
    f"""
    WITH sh AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gram_fp
      FROM (
        SELECT doc_id, UNNEST({TA.word_shingles_sql('text', 8)}) AS gram
        FROM documents
      )
    ),
    bench AS (
      SELECT DISTINCT gram_fp FROM sh WHERE doc_id % 5 = 0
    ),
    hits AS (
      SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM sh JOIN bench USING (gram_fp)
      WHERE sh.doc_id % 5 <> 0
      GROUP BY sh.doc_id
    )
    SELECT doc_id, n_hits FROM hits
    """,
)
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3/PaLM-style n-gram overlap scan):
    flag training documents sharing any distinct word 8-shingle with the
    held-out benchmark suite (synthesized deterministically here as every
    doc_id % 5 == 0 document), reporting how many benchmark 8-grams each
    contaminated doc contains. Plan: the benchmark shingle set is tiny
    relative to the corpus (eval suites are KBs against 100 TB), so it is
    aggregated once and BROADCAST into a hash join against the row-local
    corpus shingle explode — the training corpus itself is never shuffled;
    the only wide exchange is the per-doc hit count keyed by doc_id. Grams
    travel as 60-bit md5 fingerprints (exact-int), not strings — the
    broadcast table and the probe column are 8 bytes per gram."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = d.select(
        "doc_id", F.explode(TA.word_shingles_col(F.col("text"), 8)).alias("gram")
    ).select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.col("gram").cast("binary")), 1, 15), 16, 10
        ).cast("long").alias("gram_fp"),
    )
    bench = (
        sh.filter(F.col("doc_id") % 5 == 0).select("gram_fp").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 5 != 0)
        .join(F.broadcast(bench), "gram_fp")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


@register(
    "text_stratified_sample",
    """
    SELECT doc_id, lang, rank FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             ) AS rank
      FROM documents
    ) WHERE rank <= 5
    """,
)
def text_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: top-5 docs per language ordered by
    md5(doc_id) — a reproducible per-stratum sample whose membership is
    independent of partitioning, scan order, and re-runs (unlike
    df.sample(), whose output depends on split layout). At 100 TB take-n
    per stratum runs as a window over a lang-keyed exchange; for tiny n a
    per-partition pre-filter (keep local top-n first) bounds the shuffle.
    The md5 sort key is the same trick the hash-split uses: growth-stable,
    seedable by salting the hashed string."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    key = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "lang", "rank")
    )


@register(
    "rel_source_mix",
    f"""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(sum_chars) AS BIGINT) AS total_chars,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM per
    )
    SELECT source, n_docs, sum_chars,
           CAST(sum_chars AS DOUBLE) / CAST(total_chars AS DOUBLE)
             AS actual_share,
           (CAST(total_chars AS DOUBLE) / CAST(n_sources AS DOUBLE))
             / CAST(sum_chars AS DOUBLE) AS mix_weight
    FROM per CROSS JOIN tot
    """,
)
def rel_source_mix(spark, sf_dir):
    """Training-mix weighting: per-source character totals, each source's
    share of the corpus, and the repeat/sampling weight that equalizes the
    mix (uniform target share). The pattern behind data-mixture rebalancing
    in corpus curation: per-source agg -> scalar totals -> broadcast the
    one-row totals back. Both divisions are written in the identical order
    in both dialects (IEEE-exact parity)."""
    per = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    tot = per.agg(
        F.sum("sum_chars").cast("long").alias("total_chars"),
        F.count("*").cast("long").alias("n_sources"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "sum_chars",
        (F.col("sum_chars").cast("double") / F.col("total_chars").cast("double"))
        .alias("actual_share"),
        (
            (F.col("total_chars").cast("double") / F.col("n_sources").cast("double"))
            / F.col("sum_chars").cast("double")
        ).alias("mix_weight"),
    )


from geoutils_spark.functions import sketches as SK  # noqa: E402


@register(
    "rel_hll_distinct",
    f"""
    WITH hll AS ({SK.hll_distinct_sql('lineitem', 'l_orderkey')}),
    exact AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
      FROM lineitem
    )
    SELECT reg_sum, n_buckets, hll_estimate, exact_distinct
    FROM hll CROSS JOIN exact
    """,
)
def rel_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct-count sketch (functions/sketches.py)
    over lineitem.l_orderkey, alongside the exact count for accuracy
    evidence. The register algebra is exact-integer (md5 buckets, string
    leading-zero ranks, power-of-two sums in BIGINT) so the sketch value is
    identical under any partitioning/agg order — which is what makes an
    approx op oracle-checkable at all. At 100 TB the exact column is the
    full key shuffle you can no longer afford; the sketch's exchange is
    <=256 rows per partition with map-side combine, and cohort sketches
    merge by register MAX."""
    li = _t(spark, sf_dir, "lineitem")
    hll = SK.hll_distinct(li, "l_orderkey")
    exact = li.agg(
        F.countDistinct("l_orderkey").cast("long").alias("exact_distinct")
    )
    return hll.crossJoin(F.broadcast(exact))


@register(
    "rel_kmv_distinct",
    f"""
    WITH kmv AS ({SK.kmv_distinct_sql('orders', 'o_custkey', 256)}),
    exact AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
      FROM orders
    )
    SELECT kth_hash, n_seen, kmv_estimate, exact_distinct
    FROM kmv CROSS JOIN exact
    """,
)
def rel_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values, k=256) distinct-count sketch over
    orders.o_custkey with the exact count alongside. The kth-smallest
    distinct 52-bit md5 hash is an exact integer (oracle compares it
    bit-for-bit); the estimate is one fixed-order division. Scale shape:
    per-partition bottom-k (TakeOrderedAndProject) -> k rows total — no
    full sort, no key shuffle; sketches union by re-taking bottom-k."""
    o = _t(spark, sf_dir, "orders")
    kmv = SK.kmv_distinct(o, "o_custkey", 256)
    exact = o.agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return kmv.crossJoin(F.broadcast(exact))


# ---------------------------------------------------------------------------
# Webtext block — URL parsing/normalization, per-host aggregation, PII
# redaction. The corpus-side operations a web-scale training pipeline runs
# before anything geo/relational: canonical URL keys for dedup, host-level
# reputation rollups, PII masking. documents.source is a flat label, so a
# realistic URL / PII-salted text column is derived deterministically from
# doc_id with IDENTICAL arithmetic in both dialects (the _docs_with_mutants
# discipline).
# ---------------------------------------------------------------------------
from geoutils_spark.functions import pii as PII  # noqa: E402
from geoutils_spark.functions import textnorm as TN  # noqa: E402
from geoutils_spark.functions import urls as U  # noqa: E402


def _docs_with_urls(spark, sf_dir):
    """documents + a synthetic url: mixed-case hosts (1/11), trailing
    slashes (1/5), ?ref= params (1/3), #fragments (1/4)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    url = F.concat(
        F.lit("https://"),
        F.when(i % 11 == 0, F.lit("Sub")).otherwise(F.lit("sub")), s(i % 7),
        F.lit(".site"), s(i % 503), F.lit(".example"),
        F.lit("/"), F.col("lang"), F.lit("/page"), s(i),
        F.when(i % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.concat(F.lit("?ref=r"), s(i % 13))).otherwise(F.lit("")),
        F.when(i % 4 == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )
    return d.withColumn("url", url)


_DOCS_URLS_SQL = """
      SELECT doc_id, lang, n_chars,
             'https://'
             || CASE WHEN doc_id % 11 = 0 THEN 'Sub' ELSE 'sub' END
             || CAST(doc_id % 7 AS VARCHAR)
             || '.site' || CAST(doc_id % 503 AS VARCHAR) || '.example'
             || '/' || lang || '/page' || CAST(doc_id AS VARCHAR)
             || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                     THEN '?ref=r' || CAST(doc_id % 13 AS VARCHAR) ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN '#sec2' ELSE '' END AS url
      FROM documents
"""


@register(
    "web_url_parse",
    f"""
    WITH docs AS ({_DOCS_URLS_SQL}),
    parsed AS (
      SELECT doc_id, url,
             {U.url_host_sql('url')} AS host,
             {U.url_path_sql('url')} AS path,
             {U.url_param_sql('url', 'ref')} AS ref,
             {U.url_normalize_sql('url')} AS norm_url
      FROM docs
    )
    SELECT doc_id, host,
           {U.url_domain_sql('lower(host)')} AS domain,
           {U.url_tld_sql('lower(host)')} AS tld,
           {U.url_depth_sql('path')} AS depth,
           ref, norm_url
    FROM parsed
    """,
)
def web_url_parse(spark, sf_dir):
    """Row-level URL decomposition + canonicalization (functions/urls.py):
    host / registered-domain / tld / path depth / one query param, plus the
    normalized dedup key (fragment stripped, scheme+host lowercased,
    trailing slash dropped). Pure regex codegen — zero shuffles, scales
    embarrassingly; hash-exact vs the oracle across case/slash/param/
    fragment variants."""
    d = _docs_with_urls(spark, sf_dir)
    parsed = d.select(
        "doc_id", "url",
        U.url_host_col(F.col("url")).alias("host"),
        U.url_path_col(F.col("url")).alias("path"),
        U.url_param_col(F.col("url"), "ref").alias("ref"),
        U.url_normalize_col(F.col("url")).alias("norm_url"),
    )
    return parsed.select(
        "doc_id", "host",
        U.url_domain_col(F.lower(F.col("host"))).alias("domain"),
        U.url_tld_col(F.lower(F.col("host"))).alias("tld"),
        U.url_depth_col(F.col("path")).alias("depth"),
        "ref", "norm_url",
    )


@register(
    "web_host_stats",
    f"""
    WITH docs AS ({_DOCS_URLS_SQL}),
    parsed AS (
      SELECT doc_id, n_chars,
             lower({U.url_host_sql('url')}) AS host,
             {U.url_param_sql('url', 'ref')} AS ref
      FROM docs
    )
    SELECT {U.url_domain_sql('host')} AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(SUM(CASE WHEN ref <> '' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_ref,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM parsed
    GROUP BY domain
    """,
)
def web_host_stats(spark, sf_dir):
    """Registered-domain rollup (crawl-politeness / reputation shape):
    docs, distinct hosts, referral share, total bytes per domain. One
    hash-aggregate with map-side combine on a low-cardinality key — the
    plan a 100-TB per-host budget pass needs (domains ≪ pages; no skew
    because the key is a uniform synthetic hash here, salting available
    via spatial_join's n_salt pattern if a megasite dominates)."""
    d = _docs_with_urls(spark, sf_dir)
    parsed = d.select(
        "doc_id", "n_chars",
        F.lower(U.url_host_col(F.col("url"))).alias("host"),
        U.url_param_col(F.col("url"), "ref").alias("ref"),
    )
    return (
        parsed.groupBy(U.url_domain_col(F.col("host")).alias("domain"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.sum(F.when(F.col("ref") != "", 1).otherwise(0))
            .cast("long").alias("n_with_ref"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def _docs_with_pii(spark, sf_dir):
    """documents with deterministic PII salted in: emails on 1/3 of docs,
    phones on 1/5, bare IPv4s on 1/7 (classes overlap on lcm shares)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    salted = F.concat(
        F.col("text"),
        F.when(i % 3 == 0, F.concat(
            F.lit(" contact user"), s(i), F.lit("@mail"), s(i % 7),
            F.lit(".example"))).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.concat(
            F.lit(" call "), s(i % 900 + 100), F.lit("-555-"),
            F.lpad(s(i % 10000), 4, "0"))).otherwise(F.lit("")),
        F.when(i % 7 == 0, F.concat(
            F.lit(" from "), s(i % 256), F.lit(".0."), s(i % 100),
            F.lit(".1"))).otherwise(F.lit("")),
    )
    return d.select("doc_id", salted.alias("text"))


_DOCS_PII_SQL = """
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                          || '.example' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' call ' || CAST(doc_id % 900 + 100 AS VARCHAR)
                          || '-555-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' from ' || CAST(doc_id % 256 AS VARCHAR)
                          || '.0.' || CAST(doc_id % 100 AS VARCHAR) || '.1'
                     ELSE '' END AS text
      FROM documents
"""


def _pii_count_sql_cols() -> str:
    cs = PII.pii_count_sqls("text")
    return ",\n           ".join(f"{sql} AS {name}" for name, sql in cs.items())


@register(
    "text_pii_redact",
    f"""
    WITH salted AS ({_DOCS_PII_SQL})
    SELECT doc_id,
           {_pii_count_sql_cols()},
           {PII.has_pii_sql('text')} AS has_pii,
           CAST(length({PII.redact_sql('text')}) AS INT) AS redact_len,
           md5({PII.redact_sql('text')}) AS redact_md5
    FROM salted
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII scan + mask (functions/pii.py): per-class counts, the cheap
    rlike gate, and the redacted text verified byte-exactly via md5.
    Chained regexp codegen — row-local at any corpus size; the pass every
    training corpus gets before release."""
    d = _docs_with_pii(spark, sf_dir)
    t = F.col("text")
    red = PII.redact_col(t)
    counts = PII.pii_count_cols(t)
    return d.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        PII.has_pii_col(t).alias("has_pii"),
        F.length(red).cast("int").alias("redact_len"),
        F.md5(red.cast("binary")).alias("redact_md5"),
    )


_CM_PROBE_LO, _CM_PROBE_HI = 1, 31


def _cm_addr_sql(depth: int = SK.CM_DEPTH) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT o_custkey, {j} AS j, {SK.cm_bucket_sql('o_custkey', j)} AS cell"
        f" FROM probes"
        for j in range(depth)
    )


@register(
    "rel_cm_freq",
    f"""
    WITH sketch AS ({SK.cm_sketch_sql('orders', 'o_custkey')}),
    probes AS (
      SELECT CAST(r AS BIGINT) AS o_custkey
      FROM range({_CM_PROBE_LO}, {_CM_PROBE_HI}) t(r)
    ),
    addr AS ({_cm_addr_sql()}),
    est AS (
      SELECT a.o_custkey,
             CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS cm_estimate
      FROM addr a LEFT JOIN sketch s USING (j, cell)
      GROUP BY a.o_custkey
    ),
    exact AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM orders GROUP BY o_custkey
    )
    SELECT e.o_custkey, e.cm_estimate,
           CAST(COALESCE(x.exact_cnt, 0) AS BIGINT) AS exact_cnt
    FROM est e LEFT JOIN exact x USING (o_custkey)
    """,
)
def rel_cm_freq(spark, sf_dir):
    """Count-Min point-frequency estimates (sketches.py, Cormode &
    Muthukrishnan) for 30 probe custkeys over orders, exact counts
    alongside. Sketch counters are BIGINTs addressed by salted md5 — every
    cell is exactly reproducible in SQL, so unlike approximate-sketch
    testing-by-tolerance the oracle comparison is bit-exact. Scale shape:
    the counter exchange is bounded by d*w rows regardless of input;
    probes join against a broadcast sketch."""
    o = _t(spark, sf_dir, "orders")
    sk = SK.cm_sketch(o, "o_custkey")
    probes = spark.range(_CM_PROBE_LO, _CM_PROBE_HI).select(
        F.col("id").alias("o_custkey"))
    est = SK.cm_estimate(sk, probes, "o_custkey")
    exact = o.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("exact_cnt"))
    return (
        est.join(exact, "o_custkey", "left")
        .fillna({"exact_cnt": 0})
        .select("o_custkey", "cm_estimate",
                F.col("exact_cnt").cast("long").alias("exact_cnt"))
    )


_PR_N_MOD = 101           # node space: doc_id residues
_PR_SCALE = 10**12        # fixed-point mass scale (total rank ~= 1.0)
_PR_ITERS = 4


@register(
    "web_pagerank",
    f"""
    WITH edges AS (
      SELECT doc_id % {_PR_N_MOD} AS src,
             (doc_id * 7 + 3) % {_PR_N_MOD} AS dst
      FROM documents
    ),
    outdeg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM edges GROUP BY src
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges
        UNION ALL SELECT dst AS node FROM edges)
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    it0 AS (
      SELECT node, {_PR_SCALE} // nn.n AS rank FROM nodes CROSS JOIN nn
    ),
    """ + ",\n    ".join(
        f"""it{t + 1} AS (
      SELECT n.node,
             ((15 * {_PR_SCALE}) // 100) // nn.n
               + (85 * COALESCE(s.s, 0)) // 100 AS rank
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(r.rank // o.od) AS BIGINT) AS s
        FROM edges e
        JOIN it{t} r ON r.node = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst) s USING (node)
    )"""
        for t in range(_PR_ITERS)
    ) + f"""
    SELECT node, CAST(rank AS BIGINT) AS rank FROM it{_PR_ITERS}
    """,
)
def web_pagerank(spark, sf_dir):
    """PageRank over a synthesized domain link graph ({_PR_N_MOD} nodes,
    one edge per document), damping 0.85, {_PR_ITERS} synchronous
    iterations — in EXACT fixed-point arithmetic: ranks are BIGINT
    multiples of 1/10^12, every step is integer div/mul/sum, so the
    result is bit-identical regardless of aggregation order and the
    oracle unrolls the same iterations as CTEs. Dangling nodes (in-edges
    only) keep the teleport share, as in the plain power iteration.

    Scale shape per iteration: one equi-join of the edge list against the
    rank vector (ranks ≪ edges → broadcast; else both sides pre-
    partitioned by src) + one hash-aggregate on dst. The Python loop only
    unrolls the logical plan — nothing is collected; at planet scale each
    iteration's rank vector is checkpointed to parquet to cut lineage."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    edges = d.select(
        (F.col("doc_id") % _PR_N_MOD).alias("src"),
        ((F.col("doc_id") * 7 + 3) % _PR_N_MOD).alias("dst"),
    )
    outdeg = edges.groupBy("src").agg(F.count("*").cast("long").alias("od"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count("*").cast("long").alias("n"))
    r = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.expr(f"{_PR_SCALE} div n").alias("rank"))
    )
    ed = edges.join(outdeg, "src")
    for _ in range(_PR_ITERS):
        contrib = (
            ed.join(r.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank div od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        r = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .fillna({"s": 0})
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.expr(
                    f"((15 * {_PR_SCALE}) div 100) div n"
                    " + (85 * s) div 100"
                ).alias("rank"),
            )
        )
    return r.select("node", F.col("rank").cast("long").alias("rank"))


_LM_SCALE = 10**9


@register(
    "text_lm_score",
    f"""
    WITH bi AS (
      SELECT doc_id, unnest({TA.word_ngrams_sql('text', 2)}) AS gram
      FROM documents
    ),
    b2 AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gfp,
             CAST('0x' || substr(md5(string_split(gram, ' ')[1]), 1, 15)
                  AS BIGINT) AS wfp
      FROM bi
    ),
    cnt2 AS (SELECT gfp, CAST(COUNT(*) AS BIGINT) AS c2 FROM b2 GROUP BY gfp),
    cnt1 AS (SELECT wfp, CAST(COUNT(*) AS BIGINT) AS c1 FROM b2 GROUP BY wfp),
    per AS (
      SELECT doc_id, (c2 * {_LM_SCALE}) // c1 AS p
      FROM b2 JOIN cnt2 USING (gfp) JOIN cnt1 USING (wfp)
    )
    SELECT doc_id,
           CAST(SUM(p) // COUNT(*) AS BIGINT) AS lm_score,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams
    FROM per GROUP BY doc_id
    """,
)
def text_lm_score(spark, sf_dir):
    """Corpus-trained bigram-LM fluency score (the CCNet-style LM quality
    stage, §LLM-pipeline): per doc, the mean conditional probability
    P(w2|w1) of its bigrams under the corpus's own bigram counts — in
    EXACT fixed-point (p scaled by 10^9, integer div; BIGINT sums), so
    aggregation order cannot drift the result and the oracle replays it
    bit-for-bit. Boilerplate/garble scores low; stock phrasing scores
    high.

    Scale shape: bigram expansion is row-local; both count tables are
    POST-AGG (vocabulary-sized, ≪ corpus) and join back on 60-bit md5
    fingerprints, not gram strings (~5x fewer shuffle bytes — the
    dedup_shingle_coverage discipline). Both count tables carry an
    explicit BROADCAST hint: that removes the TWO corpus-wide exchanges
    of the exploded bigram frame (once per join key) — the corpus side
    never shuffles at all. Vocab grows sublinearly (Heaps), so the tables
    fit executors far past the corpus; if an alphabet ever outgrows
    broadcast, remove the hint and the fingerprint keys hash uniformly
    (no skew)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    gram = F.explode(TA.word_ngrams_col(F.col("text"), 2)).alias("gram")
    b2 = d.select("doc_id", gram).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 15),
               16, 10).cast("long").alias("gfp"),
        F.conv(
            F.substring(
                F.md5(F.split(F.col("gram"), " ").getItem(0).cast("binary")),
                1, 15),
            16, 10).cast("long").alias("wfp"),
    )
    # b2 feeds three consumers (both count aggs + the scoring join);
    # persist it so the corpus is exploded and fingerprinted ONCE — the
    # prepare_corpus stage-boundary discipline. DISK_ONLY: the bigram
    # frame is ~1.5x corpus bytes, one write+read beats two extra
    # scan+md5 passes at any scale.
    from pyspark import StorageLevel
    b2 = b2.persist(StorageLevel.DISK_ONLY)
    cnt2 = b2.groupBy("gfp").agg(F.count("*").cast("long").alias("c2"))
    cnt1 = b2.groupBy("wfp").agg(F.count("*").cast("long").alias("c1"))
    per = (
        b2.join(F.broadcast(cnt2), "gfp").join(F.broadcast(cnt1), "wfp")
        .select("doc_id", F.expr(f"(c2 * {_LM_SCALE}) div c1").alias("p"))
    )
    return per.groupBy("doc_id").agg(
        F.expr("CAST(sum(p) div count(*) AS BIGINT)").alias("lm_score"),
        F.count("*").cast("long").alias("n_bigrams"),
    )


@register(
    "text_length_quantiles",
    SK.log2_quantiles_sql(SK.log2_hist_sql("documents", "n_chars"),
                          qs=(10, 50, 90, 99)),
)
def text_length_quantiles(spark, sf_dir):
    """Document-length quantiles (p10/p50/p90/p99) from the log2-histogram
    sketch (sketches.py) — the corpus length-distribution profile every
    filtering pipeline starts from. Bins are exact integers (binary-
    representation length, no libm), the sketch is <= 64 rows with
    map-side combine, cohort sketches merge by bin-wise sum, and the
    quantile walk is integer-exact — so an APPROXIMATE quantile operator
    gets a bit-exact oracle. At 100 TB: one combiner-collapsed exchange of
    <= 64 rows per partition vs a full sort for exact percentiles."""
    d = _t(spark, sf_dir, "documents")
    return SK.log2_quantiles(SK.log2_hist(d, "n_chars"), qs=(10, 50, 90, 99))


_SNAP_OFFSET = 10**7


@register(
    "web_snapshot_diff",
    f"""
    WITH v1 AS (SELECT doc_id, text FROM documents),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN array_to_string(w[1:GREATEST(len(w) - 3, 0)], ' ')
                  ELSE text END AS text
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w
            FROM documents WHERE doc_id % 10 <> 7)
      UNION ALL
      SELECT doc_id + {_SNAP_OFFSET} AS doc_id, text
      FROM documents WHERE doc_id % 8 = 0
    )
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN md5(a.text) = md5(b.text) THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    """,
)
def web_snapshot_diff(spark, sf_dir):
    """Crawl-snapshot change detection (the CDC pass between two corpus
    versions): full outer join on doc key, content equality by md5 —
    classifies every page as added / removed / changed / unchanged.
    Snapshot v2 is derived deterministically (1/10 pages dropped, 1/4
    texts mutated, 1/8 re-added under new ids). Scale shape: both sides
    carry only (id, content-hash) into the join — at 100 TB hash at scan
    time so payloads never shuffle; both snapshots bucket by doc_id for a
    zero-exchange sort-merge (tables.write_bucketed_by_cell pattern)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    v2 = (
        d.filter(F.col("doc_id") % 10 != 7)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 4 == 0,
                F.array_join(
                    F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(0))),
                    " "),
            ).otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 8 == 0)
            .select((F.col("doc_id") + _SNAP_OFFSET).alias("doc_id"), "text")
        )
    )
    a = d.select(F.col("doc_id").alias("id_a"),
                 F.md5(F.col("text").cast("binary")).alias("h_a"))
    b = v2.select(F.col("doc_id").alias("id_b"),
                  F.md5(F.col("text").cast("binary")).alias("h_b"))
    j = a.join(b, a.id_a == b.id_b, "full_outer")
    return j.select(
        F.coalesce(F.col("id_a"), F.col("id_b")).alias("doc_id"),
        F.when(F.col("id_a").isNull(), F.lit("added"))
        .when(F.col("id_b").isNull(), F.lit("removed"))
        .when(F.col("h_a") == F.col("h_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed")).alias("status"),
    )


# ---------------------------------------------------------------------------
# End-to-end corpus preparation (operators/corpus.py) — the full chain as ONE
# oracle-checked query: every stage that has its own oracle-green query above
# (quality gate, PII redact, exact dedup, LSH near-dedup, decontamination,
# hash split) composed in pipeline order, including the iterative component
# closure, which the oracle reproduces with a DuckDB recursive CTE.
# ---------------------------------------------------------------------------


def _corpus_prep_sql() -> str:
    qs = TA.quality_sqls("text")
    toks = TA.tokens_sql("text")
    n_pii = " + ".join(f"({e})" for e in PII.pii_count_sqls("text").values())
    pairs = DD.minhash_lsh_pairs_sql("e", min_est_jaccard=0.5)
    return f"""
    WITH RECURSIVE salted AS ({_DOCS_PII_SQL}),
    corpus AS (
      SELECT doc_id, text FROM salted
      UNION ALL
      SELECT doc_id + {_MUTANT_OFFSET} AS doc_id,
             array_to_string(w[1:GREATEST(len(w)-3, 0)], ' ') AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS w
            FROM salted WHERE doc_id % 3 = 0)
    ),
    q AS (
      SELECT doc_id, text, {TA.langid_sql(toks)} AS lang_pred
      FROM corpus
      WHERE {qs['n_tokens']} >= 20
        AND {qs['stopword_ratio']} >= {_dbl(0.01)}
        AND {qs['mark_ratio']} <= {_dbl(0.2)}
    ),
    r AS (
      SELECT doc_id, {PII.redact_sql('text')} AS text, lang_pred,
             CAST({n_pii} AS INT) AS n_pii
      FROM q
    ),
    eh AS (SELECT *, md5(text) AS __h FROM r),
    e AS (
      SELECT eh.doc_id, eh.text, eh.lang_pred, eh.n_pii
      FROM eh JOIN (SELECT __h, MIN(doc_id) AS doc_id FROM eh GROUP BY __h) k
        ON eh.__h = k.__h AND eh.doc_id = k.doc_id
    ),
    vpairs AS (
      SELECT id_a, id_b FROM ({pairs}) WHERE exact_jaccard >= 0.7
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM vpairs
      UNION
      SELECT id_b AS a, id_a AS b FROM vpairs
    ),
    reach AS (
      SELECT a AS node, a AS lbl FROM edges
      UNION
      SELECT g.b AS node, rc.lbl FROM reach rc JOIN edges g ON rc.node = g.a
    ),
    comp AS (SELECT node, MIN(lbl) AS comp_id FROM reach GROUP BY node),
    nd AS (
      SELECT e.* FROM e
      WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> comp_id)
    ),
    bgrams AS (
      SELECT DISTINCT UNNEST({TA.word_shingles_sql('text', 8)}) AS gram
      FROM documents WHERE doc_id % 97 = 0
    ),
    hits AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, UNNEST({TA.word_shingles_sql('text', 8)}) AS gram
        FROM nd
      ) cg JOIN bgrams USING (gram)
    ),
    survivors AS (
      SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM hits)
    )
    SELECT doc_id, lang_pred, n_pii,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
    FROM (
      SELECT *, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 100 AS bucket
      FROM survivors
    )
    """


@register("corpus_prep_funnel", _corpus_prep_sql())
def corpus_prep_funnel(spark, sf_dir):
    """The whole training-corpus preparation chain (operators/corpus.py) as
    one oracle-checked query: PII-salted documents + planted near-dup
    mutants -> quality gate + language-ID -> redaction (with per-doc PII
    counts) -> exact dedup (min-id keeper) -> MinHash+LSH near-dedup with
    transitive-closure min-id keepers -> 8-gram benchmark decontamination
    (suite = raw documents with doc_id % 97 == 0) -> deterministic hash
    split. The oracle replays every stage in DuckDB, including the
    iterative closure via a recursive CTE — two independent
    implementations of the complete pipeline, compared row-for-row."""
    from geoutils_spark.operators import corpus as CP

    salted = _docs_with_pii(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    mut = salted.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + _MUTANT_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(0))), " "
        ).alias("text"),
    )
    docs = salted.unionByName(mut)
    bench = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0).select("text")
    )
    d = CP.quality_gate(docs)
    d = CP.redact(d)
    d = CP.dedup_exact(d)
    d = CP.dedup_near(d)
    d = CP.decontaminate(d, bench)
    d = CP.hash_split(d)
    return d.select("doc_id", "lang_pred",
                    F.col("n_pii").cast("int").alias("n_pii"), "split")


@register("text_paragraph_dedup", """
    WITH paras AS (
        SELECT doc_id,
               generate_subscripts(parts, 1) AS pos,
               unnest(parts) AS para
        FROM (SELECT doc_id, string_split(text, ' the ') AS parts
              FROM documents)
    ),
    firsts AS (
        SELECT doc_id, pos, para,
               row_number() OVER (PARTITION BY para
                                  ORDER BY doc_id, pos) AS rn
        FROM paras WHERE para <> ''
    )
    SELECT doc_id,
           string_agg(para, ' the ' ORDER BY pos) AS text,
           count(*) AS n_paras
    FROM firsts WHERE rn = 1
    GROUP BY doc_id
""")
def text_paragraph_dedup(spark, sf_dir):
    """C4-style global paragraph dedup (operators/corpus.py::
    dedup_paragraphs): documents split into segments, only the
    globally-first occurrence of each distinct segment survives, docs
    reassembled in original order (docs losing every segment vanish).
    The documents fixture has no newlines, so ' the ' serves as the
    separator — its small vocabulary makes cross-doc duplicate segments
    common, giving the dedup real work. Oracle replays the same
    first-occurrence window + ordered string_agg in DuckDB."""
    from geoutils_spark.operators import corpus as CP

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return CP.dedup_paragraphs(d, sep=" the ")


@register("text_line_dedup", """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' the '), x -> x <> '') AS ls
        FROM documents
    )
    SELECT doc_id,
           array_to_string(
               list_filter(ls, (x, i) -> list_position(ls, x) = i),
               ' the ') AS text,
           CAST(len(list_filter(ls, (x, i) -> list_position(ls, x) = i))
                AS BIGINT) AS n_lines,
           CAST(len(ls) - len(list_filter(ls, (x, i) ->
                list_position(ls, x) = i)) AS BIGINT) AS n_dupes
    FROM t
""")
def text_line_dedup(spark, sf_dir):
    """WITHIN-document line dedup (operators/corpus.py::dedup_lines, the
    RefinedWeb/C4 boilerplate-line stage): each distinct non-empty
    segment keeps only its first occurrence inside its own document —
    zero exchanges, pure higher-order array codegen on the scan
    (contrast text_paragraph_dedup's global two-exchange semantics).
    ' the ' serves as the separator (fixture text has no newlines); the
    oracle replays the first-index filter with DuckDB's indexed
    list_filter lambda (1-based there, 0-based in Spark)."""
    from geoutils_spark.operators import corpus as CP

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return CP.dedup_lines(d, sep=" the ")


@register("web_recrawl_dedup", f"""
    WITH urls AS (
        SELECT doc_id, lang, n_chars,
               CASE WHEN doc_id % 11 = 0 THEN 'HTTPS://Site'
                    ELSE 'https://site' END
               || CAST(doc_id % 59 AS VARCHAR) || '.example/p'
               || CAST(doc_id % 59 AS VARCHAR)
               || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS url
        FROM documents
    ),
    snaps AS (
        SELECT {{NORM}} AS url_key, doc_id,
               CAST(1600000000 + (doc_id * 7919) % 31536000 AS BIGINT)
                   AS warc_ts,
               lang, n_chars
        FROM urls
    ),
    r AS (
        SELECT *,
               row_number() OVER (PARTITION BY url_key
                                  ORDER BY warc_ts DESC, doc_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY url_key) AS n_snapshots
        FROM snaps
    )
    SELECT url_key, doc_id, warc_ts, lang, n_chars,
           CAST(n_snapshots AS BIGINT) AS n_snapshots
    FROM r WHERE rn = 1
""".replace("{NORM}", U.url_normalize_sql("url")))
def web_recrawl_dedup(spark, sf_dir):
    """Recrawl dedup (operators/corpus.py::keep_latest): collapse every
    canonical-URL group of crawl snapshots to its newest row. The fixture
    derives ~59 pages recrawled by many doc_ids, with scheme/host case,
    trailing-slash, and fragment variants that url_normalize_col must
    collapse into one key, and a deterministic warc_ts per snapshot.
    Spark side is a single partial-aggregating max_by hash aggregate
    (skew-immune: a crawler-trap URL combines map-side); the oracle
    replays it as a row_number window. Ties impossible on (warc_ts,
    doc_id) since doc_id is unique."""
    from geoutils_spark.operators import corpus as CP

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    i = F.col("doc_id")
    p = (i % 59).cast("string")
    url = F.concat(
        F.when(i % 11 == 0, F.lit("HTTPS://Site")).otherwise(
            F.lit("https://site")), p,
        F.lit(".example/p"), p,
        F.when(i % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(i % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    snaps = d.select(
        U.url_normalize_col(url).alias("url_key"),
        "doc_id",
        (F.lit(1600000000) + (i * 7919) % 31536000).cast("long")
        .alias("warc_ts"),
        "lang", "n_chars",
    )
    return CP.keep_latest(snaps)


@register("text_pack_sequences", f"""
    WITH toks AS (
        SELECT doc_id,
               CAST({{TOK}} AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 8 AS shard
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens, shard,
               SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS strt
        FROM toks
    )
    SELECT doc_id, n_tokens, CAST(shard AS BIGINT) AS shard,
           CAST(strt // 256 AS BIGINT) AS seq_id,
           CAST(strt % 256 AS BIGINT) AS seq_off
    FROM c
""".replace("{TOK}", TA.token_count_sql("text")))
def text_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (operators/corpus.py::
    pack_sequences): lay documents end-to-end in md5 order inside 8
    md5-prefix shards and cut 256-token training sequences; each doc
    reports the (shard, seq_id, seq_off) where its first token lands.
    Pure function of the doc ids — stable under repartitioning (same
    guarantee as text_hash_split). One exchange on the uniform shard key;
    the window sorts corpus/n_shards (id, count) pairs per task, never
    payload text. Oracle replays the identical window in DuckDB; all
    arithmetic is BIGINT (integer DIV/mod), so the hash compare is
    exact."""
    from geoutils_spark.operators import corpus as CP

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", TA.token_count_col(F.col("text")).alias("n_tokens"))
    return CP.pack_sequences(d, budget=256, n_shards=8)


@register("text_normalize", """
    WITH m AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN decode(from_hex('2065CC81')) ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN decode(from_hex('0120207A')) ELSE '' END AS raw
        FROM documents
    )
    SELECT doc_id,
           md5({NORM}) AS norm_md5,
           CAST(length(raw) AS BIGINT) AS n_chars_raw,
           CAST(length({NORM}) AS BIGINT) AS n_chars_norm
    FROM m
""".replace("{NORM}", TN.normalize_sql("raw")))
def text_normalize(spark, sf_dir):
    """Unicode NFC + whitespace/control normalization
    (functions/textnorm.py — the CCNet-style cleaning stage canonically
    composing equivalent byte sequences before any md5-keyed dedup). The
    fixture plants a decomposed 'e'+COMBINING ACUTE on every 3rd doc
    (NFC must compose it: 3 codepoints -> 2) and a C0 control plus a
    double space on every 7th (cleanup must strip/collapse). NFC runs as
    an Arrow-batched pandas UDF (Spark has no native normalizer — the
    legitimate-UDF case); the cleanup tier is shared-literal regexp
    codegen. Oracle replays with DuckDB's utf8proc nfc_normalize + the
    same regexes; normalized text verified byte-exact via md5, plus
    codepoint counts before/after."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    raw = F.concat(
        F.col("text"),
        F.when(i % 3 == 0,
               F.decode(F.unhex(F.lit("2065CC81")), "UTF-8"))
        .otherwise(F.lit("")),
        F.when(i % 7 == 0,
               F.decode(F.unhex(F.lit("0120207A")), "UTF-8"))
        .otherwise(F.lit("")),
    )
    m = d.select("doc_id", raw.alias("raw"))
    norm = TN.normalize_col(F.col("raw"))
    return m.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("norm_md5"),
        F.length("raw").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


from geoutils_spark.operators import classifier as CL  # noqa: E402


@register("text_classifier_score",
          CL.score_sql("documents", n_buckets=1 << 16))
def text_classifier_score(spark, sf_dir):
    """Model-based quality filter (operators/classifier.py): hashed-linear
    classifier inference — each token hashes into one of 2^16 feature
    buckets, the bucket's integer-quantized weight is looked up in an
    explicitly broadcast weight table (the learned-model path a FineWeb/
    CCNet-style pipeline runs), and the per-doc sum decides keep/drop.
    Plan: one broadcast exchange for the model, then a partial-aggregating
    hash agg back to one row per doc — the corpus itself never shuffles
    a payload byte. The oracle replays the identical BIGINT math with
    DuckDB list_transform/list_sum (formula weights, same hash idiom);
    pytest cross-checks the broadcast path against the zero-exchange
    row-local path and asserts BroadcastHashJoin in the plan."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = CL.synthetic_weights_df(spark, n_buckets=1 << 16)
    return CL.score_broadcast(d, w, n_buckets=1 << 16)


@register("geo_raster_regions", f"""
    WITH RECURSIVE
    g AS (
        SELECT {{TX}} AS x, {{TY}} AS y FROM orders
    ),
    occ AS (
        SELECT x * 1048576 + y AS k, x, y, CAST(COUNT(*) AS BIGINT) AS n
        FROM g GROUP BY x, y HAVING COUNT(*) >= 3
    ),
    e AS (
        SELECT a.k AS src, b.k AS dst
        FROM occ a JOIN occ b ON b.k = a.k + 1048576
        UNION ALL
        SELECT a.k, b.k
        FROM occ a JOIN occ b ON b.k = a.k + 1 AND a.y < 1048575
    ),
    ee AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
    reach (k, lab) AS (
        SELECT k, k FROM occ
        UNION
        SELECT ee.dst, r.lab FROM ee JOIN reach r ON ee.src = r.k
    ),
    lab AS (SELECT k, MIN(lab) AS region_id FROM reach GROUP BY k)
    SELECT region_id,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_points,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
    FROM occ JOIN lab USING (k)
    GROUP BY region_id
""".replace("{TX}", C.tile_x_sql(_LON, 20)).replace(
        "{TY}", C.tile_y_sql(_LAT, 20)))
def geo_raster_regions(spark, sf_dir):
    """Raster -> vector polygonize (operators/raster.py): rasterize the
    orders point set to a zoom-20 slippy grid (the fixture bbox spans
    ~112x77 tiles there), threshold at >=3 points
    per cell, merge 4-adjacent occupied cells into connected regions via
    the pointer-doubling component labeler, and report each blob's vector
    stats (min-cell-id region id, cell count, mass, bbox). The grid-CC
    special case IS oracle-expressible — the DuckDB twin replays the
    min-label closure as a recursive CTE over identical equi-join edges —
    so unlike free-graph dedup_components this iterative operator gets
    the full hash-exact check."""
    from geoutils_spark.operators import raster as RA

    occ = RA.grid_occupancy(_orders_points(spark, sf_dir), "lon", "lat",
                            zoom=20, min_count=3)
    return RA.raster_regions(occ, zoom=20)


@register("geo_tile_pyramid", f"""
    WITH g AS (
        SELECT {{TX}} AS x, {{TY}} AS y FROM orders
    ),
    leaf AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY x, y
    ),
    levels(z) AS (
        SELECT 20 - i FROM generate_series(0, 6) t(i)
    )
    SELECT CAST(z AS BIGINT) AS zoom,
           x >> (20 - z) AS x, y >> (20 - z) AS y,
           CAST(SUM(n) AS BIGINT) AS n
    FROM leaf, levels
    GROUP BY z, x >> (20 - z), y >> (20 - z)
""".replace("{TX}", C.tile_x_sql(_LON, 20)).replace(
        "{TY}", C.tile_y_sql(_LAT, 20)))
def geo_tile_pyramid(spark, sf_dir):
    """Tile-pyramid rollup (operators/raster.py::tile_pyramid): the
    zoom-20 orders density grid rolled up through every level to zoom 14
    by ITERATIVE HALVING (each level aggregates the previous one — a
    geometric ~1.33x of the leaf agg, not levels x leaf). The oracle
    derives every level directly from the leaf grid with bit-shift
    GROUP BYs, so the hash compare proves the incremental rollup equals
    the declarative definition at all 7 levels."""
    from geoutils_spark.operators import raster as RA

    occ = RA.grid_occupancy(_orders_points(spark, sf_dir), "lon", "lat",
                            zoom=20, min_count=1)
    return RA.tile_pyramid(occ, zoom=20, zoom_min=14)


@register("rel_pivot", f"""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS {_D}) END) AS DOUBLE)
               AS f_sum_qty,
           CAST(COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT)
               AS f_n,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS {_D}) END) AS DOUBLE)
               AS o_sum_qty,
           CAST(COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT)
               AS o_n
    FROM lineitem GROUP BY l_returnflag
""")
def rel_pivot(spark, sf_dir):
    """Pivot (wide aggregation): lineitem status columns per returnflag
    via Spark's native `groupBy().pivot(values=...)` — with the value
    list EXPLICIT, so Catalyst plans ONE pass (no values-discovery job)
    and the pivot compiles to the same conditional-aggregate shape the
    oracle spells out as CASE WHEN sums. DECIMAL sums for partition-order
    independence, DOUBLE out. Missing (flag,status) combos surface as
    NULL sums / 0 counts in both dialects."""
    li = _t(spark, sf_dir, "lineitem")
    p = (li.groupBy("l_returnflag")
         .pivot("l_linestatus", ["F", "O"])
         .agg(F.sum(F.col("l_quantity").cast(_D)).cast("double")
              .alias("sum_qty"),
              F.count(F.lit(1)).alias("n")))
    # pivot COUNT yields NULL for an empty (flag, status) combo where
    # COUNT(CASE ...) yields 0 — coalesce so the dialects agree even on
    # fixtures where a combo is absent (sums stay NULL in both).
    return p.select(
        "l_returnflag",
        F.col("F_sum_qty").alias("f_sum_qty"),
        F.coalesce(F.col("F_n"), F.lit(0)).cast("long").alias("f_n"),
        F.col("O_sum_qty").alias("o_sum_qty"),
        F.coalesce(F.col("O_n"), F.lit(0)).cast("long").alias("o_n"),
    )


@register("rel_unpivot", """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
    FROM part
""")
def rel_unpivot(spark, sf_dir):
    """Unpivot/melt (the long-format inverse): part metrics stacked to
    (key, metric, value) rows via Spark's native `unpivot` — row-local
    array-explode under the hood, zero exchanges at any size; the oracle
    is the equivalent UNION ALL of per-column selects."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return part.unpivot(["p_partkey"], ["p_size", "p_retailprice"],
                        "metric", "value")


@register("dedup_jaccard_exact", f"""
    WITH sh AS (
        SELECT doc_id, {{SH}} AS s FROM documents
    ),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.s, b.s)) AS i,
               len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(i AS BIGINT) AS inter_size,
           CAST(u AS BIGINT) AS union_size
    FROM p WHERE i > 0 AND i * 10 >= u * 7
""".replace("{SH}", TA.word_shingles_sql("text", 3)))
def dedup_jaccard_exact(spark, sf_dir):
    """EXACT Jaccard >= 0.7 similarity self-join
    (operators/simjoin.py::jaccard_prefix_join, PPJoin-style prefix
    filtering under a rarity order): the dedup ladder's zero-recall-loss
    rung between hash-exact and MinHash/LSH. The oracle is the O(n^2)
    brute force, so the hash compare doubles as an empirical proof that
    the prefix filter dropped no qualifying pair. All threshold math is
    integer (inter*10 >= union*7) — bit-exact across dialects."""
    from geoutils_spark.operators import simjoin as SJ

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return SJ.jaccard_prefix_join(d, k_shingle=3, t_num=7, t_den=10)


from geoutils_spark.operators import retrieval as RT  # noqa: E402

_BM25_QUERIES = [
    (1, "fast query join"),
    (2, "table scan filter value"),
    (3, "customer order line"),
    (4, "hash merge window batch"),
    (5, "spark data row"),
]
_BM25_QUERIES_SQL = "(SELECT * FROM (VALUES {}) AS q(query_id, qtext))".format(
    ", ".join(f"(CAST({i} AS BIGINT), '{t}')" for i, t in _BM25_QUERIES))


@register("web_bm25_topk", RT.bm25_sql("documents", _BM25_QUERIES_SQL, k=10))
def web_bm25_topk(spark, sf_dir):
    """BM25 top-10 retrieval (operators/retrieval.py): five literal
    queries over the documents corpus, scored with integer-quantized
    Okapi BM25 (k1=1.2, b=0.75, linear Robertson idf — no ln) so the
    fixed-point BIGINT score is partitioning-invariant and the DuckDB
    oracle replays it bit-for-bit. Plan: one (doc_id, term) postings agg
    with map-side combine, a vocab-sized df agg over it, the broadcast
    query-term join filtering postings BEFORE the per-(query, doc)
    exchange, and a per-query top-k window over the tiny scored set."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    q = spark.createDataFrame(_BM25_QUERIES, ["query_id", "qtext"]) \
        .select(F.col("query_id").cast("long").alias("query_id"), "qtext")
    return RT.bm25_topk(d, q, k=10)


_BLOOM_CRAWL_A = "(SELECT doc_id FROM documents WHERE doc_id % 2 = 0)"

@register("web_bloom_membership", SK.bloom_contains_sql(
    SK.bloom_build_sql(_BLOOM_CRAWL_A, "doc_id"),
    "(SELECT doc_id FROM documents)", "doc_id"))
def web_bloom_membership(spark, sf_dir):
    """Cross-crawl Bloom membership (sketches.py): build a 4096-bit
    4-hash Bloom filter over crawl A's keys (the even doc ids), probe
    every key — the URL-dedup primitive that lets a new crawl skip a
    join against 100 TB of history. Bit positions are exact md5-hex
    slices, words carry 32 bits each, so the filter layout — including
    its false positives — is a deterministic function of the keys and
    the DuckDB oracle reproduces the membership column bit-for-bit.
    Plan: filter-size-bounded bit_or agg (map-side combine), broadcast
    filter join onto probes; neither corpus shuffles."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    crawl_a = d.filter(F.col("doc_id") % 2 == 0)
    return SK.bloom_contains(SK.bloom_build(crawl_a, "doc_id"), d, "doc_id")


from geoutils_spark.operators import importance as IM  # noqa: E402


@register("text_importance_sample", IM.importance_topk_sql(
    "documents", "(SELECT * FROM documents WHERE source = 'src7')",
    k=100, n_buckets=1 << 14))
def text_importance_sample(spark, sf_dir):
    """DSIR-style importance sampling (operators/importance.py, after
    Xie et al. NeurIPS 2023): treat the src7 slice as the TARGET domain,
    hash every doc's unigrams+bigrams into 2^14 buckets, form the
    Laplace-smoothed integer-quantized target/raw bucket ratio, score
    each corpus doc by the sum of ratios over its feature occurrences,
    and keep the deterministic top-100 — the published pre-training
    data-selection recipe with the repo's exact-BIGINT parity rules
    (ranking-invariant constant dropped instead of libm logs). Plan:
    both distribution aggs partial-combine (raw exchange <= 2^14 rows),
    the ratio table broadcasts, the per-doc agg ships ids+sums only,
    and TakeOrdered merges k rows per partition at the driver — no
    corpus payload ever crosses the wire."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    target = d.filter(F.col("source") == "src7")
    return IM.importance_topk(d, target, k=100, n_buckets=1 << 14)


_BLOCKLIST = ["site7.example", "site250.example", "sub3.site13.example",
              "SITE42.example", "tracker.invalid"]
_BLOCKLIST_VALUES = ", ".join(f"('{d}')" for d in _BLOCKLIST)


@register("web_blocklist_filter", f"""
    WITH docs AS ({_DOCS_URLS_SQL}),
    hosts AS (
      SELECT doc_id, url, {U.url_host_sql('url')} AS host FROM docs
    ),
    sfx AS (
      SELECT doc_id, unnest({U.host_suffixes_sql('host')}) AS __sfx
      FROM hosts
    ),
    blocked(domain) AS (VALUES {_BLOCKLIST_VALUES}),
    bad AS (
      SELECT DISTINCT s.doc_id
      FROM sfx s JOIN blocked b ON s.__sfx = lower(b.domain)
    )
    SELECT doc_id, url FROM docs
    WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    """)
def web_blocklist_filter(spark, sf_dir):
    """C4/RefinedWeb URL-blocklist stage (functions/urls.py
    blocklist_filter): drop documents whose host OR ANY PARENT DOMAIN
    appears in a blocklist table — subdomain matching without an
    endswith NestedLoop. Each host explodes into its <=10 dot-suffixes
    (row-local codegen, ids only), the blocklist broadcasts into an
    equi-semi-join, and the blocked ids broadcast-anti-join back onto
    the source scan — the corpus payload never shuffles, so a UT1-scale
    list over 10^12 pages costs one scan plus two broadcasts. The
    fixture list exercises registered-domain, exact-host, mixed-case,
    and no-match entries."""
    d = _docs_with_urls(spark, sf_dir)
    blocked = spark.createDataFrame([(x,) for x in _BLOCKLIST],
                                    "domain string")
    return U.blocklist_filter(d, blocked).select("doc_id", "url")


from geoutils_spark.operators import exactsubstr as XS  # noqa: E402


@register("text_exactsubstr_cut", f"""
    WITH cut AS ({XS.remove_spans_sql('documents', k=8)})
    SELECT doc_id, n_tokens, n_removed, text_clean
    FROM cut WHERE n_removed > 0
    """)
def text_exactsubstr_cut(spark, sf_dir):
    """ExactSubstr span CUTTING (operators/exactsubstr.py, Lee et al.
    ACL 2022): remove every duplicated >=8-token span from every
    document — all copies, cross-doc and self-repeats, the released
    tool's semantics — and return the affected docs with their cleaned
    text (byte-compared via the driver hash). The span-cut tier above
    dedup_shingle_coverage's flag-only metric. Plan: the window table
    ships (id, pos, 60-bit fp) only, its count partial-combines, only
    the duplicated vocabulary joins back (broadcast survivors), and one
    by-id equi-join rebuilds text on the source scan with zero-UDF
    higher-order codegen."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (XS.remove_duplicate_spans(d, k=8)
            .filter(F.col("n_removed") > 0))


from geoutils_spark.operators import semdedup as SD  # noqa: E402


@register("emb_semdedup", f"""
    WITH corpus AS ({_VECS_MUTANTS_SQL}),
    out AS ({SD.semdedup_sql('corpus', 'vec_id % 25 = 7 AND vec_id < 500', threshold=0.95)})
    SELECT drop_id, bucket, witness_id, ROUND(cosine, 9) AS cosine_r
    FROM out
    """)
def emb_semdedup(spark, sf_dir):
    """SemDeDup (operators/semdedup.py, Abbas et al. 2023): semantic
    dedup confined to nearest-centroid clusters — the embedding-space
    sibling of the cell-bucketed spatial join. 20 deterministic
    data-derived centroids broadcast for row-local assignment; the pair
    join is keyed by cluster id only; keep-lowest-id drop rule with a
    partial-combining min-struct witness. Exact chain-sum cosine both
    dialects, so the 0.95 threshold comparison cannot drift. The
    centroid predicate is bounded (vec_id < 500) so the broadcast
    argmax expression stays 20 centroids at EVERY scale factor — the
    k-vs-corpus-size separation that makes the assignment row-local
    cost constant."""
    corpus = _vectors_with_mutants(spark, sf_dir)
    cents = [(int(r["vec_id"]), [float(x) for x in r["e"]])
             for r in corpus.filter((F.col("vec_id") % 25 == 7)
                           & (F.col("vec_id") < 500)).collect()]
    out = SD.semdedup_drops(corpus, cents, threshold=0.95)
    return out.select("drop_id", "bucket", "witness_id",
                      F.round("cosine", 9).alias("cosine_r"))


from geoutils_spark.functions import hexgrid as HX  # noqa: E402

# anchor for hex-distance exercises: the fixture extent's midpoint,
# evaluated through the identical point->hex kernel in both dialects
_HEX_ANCHOR_LON, _HEX_ANCHOR_LAT = -0.08, 51.525


@register(
    "geo_hex_assign",
    f"""
    SELECT doc_id,
           {HX.hex_q_sql(_DLON, _DLAT, 22)} AS hex_q,
           {HX.hex_r_sql(_DLON, _DLAT, 22)} AS hex_r,
           {HX.hex_id_sql(_DLON, _DLAT, 22)} AS hex_id,
           {HX.hex_distance_sql(
               HX.hex_q_sql(_DLON, _DLAT, 22),
               HX.hex_r_sql(_DLON, _DLAT, 22),
               HX.hex_q_sql(_dbl(_HEX_ANCHOR_LON), _dbl(_HEX_ANCHOR_LAT), 22),
               HX.hex_r_sql(_dbl(_HEX_ANCHOR_LON), _dbl(_HEX_ANCHOR_LAT), 22),
           )} AS hex_dist
    FROM documents
    """,
)
def geo_hex_assign(spark, sf_dir):
    """Hex-grid point index (functions/hexgrid.py) — the H3-style half
    of the north-star "H3/S2 cells" pair (true S2 is geo_s2_parity):
    flat-top axial hexes on the Mercator plane, cube-rounded pixel->hex,
    zigzag-packed BIGINT ids, plus the axial graph distance to a fixed
    anchor hex. Pure row-local codegen (no UDF, no shuffle, no join);
    the oracle twin runs the literally identical operation sequence."""
    df = _documents_points(spark, sf_dir)
    df = HX.with_hex_cell(df, 22, "lon", "lat")
    aq, ar = HX.hex_qr_col(F.lit(float(_HEX_ANCHOR_LON)),
                           F.lit(float(_HEX_ANCHOR_LAT)), 22)
    return df.select(
        "doc_id", "hex_q", "hex_r", "hex_id",
        HX.hex_distance_col(F.col("hex_q"), F.col("hex_r"), aq, ar)
        .alias("hex_dist"))


@register(
    "geo_hex_histogram",
    f"""
    WITH child AS (
      SELECT {HX.hex_q_sql(_DLON, _DLAT, 22)} AS q,
             {HX.hex_r_sql(_DLON, _DLAT, 22)} AS r
      FROM documents
    ),
    parent AS (
      SELECT {HX.hex_pack_sql(
          HX.hex_parent_qr_sql('q', 'r', 22, 20)[0],
          HX.hex_parent_qr_sql('q', 'r', 22, 20)[1], 20)} AS parent_hex,
             q, r
      FROM child
    )
    SELECT parent_hex, COUNT(*) AS n,
           COUNT(DISTINCT {HX.hex_pack_sql('q', 'r', 22)}) AS n_children
    FROM parent GROUP BY 1
    """,
)
def geo_hex_histogram(spark, sf_dir):
    """Hex density rollup: res-22 child hexes -> res-20 parents via
    center reassignment (hexes don't nest — the standard non-nesting
    rollup, functions/hexgrid.py hex_parent_col), counting docs and
    distinct child hexes per parent. One partial-combining exchange on
    the parent id; the child->parent math never leaves the row."""
    df = _documents_points(spark, sf_dir)
    q, r = HX.hex_qr_col(F.col("lon"), F.col("lat"), 22)
    df = df.select(q.alias("q"), r.alias("r"))
    pq, pr = HX.hex_parent_col(F.col("q"), F.col("r"), 22, 20)
    df = df.select(
        HX.hex_pack_col(pq, pr, 20).alias("parent_hex"),
        HX.hex_pack_col(F.col("q"), F.col("r"), 22).alias("child_hex"))
    return df.groupBy("parent_hex").agg(
        F.count("*").alias("n"),
        F.countDistinct("child_hex").alias("n_children"))


from geoutils_spark.operators import topk as TK  # noqa: E402


@register("web_host_cap", """
    WITH hosted AS (
      SELECT doc_id, n_chars,
             'site' || CAST(doc_id % 13 AS VARCHAR) || '.example' AS host
      FROM documents
    )
    SELECT host, doc_id, n_chars, rank FROM (
      SELECT host, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY host
                                ORDER BY n_chars DESC, doc_id ASC) AS rank
      FROM hosted
    ) WHERE rank <= 5
    """)
def web_host_cap(spark, sf_dir):
    """FineWeb-style per-host document cap (operators/topk.py): keep
    the 5 longest docs per host under a total order. NOT a plain
    window — the salted two-phase selection: phase 1 ranks within
    (host, xxhash64(doc_id) % n_salt) so a 10^9-doc hot host sorts
    across n_salt bounded tasks; phase 2 ranks the <= 5*n_salt
    survivors per host. Exactly equal to the unsalted top-k because
    the order is total (doc_id tiebreak) — which is what the plain
    ROW_NUMBER oracle twin checks."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    d = d.withColumn(
        "host", F.concat(F.lit("site"), (F.col("doc_id") % 13).cast("string"),
                         F.lit(".example")))
    out = TK.topk_per_group(
        d, ["host"], [F.col("n_chars").desc(), F.col("doc_id").asc()],
        k=5, salt_col=F.col("doc_id"), n_salt=8)
    return out.select("host", "doc_id", "n_chars", "rank")


from geoutils_spark.operators import rank as RK  # noqa: E402


@register("text_ccnet_buckets", """
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars ASC, doc_id ASC) AS rank,
             COUNT(*) OVER (PARTITION BY lang) AS cnt
      FROM documents
    )
    SELECT doc_id, lang, n_chars, rank,
           CASE CAST(FLOOR(CAST((rank - 1) * 3 AS DOUBLE) / cnt) AS INT)
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM ranked
    """)
def text_ccnet_buckets(spark, sf_dir):
    """CCNet-style equal-mass quality buckets per language (Wenzek et
    al. 2020 split each language into head/middle/tail by LM
    perplexity; operators/rank.py). The rank is computed WITHOUT a
    whole-language window: approximate percentile edges (performance-
    only) bin rows order-preservingly, exact per-bin counts cumulate
    into broadcast rank bases, and the only window runs inside
    (lang, bin) — bounded tasks, identical answer. The plain
    ROW_NUMBER oracle twin is the equivalence check."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = RK.group_fraction_buckets(
        d, ["lang"], F.col("n_chars").cast("double"), F.col("doc_id"),
        n_buckets=3, labels=["head", "middle", "tail"], n_bins=16)
    return out.select("doc_id", "lang", "n_chars", "rank", "bucket")


from geoutils_spark.functions import links as LK  # noqa: E402

# deterministic html synth shared by spark/oracle sides: two absolute
# links (one dead-scheme 1/6), one protocol-relative (1/4), one
# relative path, one fragment link (1/3)
_HTML_SYNTH_SQL = """
      SELECT doc_id,
             'site' || CAST(doc_id % 23 AS VARCHAR) || '.example' AS host,
             '<html><body>'
             || '<a href="https://site' || CAST((doc_id * 3 + 1) % 23 AS VARCHAR)
             || '.example/a">x</a>'
             || CASE WHEN doc_id % 6 = 0
                     THEN '<a href="mailto:a@b.example">m</a>' ELSE '' END
             || CASE WHEN doc_id % 4 = 0
                     THEN '<a href="//site' || CAST((doc_id * 5 + 2) % 23 AS VARCHAR)
                          || '.example/b">y</a>' ELSE '' END
             || '<a href="/local/page' || CAST(doc_id AS VARCHAR) || '">z</a>'
             || CASE WHEN doc_id % 3 = 0
                     THEN '<a href="#sec">s</a>' ELSE '' END
             || '</body></html>' AS html
      FROM documents
"""


def _docs_with_html(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    host = F.concat(F.lit("site"), s(i % 23), F.lit(".example"))
    html = F.concat(
        F.lit("<html><body>"),
        F.lit('<a href="https://site'), s((i * 3 + 1) % 23),
        F.lit('.example/a">x</a>'),
        F.when(i % 6 == 0, F.lit('<a href="mailto:a@b.example">m</a>'))
        .otherwise(F.lit("")),
        F.when(i % 4 == 0,
               F.concat(F.lit('<a href="//site'), s((i * 5 + 2) % 23),
                        F.lit('.example/b">y</a>'))).otherwise(F.lit("")),
        F.lit('<a href="/local/page'), s(i), F.lit('">z</a>'),
        F.when(i % 3 == 0, F.lit('<a href="#sec">s</a>'))
        .otherwise(F.lit("")),
        F.lit("</body></html>"))
    return d.select("doc_id", host.alias("host"), html.alias("html"))


@register("web_link_hostgraph", f"""
    WITH pages AS ({_HTML_SYNTH_SQL}),
    links AS (
      SELECT host AS src,
             unnest({LK.extract_hrefs_sql('html')}) AS link
      FROM pages
    ),
    resolved AS (
      SELECT src, {LK.resolve_host_sql('link', 'src')} AS dst FROM links
    )
    SELECT src, dst, COUNT(*) AS n
    FROM resolved WHERE dst <> '' GROUP BY src, dst
    """)
def web_link_hostgraph(spark, sf_dir):
    """Host-level link graph from raw HTML (functions/links.py): one
    codegen regexp pulls every href, row-local resolution maps
    absolute/protocol-relative links to their target host and
    relative/fragment links to the page's own host, dead schemes
    (mailto/javascript/data) drop. The single exchange is the
    (src, dst) edge-count aggregation — keyed by host pairs, combining
    map-side; html payloads never shuffle. Feeds the exact-fixed-point
    PageRank (web_pagerank) with real edges."""
    p = _docs_with_html(spark, sf_dir)
    links = p.select(
        F.col("host").alias("src"),
        F.explode(LK.extract_hrefs_col(F.col("html"))).alias("link"))
    resolved = links.select(
        "src", LK.resolve_host_col(F.col("link"), F.col("src")).alias("dst"))
    return (resolved.filter(F.col("dst") != "")
            .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n")))


_RZ_LEVEL = 18
_RZ_N = 1 << _RZ_LEVEL


@register("geo_rasterize", f"""
    WITH grid AS ({_grid_sql()}),
    tiles AS (
      SELECT way_id, minx, maxx, miny, maxy, tx.x AS tx, ty.y AS ty
      FROM grid,
           UNNEST(range({C.tile_x_sql('minx', _RZ_LEVEL)},
                        {C.tile_x_sql('maxx', _RZ_LEVEL)} + 1)) AS tx(x),
           UNNEST(range({C.tile_y_sql('maxy', _RZ_LEVEL)},
                        {C.tile_y_sql('miny', _RZ_LEVEL)} + 1)) AS ty(y)
    ),
    centered AS (
      SELECT way_id, tx, ty,
             (CAST(tx AS DOUBLE) + CAST(0.5 AS DOUBLE)) / {_RZ_N}.0
               * CAST(360.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS clon,
             DEGREES(CAST(2.0 AS DOUBLE) * ATAN(EXP(PI() *
               (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE)
                * (CAST(ty AS DOUBLE) + CAST(0.5 AS DOUBLE)) / {_RZ_N}.0)))
               - PI() / CAST(2.0 AS DOUBLE)) AS clat,
             minx, maxx, miny, maxy
      FROM tiles
    )
    SELECT {C.cell_from_tile_sql('tx', 'ty', _RZ_LEVEL)} AS cell_id,
           COUNT(*) AS n_polys,
           MIN(way_id) AS min_way_id
    FROM centered
    WHERE clon >= minx AND clon < maxx AND clat >= miny AND clat < maxy
    GROUP BY 1
    """)
def geo_rasterize(spark, sf_dir):
    """Vector -> raster burn (operators/raster.py rasterize_polygons):
    fixture buildings onto the level-17 cell grid by center sampling —
    the inverse of geo_raster_regions' polygonize. Engine path: bbox ->
    bounded covering-cells explode -> row-local center decode -> exact
    Catalyst ray-cast fold keeps center-inside cells -> one
    partial-aggregating exchange on cell id. For the axis-aligned
    fixtures the half-open ray-cast equals the bbox predicate, so the
    tile-enumerating oracle (integer tile ranges, bit-math cell encode)
    is hash-exact."""
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    from geoutils_spark.operators.raster import rasterize_polygons

    return rasterize_polygons(polys, _RZ_LEVEL)


# ---------------------------------------------------------------------------
# WARC on-ramp (sources/warc.py) — the Common-Crawl wire-format roundtrip
# ---------------------------------------------------------------------------

_WARC_EPOCH = 1704067200


@register("warc_ingest_stats", f"""
    SELECT source || '.example' AS host,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id) AS n_urls,
           SUM(octet_length(encode(text))) AS total_bytes,
           SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)) AS body_hash_sum,
           200 AS status_min,
           200 AS status_max,
           MAX({_WARC_EPOCH} + doc_id * 61 % 31536000) AS max_epoch
    FROM documents
    GROUP BY 1
    """)
def warc_ingest_stats(spark, sf_dir):
    """Full WARC wire-format roundtrip under the driver gate: documents ->
    pages shape -> byte-deterministic .warc.gz shards (write_warc_shards:
    md5-bucket shards, url order, gzip member per record, mtime=0) ->
    read_warc per-file parse (HTTP envelope split, WARC-Date parse) ->
    per-host aggregate. The oracle computes the same stats straight off
    the parquet table, so every mismatch in url/timestamp/body bytes or
    HTTP status surfaces as a hash break — the webtext analogue of the
    pbf XML-parity test (sources/osmpbf.py). Scale shape: the sink is one
    task per shard; the reader is one task per file (member spans for the
    single-huge-file case, test_warc.py); the aggregate ships (host,
    count, sums) only."""
    import os as _os
    import tempfile

    from geoutils_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(
            F.lit(_WARC_EPOCH)
            + F.pmod(F.col("doc_id") * 61, F.lit(31536000))).alias("warc_ts"),
        F.col("text").cast("binary").alias("html"))
    out_dir = _os.path.join(
        tempfile.gettempdir(),
        f"geoutils_spark_warc_{_os.path.basename(sf_dir.rstrip('/'))}")
    paths = W.write_warc_shards(pages, out_dir, n_shards=4)
    back = W.read_warc(spark, paths)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (back.groupBy(host.alias("host"))
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("url").alias("n_urls"),
                 F.sum(F.length("html")).alias("total_bytes"),
                 F.sum(F.conv(F.substring(F.md5("html"), 1, 12), 16, 10)
                       .cast("long")).alias("body_hash_sum"),
                 F.min("http_status").alias("status_min"),
                 F.max("http_status").alias("status_max"),
                 F.max(F.unix_timestamp("warc_ts")).alias("max_epoch")))


# deterministic anchor-bearing html synth (shared spark/oracle): one
# absolute link with a varying word anchor, one relative link with a
# two-word anchor, and 1/5 an empty-anchor image link (must drop)
_ANCHOR_WORDS = ["market", "river", "bridge", "castle", "garden", "station",
                 "museum", "harbour", "tower", "abbey", "square", "lane"]

_ANCHOR_SYNTH_SQL = f"""
      SELECT doc_id,
             'site' || CAST(doc_id % 23 AS VARCHAR) || '.example' AS host,
             '<html><body>'
             || '<a href="https://site' || CAST((doc_id * 3 + 1) % 23 AS VARCHAR)
             || '.example/a">'
             || (['{"','".join(_ANCHOR_WORDS)}'])[CAST(doc_id * 7 % 12 AS INT) + 1]
             || ' ' || (['{"','".join(_ANCHOR_WORDS)}'])[CAST(doc_id * 5 % 12 AS INT) + 1]
             || '</a>'
             || '<a href="/local/page' || CAST(doc_id AS VARCHAR) || '">home page</a>'
             || CASE WHEN doc_id % 5 = 0
                     THEN '<a href="https://site' || CAST(doc_id % 23 AS VARCHAR)
                          || '.example/img"><img src="i.png"/></a>' ELSE '' END
             || '</body></html>' AS html
      FROM documents
"""


def _docs_with_anchor_html(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    words = F.array(*[F.lit(w) for w in _ANCHOR_WORDS])

    def s(c):
        return c.cast("string")

    host = F.concat(F.lit("site"), s(i % 23), F.lit(".example"))
    html = F.concat(
        F.lit('<html><body><a href="https://site'), s((i * 3 + 1) % 23),
        F.lit('.example/a">'),
        F.element_at(words, (F.pmod(i * 7, F.lit(12)) + 1).cast("int")),
        F.lit(" "),
        F.element_at(words, (F.pmod(i * 5, F.lit(12)) + 1).cast("int")),
        F.lit('</a><a href="/local/page'), s(i), F.lit('">home page</a>'),
        F.when(i % 5 == 0,
               F.concat(F.lit('<a href="https://site'), s(i % 23),
                        F.lit('.example/img"><img src="i.png"/></a>')))
        .otherwise(F.lit("")),
        F.lit("</body></html>"))
    return d.select("doc_id", host.alias("host"), html.alias("html"))


@register("web_anchor_text", f"""
    WITH pages AS ({_ANCHOR_SYNTH_SQL}),
    pairs AS (
      SELECT host AS src, unnest({LK.extract_anchor_pairs_sql('html')},
                                 recursive := true)
      FROM pages
    ),
    tokens AS (
      SELECT {LK.resolve_host_sql('link', 'src')} AS dst,
             unnest(string_split(anchor, ' ')) AS token
      FROM pairs
      WHERE anchor <> ''
    )
    SELECT dst, token, COUNT(*) AS n_links
    FROM tokens WHERE token <> '' AND dst <> ''
    GROUP BY dst, token
    """)
def web_anchor_text(spark, sf_dir):
    """Anchor-text corpus construction (functions/links.py anchor pairs):
    what other pages' link text says about a target host — the classic
    web-scale relevance/training signal (anchor-text pretraining, query
    expansion). One codegen regexp pulls full anchor tags, a higher-order
    transform splits each into (href, anchor) row-locally, resolution
    maps the href to its target host, anchor words explode to tokens.
    Empty anchors (image links) drop. The only exchange is the
    (dst_host, token) count — key space bounded by hosts x vocabulary,
    combining map-side; html never shuffles."""
    p = _docs_with_anchor_html(spark, sf_dir)
    pairs = p.select(
        F.col("host").alias("src"),
        F.explode(LK.extract_anchor_pairs_col(F.col("html"))).alias("pr"))
    tokens = (pairs
              .filter(F.col("pr.anchor") != "")
              .select(LK.resolve_host_col(F.col("pr.link"), F.col("src"))
                      .alias("dst"),
                      F.explode(F.split(F.col("pr.anchor"), " "))
                      .alias("token")))
    return (tokens.filter((F.col("token") != "") & (F.col("dst") != ""))
            .groupBy("dst", "token")
            .agg(F.count(F.lit(1)).alias("n_links")))


from geoutils_spark.operators import bpe as BP  # noqa: E402

_BPE_MERGES = 8
_BPE_TOPW = 150


@register("text_bpe_merges",
          BP.merges_sql("(SELECT text FROM documents)", _BPE_MERGES,
                        top_words=_BPE_TOPW))
def text_bpe_merges(spark, sf_dir):
    """Distributed BPE merge training (operators/bpe.py, Sennrich et al.
    2016) — the iterative tier's tokenizer-training member. The corpus is
    reduced ONCE to a capped (word, n) vocabulary (map-side-combining
    hash agg); each of the 8 merge rounds then runs entirely on the
    vocabulary table: row-local pair explode, one vocab-bounded count
    exchange, a 1-row argmax driver action (n desc, pair asc tie), and a
    row-local greedy merge rewrite. The oracle unrolls the identical 8
    rounds as chained CTEs, so merge CHOICES and counts — the full
    training trajectory, not just the final state — are hash-checked."""
    docs = _t(spark, sf_dir, "documents").select("text")
    vocab = BP.word_counts(docs, top_words=_BPE_TOPW)
    merges = BP.train_merges(vocab, _BPE_MERGES)
    return spark.createDataFrame(
        [(int(s), p, int(n)) for s, p, n in merges],
        "step long, pair string, n long")


@register("text_bpe_encode",
          BP.encode_docs_sql("documents", _BPE_MERGES,
                             top_words=_BPE_TOPW))
def text_bpe_encode(spark, sf_dir):
    """BPE ENCODING — the tokenizer's runtime half (text_bpe_merges
    trains the merge table; this applies it to every document, the
    operation a 100-TB tokenization job actually runs on the scan).
    Merges apply in trained-priority order, each greedy left-to-right
    non-overlapping (operators/bpe.py encode_col — the same
    apply_merge_col fold both training and the oracle use); a U+001F
    word-boundary sentinel keeps merges inside words. Row-local codegen
    string ops, zero exchanges; the bounded merge table rides in as 8
    string literals (the broadcast-dim analog). Output is hash-checked
    at the BYTE level: md5 of the full encoded symbol string, not just
    token counts. The encode expression is evaluated twice per row
    (count + md5 consumers) — a documented 2x constant, not a
    per-window blowup."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = BP.word_counts(docs.select("text"), top_words=_BPE_TOPW)
    merges = [p for _, p, _ in BP.train_merges(vocab, _BPE_MERGES)]
    sym = BP.encode_col(F.col("text"), merges)
    return docs.select(
        "doc_id",
        BP.token_count_col(sym).alias("n_tokens"),
        F.md5(sym.cast("binary")).alias("enc_md5"))


from geoutils_spark.functions import robots as RB  # noqa: E402

_ROBOTS_TEMPLATES = [
    ("User-agent: a\nUser-agent: *\nAllow: /private/ok\n"
     "Disallow: /private\nDisallow:\n\nUser-agent: z\nDisallow: /"),
    "# bots only\nUser-agent: specialbot\nDisallow: /",
    "User-agent: *\nDisallow: /\nAllow: /pub",
    "",
]


def _robots_tpl_sql() -> str:
    items = ", ".join(
        "'" + t.replace("\n", "' || chr(10) || '") + "'"
        for t in _ROBOTS_TEMPLATES)
    return f"[{items}]"


@register("web_robots_filter", f"""
    WITH hosts AS (
      SELECT h, 'site' || CAST(h AS VARCHAR) || '.example' AS host,
             ({_robots_tpl_sql()})[CAST(h % 4 AS INT) + 1] AS robots
      FROM range(23) t(h)
    ),
    parsed AS (SELECT host, {{L}} AS l FROM hosts),
    ruled AS (SELECT host, {{R}} AS rules FROM parsed),
    pages AS (
      SELECT doc_id,
             'site' || CAST(doc_id % 23 AS VARCHAR) || '.example' AS host,
             'https://site' || CAST(doc_id % 23 AS VARCHAR) || '.example'
             || (CASE CAST(doc_id % 5 AS INT)
                 WHEN 0 THEN '/private/ok/p' || CAST(doc_id AS VARCHAR)
                 WHEN 1 THEN '/private/x' || CAST(doc_id AS VARCHAR)
                 WHEN 2 THEN '/pub/y' || CAST(doc_id AS VARCHAR)
                 WHEN 3 THEN ''
                 ELSE '/misc/z' || CAST(doc_id AS VARCHAR) END) AS url
      FROM documents
    )
    SELECT p.doc_id, p.host, p.url, {{OK}} AS allowed
    FROM pages p JOIN ruled r ON p.host = r.host
    """.replace("{L}", RB.sig_lines_sql("robots"))
       .replace("{R}", RB.rules_for_agent_sql("l", "*"))
       .replace("{OK}", RB.is_allowed_sql("r.rules", RB.url_path_sql("p.url"))))
def web_robots_filter(spark, sf_dir):
    """robots.txt gate (functions/robots.py, RFC 9309 subset): parse +
    group resolution run ONCE PER HOST on the tiny robots dim (the
    quadratic group scan is dim-side; the broadcast join boundary
    materializes the resolved rules array), then per-page matching is a
    row-local longest-prefix array fold. Corpus never shuffles: pages ⋈
    broadcast(rules-by-host). Hosts cycle 4 robots shapes: a grouped
    User-agent block with Allow-over-Disallow + empty Disallow, a
    bot-specific-only file (no '*' group — everything allowed), a
    Disallow-/ with an Allow carve-out, and an empty file."""
    tpl = F.array(*[F.lit(t) for t in _ROBOTS_TEMPLATES])
    hosts = spark.range(23).select(
        F.concat(F.lit("site"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        F.element_at(tpl, (F.col("id") % 4 + 1).cast("int")).alias("robots"))
    ruled = hosts.select(
        "host", RB.rules_for_agent_col(F.col("robots"), "*").alias("rules"))
    i = F.col("doc_id")
    path = (F.when(i % 5 == 0, F.concat(F.lit("/private/ok/p"), i.cast("string")))
            .when(i % 5 == 1, F.concat(F.lit("/private/x"), i.cast("string")))
            .when(i % 5 == 2, F.concat(F.lit("/pub/y"), i.cast("string")))
            .when(i % 5 == 3, F.lit(""))
            .otherwise(F.concat(F.lit("/misc/z"), i.cast("string"))))
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("site"), (i % 23).cast("string"),
                 F.lit(".example")).alias("host"),
        F.concat(F.lit("https://site"), (i % 23).cast("string"),
                 F.lit(".example"), path).alias("url"))
    joined = pages.join(F.broadcast(ruled), "host")
    return joined.select(
        "doc_id", "host", "url",
        RB.is_allowed_col(F.col("rules"),
                          RB.url_path_col(F.col("url"))).alias("allowed"))


from geoutils_spark.operators import chunk as CH  # noqa: E402


@register("text_chunk_windows",
          CH.chunk_documents_sql("documents", size=32, stride=24))
def text_chunk_windows(spark, sf_dir):
    """RAG-style fixed-window chunking (operators/chunk.py): 32-token
    windows advancing by 24 (8-token overlap), trailing partials kept —
    ZERO exchanges, pure row-local array codegen; (doc_id, chunk_id) is
    a pure function of the row so downstream embedding/indexing keys are
    partitioning-invariant."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return CH.chunk_documents(docs, size=32, stride=24)


@register("web_host_quality_ci", f"""
    WITH q AS (
      SELECT source,
             {TA.quality_sqls('text')['n_tokens']} AS n_tokens,
             {TA.quality_sqls('text')['stopword_ratio']} AS stop_ratio,
             {TA.quality_sqls('text')['mark_ratio']} AS mark_ratio
      FROM documents
    ),
    agg AS (
      SELECT source || '.example' AS host,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN n_tokens >= 20 AND stop_ratio >= 0.01
                            AND mark_ratio <= 0.2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_keep
      FROM q GROUP BY 1
    ),
    wil AS (
      SELECT host, n_docs, n_keep,
             CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p,
             CAST(n_docs AS DOUBLE) AS nd
      FROM agg
    )
    SELECT host, n_docs, n_keep,
           ROUND((p + {_dbl(3.8416)} / ({_dbl(2.0)} * nd)
                  - {_dbl(1.96)} * SQRT((p * ({_dbl(1.0)} - p)
                                         + {_dbl(3.8416)} / ({_dbl(4.0)} * nd))
                                        / nd))
                 / ({_dbl(1.0)} + {_dbl(3.8416)} / nd), 9) AS wilson_lb,
           CASE WHEN (p + {_dbl(3.8416)} / ({_dbl(2.0)} * nd)
                  - {_dbl(1.96)} * SQRT((p * ({_dbl(1.0)} - p)
                                         + {_dbl(3.8416)} / ({_dbl(4.0)} * nd))
                                        / nd))
                 / ({_dbl(1.0)} + {_dbl(3.8416)} / nd) >= {_dbl(0.5)}
                THEN TRUE ELSE FALSE END AS keep_host
    FROM wil
    """)
def web_host_quality_ci(spark, sf_dir):
    """FineWeb-style HOST-level quality decision: per-host keep-rate from
    the Gopher gate, scored by the WILSON LOWER BOUND (z=1.96) so small
    hosts aren't trusted on a lucky sample — the standard fix for
    filtering domains by rate when host sizes span 1..10^7 docs. One
    partial-agg exchange on host (two BIGINT sums); the Wilson formula is
    post-agg row-local double math with identical literal structure in
    both dialects (chain-order discipline), rounded to 9 for hash
    stability. ``keep_host`` gates at lower-bound >= 0.5."""
    d = _t(spark, sf_dir, "documents")
    keep = TA.quality_keep_col(F.col("text"))
    agg = (d.groupBy(F.concat(F.col("source"), F.lit(".example"))
                     .alias("host"))
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum(F.when(keep, 1).otherwise(0)).cast("long")
                .alias("n_keep")))
    p = F.col("n_keep").cast("double") / F.col("n_docs").cast("double")
    nd = F.col("n_docs").cast("double")
    z2, z, one = F.lit(3.8416), F.lit(1.96), F.lit(1.0)
    w = ((p + z2 / (F.lit(2.0) * nd)
          - z * F.sqrt((p * (one - p) + z2 / (F.lit(4.0) * nd)) / nd))
         / (one + z2 / nd))
    return agg.select("host", "n_docs", "n_keep",
                      F.round(w, 9).alias("wilson_lb"),
                      (w >= F.lit(0.5)).alias("keep_host"))


_SURT_URL_SQL = """
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 'https://Sub.Site' || CAST(doc_id % 23 AS VARCHAR)
                         || '.Example/A/B?b=2&a=1'
             WHEN 1 THEN 'https://site' || CAST(doc_id % 23 AS VARCHAR)
                         || '.example?x=1'
             WHEN 2 THEN 'https://site' || CAST(doc_id % 23 AS VARCHAR)
                         || '.example/a/b?a=1&b=2#frag'
             ELSE 'http://site' || CAST(doc_id % 23 AS VARCHAR)
                  || '.example/plain' END AS url
      FROM documents
"""


@register("web_surt_keys", f"""
    WITH u AS ({_SURT_URL_SQL})
    SELECT doc_id, url, {U.surt_key_sql('url')} AS surt
    FROM u
    """)
def web_surt_keys(spark, sf_dir):
    """SURT sort keys (functions/urls.py surt_key_col) — the ordering CDX
    indexes and crawl stores sort by, making one domain's captures a
    contiguous range scan: host labels reversed and comma-joined, query
    params sorted (?b&a == ?a&b), case folded, fragments dropped.
    Row-local codegen; at scale this is the sort/partition column for
    the capture index (range-partition by surt == partition by site)."""
    i = F.col("doc_id")
    h = (i % 23).cast("string")
    url = (F.when(i % 4 == 0, F.concat(F.lit("https://Sub.Site"), h,
                                       F.lit(".Example/A/B?b=2&a=1")))
           .when(i % 4 == 1, F.concat(F.lit("https://site"), h,
                                      F.lit(".example?x=1")))
           .when(i % 4 == 2, F.concat(F.lit("https://site"), h,
                                      F.lit(".example/a/b?a=1&b=2#frag")))
           .otherwise(F.concat(F.lit("http://site"), h,
                               F.lit(".example/plain"))))
    d = _t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    return d.select("doc_id", "url",
                    U.surt_key_col(F.col("url")).alias("surt"))


from geoutils_spark.operators import cdc as CDC  # noqa: E402

_CDC_BITS = 5


@register("mm_cdc_chunks", f"""
    WITH g AS (
      SELECT doc_id, text, {CDC.gear_codes_sql('text')} AS gs
      FROM documents
    ),
    h AS (
      SELECT doc_id, text, {CDC.rolling_hash_from_codes_sql('gs')} AS hs
      FROM g
    ),
    cut AS (
      SELECT doc_id, text,
             list_sort(list_distinct(list_concat(
               list_transform(
                 list_filter(range(1, len(hs) + 1),
                             i -> hs[i] % {1 << _CDC_BITS} = 0),
                 i -> i + {CDC.WINDOW} - 1),
               CASE WHEN len(text) = 0 THEN [] ELSE [len(text)] END))) AS ends
      FROM h
    )
    SELECT doc_id,
           CAST(e.i - 1 AS INT) AS chunk_idx,
           CAST(CASE WHEN e.i = 1 THEN 0 ELSE ends[e.i - 1] END AS INT) AS off,
           CAST(ends[e.i]
                - (CASE WHEN e.i = 1 THEN 0 ELSE ends[e.i - 1] END)
                AS INT) AS len,
           md5(text[(CASE WHEN e.i = 1 THEN 0
                     ELSE ends[e.i - 1] END) + 1 : ends[e.i]]) AS h
    FROM cut, UNNEST(range(1, len(ends) + 1)) AS e(i)
    """)
def mm_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (operators/cdc.py, gear-hash/FastCDC
    family) over the corpus blobs: boundaries where a 16-byte rolling
    hash hits the 2^5 mask, so identical sub-streams chunk identically
    wherever they sit — the byte-level dedup tier for the opaque binary
    columns (multimodal payloads). Engine path: Arrow-batched numpy
    sliding-window matmul per blob, zero exchanges; the oracle replays
    the identical windowed dot product and boundary rule in SQL, so
    offsets, lengths AND chunk md5s are hash-checked."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob"))
    return CDC.chunk_blobs(docs, mask_bits=_CDC_BITS)


@register("mm_cdc_dedup_ratio", f"""
    WITH corpus AS ({_DOCS_MUTANTS_SQL}),
    g AS (
      SELECT doc_id, text, {CDC.gear_codes_sql('text')} AS gs
      FROM corpus
    ),
    h AS (
      SELECT doc_id, text, {CDC.rolling_hash_from_codes_sql('gs')} AS hs
      FROM g
    ),
    cut AS (
      SELECT doc_id, text,
             list_sort(list_distinct(list_concat(
               list_transform(
                 list_filter(range(1, len(hs) + 1),
                             i -> hs[i] % {1 << _CDC_BITS} = 0),
                 i -> i + {CDC.WINDOW} - 1),
               CASE WHEN len(text) = 0 THEN [] ELSE [len(text)] END))) AS ends
      FROM h
    ),
    chunks AS (
      SELECT md5(text[(CASE WHEN e.i = 1 THEN 0
                       ELSE ends[e.i - 1] END) + 1 : ends[e.i]]) AS h,
             CAST(ends[e.i]
                  - (CASE WHEN e.i = 1 THEN 0 ELSE ends[e.i - 1] END)
                  AS BIGINT) AS len
      FROM cut, UNNEST(range(1, len(ends) + 1)) AS e(i)
    ),
    uniq AS (SELECT h, MAX(len) AS len FROM chunks GROUP BY h)
    SELECT CAST((SELECT COUNT(*) FROM chunks) AS BIGINT) AS n_chunks,
           CAST((SELECT COUNT(*) FROM uniq) AS BIGINT) AS n_unique,
           CAST((SELECT SUM(len) FROM chunks) AS BIGINT) AS total_bytes,
           CAST((SELECT SUM(len) FROM uniq) AS BIGINT) AS unique_bytes
    """)
def mm_cdc_dedup_ratio(spark, sf_dir):
    """Dedup-storage estimate over CDC chunks (the composition the byte
    tier exists for): chunk every blob, count bytes before/after chunk-
    hash dedup. The mutant corpus plants truncated near-copies — CDC's
    insertion-resilient boundaries make the shared prefixes produce
    IDENTICAL chunk hashes, so unique_bytes << total_bytes while
    whole-blob md5 would dedup nothing. One map-side-combining exchange
    on chunk hash; chunk rows carry (h, len) only — never blob bytes."""
    corpus = _docs_with_mutants(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("blob"))
    ch = CDC.chunk_blobs(corpus, mask_bits=_CDC_BITS)
    uniq = ch.groupBy("h").agg(F.max("len").alias("len"))
    a = ch.agg(F.count(F.lit(1)).alias("n_chunks"),
               F.sum(F.col("len").cast("long")).alias("total_bytes"))
    b = uniq.agg(F.count(F.lit(1)).alias("n_unique"),
                 F.sum(F.col("len").cast("long")).alias("unique_bytes"))
    return (a.crossJoin(b)   # two 1-row aggregates
            .select("n_chunks", "n_unique", "total_bytes", "unique_bytes"))


_FETCH_RATE = 4  # fetches per host per politeness bucket


@register("web_fetch_schedule", f"""
    WITH u AS (
      SELECT doc_id, source || '.example' AS host,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                  AS BIGINT) AS pri
      FROM documents
    ),
    r AS (
      SELECT doc_id, host, pri,
             ROW_NUMBER() OVER (PARTITION BY host
                                ORDER BY pri, doc_id) AS rank
      FROM u
    )
    SELECT doc_id, host, CAST(rank AS BIGINT) AS rank,
           CAST((rank - 1) // {_FETCH_RATE} AS BIGINT) AS bucket,
           CAST((rank - 1) % {_FETCH_RATE} AS BIGINT) AS slot
    FROM r
    """)
def web_fetch_schedule(spark, sf_dir):
    """Politeness-aware crawl scheduling: every URL gets a (bucket, slot)
    so each host serves at most {_FETCH_RATE} fetches per time bucket —
    the frontier-scheduling shape every crawler needs. Rank within host
    comes from the distributed exact-rank operator (operators/rank.py,
    terasort decomposition), so a 10^9-url crawler-trap host ranks
    across bounded tasks instead of sorting in one window task; priority
    is the md5 of the url key (deterministic spread, re-run stable).
    bucket/slot are then row-local integer math on the exact rank."""
    from geoutils_spark.operators import rank as RK

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example")).alias("host"))
    pri = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")),
                    1, 12), 16, 10).cast("long")
    d = d.withColumn("pri", pri)
    ranked = RK.group_rank(d, ["host"], F.col("pri").cast("double"),
                           F.struct("pri", "doc_id"), n_bins=8)
    return ranked.select(
        "doc_id", "host", F.col("rank").cast("long").alias("rank"),
        ((F.col("rank") - 1) / _FETCH_RATE).cast("long").alias("bucket"),
        F.pmod(F.col("rank") - 1, F.lit(_FETCH_RATE)).cast("long")
        .alias("slot"))


from geoutils_spark.functions import geohash as GH  # noqa: E402


@register("geo_geohash_assign", f"""
    WITH pts AS (
      SELECT o_orderkey, {_LON} AS lon, {_LAT} AS lat FROM orders
    ),
    ax AS (
      SELECT o_orderkey,
             {GH.axis_x_sql('lon', 8)} AS x8, {GH.axis_y_sql('lat', 8)} AS y8
      FROM pts
    ),
    v AS (SELECT o_orderkey, {GH.value_sql('x8', 'y8')} AS v8 FROM ax)
    SELECT o_orderkey,
           {GH.geohash_from_v_sql('v8', 8)} AS gh8,
           substr({GH.geohash_from_v_sql('v8', 8)}, 1, 4) AS gh4
    FROM v
    """)
def geo_geohash_assign(spark, sf_dir):
    """Geohash assignment (functions/geohash.py): the base32 public-grid
    key completing the index-family coverage (Morton cells, TRUE S2,
    H3-style hexes, geohash). Pure bit math through the shared nibble-
    spread kernel; prefix nesting (gh4 == gh8[:4]) falls out of the
    MSB-first interleave, so the parent rollup is a substring, not a
    recompute. Oracle stages x/y/v in CTE columns (the spread macro
    expands its argument ~2^5 times) and replays the identical base32
    extraction. Pinned published goldens (u4pruydq, ezs4) in pytest."""
    df = _orders_points(spark, sf_dir)
    gh8 = GH.geohash_col(F.col("lon"), F.col("lat"), 8)
    return df.select("o_orderkey", gh8.alias("gh8"),
                     F.substring(gh8, 1, 4).alias("gh4"))


from geoutils_spark.operators import simplify as SIMP  # noqa: E402

_DP_TOL2 = 1.6e-05   # tol = 0.004 deg, squared once driver-side
_DP_DEPTH = 4

_DP_LINES_SQL = """
      SELECT w.way_id,
             list_transform(range(0, 24),
                            i -> CAST(i AS DOUBLE) * CAST(0.01 AS DOUBLE))
               AS xs,
             list_transform(range(0, 24),
                            i -> CAST((w.way_id + 1) * (i * i * 7 + i) % 11
                                      - 5 AS DOUBLE)
                                 * CAST(0.003 AS DOUBLE)) AS ys
      FROM (SELECT CAST(r.range AS BIGINT) AS way_id FROM range(60) r) w
"""


@register("geo_dp_simplify", f"""
    WITH lines AS ({_DP_LINES_SQL}),
    l0 AS (SELECT way_id, xs, ys,
                  [0, CAST(len(xs) - 1 AS BIGINT)] AS kept FROM lines),
    l1 AS (SELECT way_id, xs, ys,
                  {SIMP.dp_level_sql('kept', 'xs', 'ys', _DP_TOL2)} AS kept
           FROM l0),
    l2 AS (SELECT way_id, xs, ys,
                  {SIMP.dp_level_sql('kept', 'xs', 'ys', _DP_TOL2)} AS kept
           FROM l1),
    l3 AS (SELECT way_id, xs, ys,
                  {SIMP.dp_level_sql('kept', 'xs', 'ys', _DP_TOL2)} AS kept
           FROM l2),
    l4 AS (SELECT way_id, xs, ys,
                  {SIMP.dp_level_sql('kept', 'xs', 'ys', _DP_TOL2)} AS kept
           FROM l3)
    SELECT way_id,
           CAST(len(kept) AS INT) AS n_kept,
           array_to_string(kept, ',') AS kept_idx
    FROM l4
    """)
def geo_dp_simplify(spark, sf_dir):
    """Depth-bounded Douglas-Peucker (operators/simplify.py): the map-
    generalization stage for zoomed-out tiles. Depth 4 over synthetic
    zig-zag polylines (integer-derived, exact both dialects); the oracle
    unrolls the SAME four split levels as CTEs, so the full split
    TRAJECTORY (which vertex each chord splits at, ties to lowest index,
    threshold in cross^2 vs tol^2*seg^2 form — no sqrt/div drift) is
    hash-checked, not just the final count. Kernel is per-polyline numpy
    in an Arrow UDF: row-local, zero exchanges, worst case 2^depth
    splits per polyline."""
    i = None  # noqa: F841  (doc symmetry with the SQL synth)
    w = F.col("way_id")
    seq = F.sequence(F.lit(0), F.lit(23))
    xs = F.transform(seq, lambda j: j.cast("double") * F.lit(0.01))
    ys = F.transform(
        seq,
        lambda j: ((w + 1) * (j * j * 7 + j) % 11 - 5).cast("double")
        * F.lit(0.003))
    lines = spark.range(60).select(
        F.col("id").alias("way_id"), xs.alias("xs"), ys.alias("ys"))
    out = SIMP.simplify_polylines(lines, _DP_TOL2, _DP_DEPTH)
    return out.select("way_id", F.size("kept").alias("n_kept"),
                      F.array_join("kept", ",").alias("kept_idx"))


@register("geo_quadkey_assign", f"""
    WITH pts AS (
      SELECT o_orderkey, {_LON} AS lon, {_LAT} AS lat FROM orders
    ),
    t AS (
      SELECT o_orderkey,
             {C.tile_x_sql('lon', 14)} AS tx, {C.tile_y_sql('lat', 14)} AS ty
      FROM pts
    )
    SELECT o_orderkey,
           {C.quadkey_sql('tx', 'ty', 14)} AS qk14,
           substr({C.quadkey_sql('tx', 'ty', 14)}, 1, 11) AS qk11
    FROM t
    """)
def geo_quadkey_assign(spark, sf_dir):
    """Bing/Azure quadkeys (functions/cells.py quadkey_col): the base-4
    rendering of this engine's own Morton cell order (digit =
    y_bit<<1 | x_bit), so tile-URL interop costs one conv — no second
    index. Prefix nesting (qk11 == qk14[:11]) is a substring, like
    geohash parents. Oracle stages tile x/y then replays
    lpad(to_base(morton, 4))."""
    df = _orders_points(spark, sf_dir)
    qk = C.quadkey_col(F.col("lon"), F.col("lat"), 14)
    return df.select("o_orderkey", qk.alias("qk14"),
                     F.substring(qk, 1, 11).alias("qk11"))


from geoutils_spark.functions.geodesy import (  # noqa: E402
    spherical_area_col,
    spherical_area_sql,
)


@register("geo_spherical_area", f"""
    WITH grid AS ({_grid_sql()}),
    rings AS (
      SELECT way_id,
             [minx, maxx, maxx, minx] AS xs,
             [miny, miny, maxy, maxy] AS ys
      FROM grid
    )
    SELECT way_id,
           ROUND({spherical_area_sql('xs', 'ys')}, 6) AS area_m2
    FROM rings
    """)
def geo_spherical_area(spark, sf_dir):
    """Geodesic (spherical) polygon area via the Chamberlain-Duquette
    line integral (geodesy.spherical_area_col) — true ground-truth m^2
    for the fixture buildings, where the planar shoelace in degrees is
    distorted by cos(lat) ~ 0.62 at London. Exact for the fixtures'
    parallel/meridian edges; the edge sum is an explicit left fold in
    BOTH dialects so the IEEE addition order matches bit-for-bit.
    Row-local trig, zero exchanges."""
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    xs = F.transform(F.sequence(F.lit(0), F.lit(3)), lambda i: F.element_at(
        F.col("ring"), (i + 1).cast("int"))["lon"])
    ys = F.transform(F.sequence(F.lit(0), F.lit(3)), lambda i: F.element_at(
        F.col("ring"), (i + 1).cast("int"))["lat"])
    d = polys.select("way_id", xs.alias("xs"), ys.alias("ys"))
    return d.select(
        "way_id",
        F.round(spherical_area_col(F.col("xs"), F.col("ys")), 6)
        .alias("area_m2"))


from geoutils_spark.functions import blocks as BLK  # noqa: E402

_BOILER_HTML_SQL = """
      SELECT doc_id,
             '<div><a href="/h">home</a> <a href="/a">about</a> nav</div>'
             || '<p>' || text ||
             CASE WHEN doc_id % 4 = 0
                  THEN ' <a href="/ref">ref</a>' ELSE '' END || '</p>'
             || CASE WHEN doc_id % 3 = 0 THEN '<div>short</div>' ELSE '' END
             || '<footer><a href="/t">terms</a> <a href="/p">privacy</a>'
             || ' (c) site' || CAST(doc_id % 23 AS VARCHAR) || '</footer>'
               AS html
      FROM documents
"""


@register("web_main_content", f"""
    WITH pages AS ({_BOILER_HTML_SQL}),
    s AS (SELECT doc_id, {BLK.blocks_sql('html')} AS bl FROM pages)
    SELECT doc_id,
           CAST({BLK.block_stats_sqls('bl')['n_blocks']} AS INT) AS n_blocks,
           CAST({BLK.block_stats_sqls('bl')['n_kept']} AS INT) AS n_kept,
           CAST({BLK.block_stats_sqls('bl')['content_chars']} AS BIGINT)
             AS content_chars,
           md5({BLK.main_content_sql('bl')}) AS content_md5
    FROM s
    """)
def web_main_content(spark, sf_dir):
    """Main-content extraction (functions/blocks.py): link-density
    boilerplate removal — nav/footer link farms drop, article bodies
    survive (with an inline reference link allowed by the 1/5 density
    budget). Row-local block split + per-block integer density compare;
    the kept text is md5-checked byte-exact against the oracle's
    identical program. Complements (never touches) the versioned
    textextract invariant; at scale this is a zero-exchange projection
    ahead of the quality gates."""
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<div><a href="/h">home</a> <a href="/a">about</a> nav</div>'),
        F.lit("<p>"), F.col("text"),
        F.when(i % 4 == 0, F.lit(' <a href="/ref">ref</a>'))
        .otherwise(F.lit("")),
        F.lit("</p>"),
        F.when(i % 3 == 0, F.lit("<div>short</div>")).otherwise(F.lit("")),
        F.lit('<footer><a href="/t">terms</a> <a href="/p">privacy</a>'
              " (c) site"),
        (i % 23).cast("string"), F.lit("</footer>"))
    d = _t(spark, sf_dir, "documents").select("doc_id", html.alias("html"))
    st = BLK.block_stats_cols(F.col("html"))
    return d.select(
        "doc_id",
        st["n_blocks"].cast("int").alias("n_blocks"),
        st["n_kept"].cast("int").alias("n_kept"),
        st["content_chars"].cast("long").alias("content_chars"),
        F.md5(BLK.main_content_col(F.col("html")).cast("binary"))
        .alias("content_md5"))


from geoutils_spark.functions import pagemeta as PM  # noqa: E402

# deterministic <head> synth shared by spark/oracle sides: lang cycles
# (one uppercase to exercise lower()), charset alternates and is absent
# 1/11, title absent 1/7 (padded to exercise trim), og:title 1/3,
# description 1/2, canonical 1/4 (10x25 key space -> 5-way collapse
# groups among the multiples of 4), <h1> always present as the last
# cascade fallback.
_HEAD_SYNTH_SQL = """
      SELECT doc_id,
             '<html lang="'
             || CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'DE'
                ELSE 'fr' END
             || '"><head>'
             || CASE WHEN doc_id % 11 = 0 THEN ''
                     WHEN doc_id % 2 = 0 THEN '<META charset="UTF-8">'
                     ELSE '<meta charset="iso-8859-1">' END
             || CASE WHEN doc_id % 7 = 0 THEN ''
                     ELSE '<title> Doc ' || CAST(doc_id % 29 AS VARCHAR)
                          || ' </title>' END
             || CASE WHEN doc_id % 3 = 0
                     THEN '<meta property="og:title" content="OG '
                          || CAST(doc_id % 19 AS VARCHAR) || '">'
                     ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                     THEN '<meta name="description" content="d '
                          || CAST(doc_id % 17 AS VARCHAR) || '">'
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 0
                     THEN '<link rel="canonical" href="https://canon'
                          || CAST(doc_id % 10 AS VARCHAR) || '.example/p'
                          || CAST(doc_id % 25 AS VARCHAR) || '">'
                     ELSE '' END
             || '</head><body><h1>H1 ' || CAST(doc_id % 13 AS VARCHAR)
             || '</h1></body></html>' AS html
      FROM documents
"""


def _docs_with_head_html(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")

    def s(c):
        return c.cast("string")

    html = F.concat(
        F.lit('<html lang="'),
        F.when(i % 3 == 0, F.lit("en")).when(i % 3 == 1, F.lit("DE"))
        .otherwise(F.lit("fr")),
        F.lit('"><head>'),
        F.when(i % 11 == 0, F.lit(""))
        .when(i % 2 == 0, F.lit('<META charset="UTF-8">'))
        .otherwise(F.lit('<meta charset="iso-8859-1">')),
        F.when(i % 7 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("<title> Doc "), s(i % 29),
                            F.lit(" </title>"))),
        F.when(i % 3 == 0,
               F.concat(F.lit('<meta property="og:title" content="OG '),
                        s(i % 19), F.lit('">'))).otherwise(F.lit("")),
        F.when(i % 2 == 0,
               F.concat(F.lit('<meta name="description" content="d '),
                        s(i % 17), F.lit('">'))).otherwise(F.lit("")),
        F.when(i % 4 == 0,
               F.concat(F.lit('<link rel="canonical" href="https://canon'),
                        s(i % 10), F.lit(".example/p"), s(i % 25),
                        F.lit('">'))).otherwise(F.lit("")),
        F.lit("</head><body><h1>H1 "), s(i % 13),
        F.lit("</h1></body></html>"))
    return d.select("doc_id", html.alias("html"))


@register("web_page_metadata", f"""
    WITH pages AS ({_HEAD_SYNTH_SQL})
    SELECT doc_id,
           {PM.lang_sql('html')} AS lang,
           {PM.charset_sql('html')} AS charset,
           {PM.title_sql('html')} AS title,
           {PM.meta_content_sql('html', 'description')} AS description,
           {U.url_host_sql(PM.canonical_sql('html'))} AS canonical_host,
           {PM.display_title_sql('html')} AS display_title
    FROM pages
    """)
def web_page_metadata(spark, sf_dir):
    """HTML head-metadata extraction (functions/pagemeta.py): title /
    meta description / canonical URL / charset / lang plus the
    display-title cascade (og:title > <title> > first <h1> — the
    reference's name-priority idea, osm2assimp nameFromTags, re-expressed
    for pages). Pure regexp_extract codegen, zero exchanges — at 100 TB
    this is a free projection on the crawl scan that feeds language
    routing, decoder choice and canonical-URL dedup."""
    p = _docs_with_head_html(spark, sf_dir)
    h = F.col("html")
    return p.select(
        "doc_id",
        PM.lang_col(h).alias("lang"),
        PM.charset_col(h).alias("charset"),
        PM.title_col(h).alias("title"),
        PM.meta_content_col(h, "description").alias("description"),
        U.url_host_col(PM.canonical_col(h)).alias("canonical_host"),
        PM.display_title_col(h).alias("display_title"))


@register("web_canonical_dedup", f"""
    WITH pages AS ({_HEAD_SYNTH_SQL}),
    keyed AS (
      SELECT doc_id,
             CASE WHEN {PM.canonical_sql('html')} <> ''
                  THEN {PM.canonical_sql('html')}
                  ELSE 'https://self' || CAST(doc_id AS VARCHAR)
                       || '.example/' END AS ckey
      FROM pages
    )
    SELECT ckey, COUNT(*) AS n_dups, MIN(doc_id) AS keeper
    FROM keyed GROUP BY ckey HAVING COUNT(*) > 1
    """)
def web_canonical_dedup(spark, sf_dir):
    """Canonical-URL collapse — the dedup stage that kills print/AMP/
    session-id variants BEFORE any content hashing: pages declaring the
    same <link rel=canonical> form one group whose keeper is the lowest
    doc_id; pages without a canonical key to their own (unique) URL and
    never group. One hash-aggregate exchange keyed on the canonical
    string (ids only — page payloads never shuffle); the keeper set
    then semi-joins back onto the source scan exactly like
    exact-dedup's min-id keeper (operators/corpus.py)."""
    p = _docs_with_head_html(spark, sf_dir)
    ckey = PM.canonical_col(F.col("html"))
    keyed = p.select(
        "doc_id",
        F.when(ckey != "", ckey)
        .otherwise(F.concat(F.lit("https://self"),
                            F.col("doc_id").cast("string"),
                            F.lit(".example/"))).alias("ckey"))
    return (keyed.groupBy("ckey")
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.min("doc_id").alias("keeper"))
            .filter(F.col("n_dups") > 1))


@register("text_sentences", f"""
    WITH s AS (
      SELECT doc_id, {TA.sentences_sql('text')} AS sen FROM documents
    )
    SELECT doc_id,
           CAST(len(sen) AS INT) AS n_sent,
           CAST(list_aggregate(list_transform(sen, x -> len(x)), 'max')
                AS INT) AS max_chars,
           md5(sen[1]) AS first_md5
    FROM s
    """)
def text_sentences(spark, sf_dir):
    """Sentence segmentation (textanalysis.sentences_col): terminal
    punctuation + space boundaries rewritten to a BEL sentinel (RE2-safe
    — no lookbehind in either engine) then split; terminators kept,
    empties dropped. The unit the per-sentence dedup / repetition /
    readability family works on. Row-local codegen, zero exchanges;
    first sentence md5-checked byte-exact vs the oracle."""
    d = _t(spark, sf_dir, "documents")
    sen = TA.sentences_col(F.col("text"))
    return d.select(
        "doc_id",
        F.size(sen).cast("int").alias("n_sent"),
        F.array_max(F.transform(sen, F.length)).cast("int")
        .alias("max_chars"),
        F.md5(F.try_element_at(sen, F.lit(1)).cast("binary"))
        .alias("first_md5"))


@register("text_zipf_fit", f"""
    WITH t AS (
      SELECT UNNEST({TA.tokens_sql('text')}) AS term FROM documents
    ),
    c AS (
      SELECT term, COUNT(*) AS n FROM t WHERE term <> '' GROUP BY term
    ),
    top AS (
      SELECT term, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS rank
      FROM c QUALIFY rank <= 100
    ),
    packed AS (
      SELECT list(ln(CAST(rank AS DOUBLE)) ORDER BY rank) AS xs,
             list(ln(CAST(n AS DOUBLE)) ORDER BY rank) AS ys,
             list(ln(CAST(rank AS DOUBLE)) * ln(CAST(n AS DOUBLE))
                  ORDER BY rank) AS xy,
             list(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))
                  ORDER BY rank) AS xx
      FROM top
    ),
    s AS (
      SELECT CAST(len(xs) AS DOUBLE) AS k,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
                         (a, b) -> a + b) AS sx,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys),
                         (a, b) -> a + b) AS sy,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xy),
                         (a, b) -> a + b) AS sxy,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xx),
                         (a, b) -> a + b) AS sxx
      FROM packed
    )
    SELECT CAST(k AS INT) AS n_terms,
           ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k,
                 6) AS intercept
    FROM s
    """)
def text_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency power-law fit: log-log OLS slope over the top
    100 corpus terms (Zipf's law predicts ~ -1; a corpus whose slope
    drifts far off is boilerplate- or spam-skewed — a cheap corpus-level
    QUALITY diagnostic next to the per-doc gates). Plan: token explode ->
    map-side-combining count agg (the only corpus exchange, vocab-keyed)
    -> vocab-bounded top-100 -> all sums as EXPLICIT rank-ordered left
    folds (F.aggregate / list_reduce) so the IEEE addition order matches
    the oracle bit-for-bit — the chain-sum discipline."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(TA.tokens_col(F.col("text"))).alias("term")) \
        .filter(F.col("term") != "")
    counted = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    top = counted.withColumn("rank", F.row_number().over(w)) \
        .filter(F.col("rank") <= 100)
    packed = top.agg(
        F.sort_array(F.collect_list(F.struct("rank", "n"))).alias("rn"))

    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, b: a + b)

    rn = F.col("rn")
    lx = lambda e: F.log(e["rank"].cast("double"))       # noqa: E731
    ly = lambda e: F.log(e["n"].cast("double"))          # noqa: E731
    s = packed.select(
        F.size(rn).cast("double").alias("k"),
        fold(F.transform(rn, lx)).alias("sx"),
        fold(F.transform(rn, ly)).alias("sy"),
        fold(F.transform(rn, lambda e: lx(e) * ly(e))).alias("sxy"),
        fold(F.transform(rn, lambda e: lx(e) * lx(e))).alias("sxx"))
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return s.select(
        k.cast("int").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / k, 6).alias("intercept"))


_PSL_SUBSET = ["com", "org", "example", "co.uk", "ac.uk", "com.au", "uk"]

_PSL_HOST_SYNTH_SQL = """
      SELECT doc_id,
             CASE doc_id % 6
               WHEN 0 THEN 'site' || CAST(doc_id % 13 AS VARCHAR) || '.co.uk'
               WHEN 1 THEN 'sub' || CAST(doc_id % 7 AS VARCHAR) || '.site'
                           || CAST(doc_id % 13 AS VARCHAR) || '.com'
               WHEN 2 THEN 'x.y.site' || CAST(doc_id % 13 AS VARCHAR)
                           || '.com.au'
               WHEN 3 THEN 'site' || CAST(doc_id % 13 AS VARCHAR)
                           || '.example'
               WHEN 4 THEN 'co.uk'
               ELSE 'site' || CAST(doc_id % 13 AS VARCHAR) || '.test'
             END AS host
      FROM documents
"""


@register("web_registered_domain", f"""
    WITH psl(sfx) AS (
      SELECT * FROM (VALUES {", ".join(f"('{s}')" for s in _PSL_SUBSET)})
    ),
    hosts AS ({_PSL_HOST_SYNTH_SQL}),
    sufx AS (
      SELECT host, UNNEST({U.host_suffixes_sql('host')}) AS s
      FROM (SELECT DISTINCT host FROM hosts)
    ),
    best AS (
      SELECT host, s AS public_suffix FROM (
        SELECT host, s,
               ROW_NUMBER() OVER (PARTITION BY host
                                  ORDER BY len(s) DESC) AS rn
        FROM sufx JOIN psl ON s = sfx
      ) WHERE rn = 1
    ),
    rd AS (
      SELECT host, public_suffix,
             CASE WHEN len(string_split(host, '.'))
                       > len(string_split(public_suffix, '.'))
                  THEN array_to_string(
                    string_split(host, '.')[
                      -(len(string_split(public_suffix, '.')) + 1):], '.')
                  ELSE '' END AS registered_domain
      FROM best
    )
    SELECT doc_id, h.host, r.public_suffix, r.registered_domain
    FROM hosts h LEFT JOIN rd r USING (host)
    """)
def web_registered_domain(spark, sf_dir):
    """Registered domain under a real public-suffix TABLE
    (urls.registered_domain_join) — the dim-table upgrade of the
    two-label url_domain_col rule: 'site3.co.uk' resolves under the
    'co.uk' entry (the longest of its nested matches), a bare-suffix
    host gets domain '', hosts off the list get NULLs. Distinct-host
    explode + broadcast PSL equi-join (no endswith NestedLoop), max_by
    longest match, per-host join-back — two host-keyed exchanges, page
    payloads never move."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i, s = F.col("doc_id"), lambda c: c.cast("string")
    host = F.when(i % 6 == 0, F.concat(F.lit("site"), s(i % 13),
                                       F.lit(".co.uk"))) \
        .when(i % 6 == 1, F.concat(F.lit("sub"), s(i % 7), F.lit(".site"),
                                   s(i % 13), F.lit(".com"))) \
        .when(i % 6 == 2, F.concat(F.lit("x.y.site"), s(i % 13),
                                   F.lit(".com.au"))) \
        .when(i % 6 == 3, F.concat(F.lit("site"), s(i % 13),
                                   F.lit(".example"))) \
        .when(i % 6 == 4, F.lit("co.uk")) \
        .otherwise(F.concat(F.lit("site"), s(i % 13), F.lit(".test")))
    hosts = d.select("doc_id", host.alias("host"))
    psl = spark.createDataFrame([(x,) for x in _PSL_SUBSET], ["suffix"])
    return U.registered_domain_join(hosts, psl).select(
        "doc_id", "host", "public_suffix", "registered_domain")


@register("text_readability", f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(list_filter({TA.tokens_sql('text')}, t -> t <> ''))
                  AS DOUBLE) AS w,
             CAST(len({TA.sentences_sql('text')}) AS DOUBLE) AS se,
             CAST(len(regexp_extract_all(text, '[AEIOUYaeiouy]+'))
                  AS DOUBLE) AS sy
      FROM documents
    )
    SELECT doc_id, CAST(w AS INT) AS n_words, CAST(se AS INT) AS n_sents,
           CAST(sy AS INT) AS n_syllables,
           CASE WHEN w > 0 AND se > 0 THEN
             ROUND(CAST(206.835 AS DOUBLE)
                   - CAST(1.015 AS DOUBLE) * (w / se)
                   - CAST(84.6 AS DOUBLE) * (sy / w), 4)
           END AS flesch
    FROM s
    """)
def text_readability(spark, sf_dir):
    """Flesch reading-ease per document — the classic readability gate
    (a corpus member next to Gopher/quality/perplexity: filter or
    stratify by audience level). Syllables are the standard
    dependency-free proxy — vowel-run count — words are non-empty
    tokens, sentences come from textanalysis.sentences_col. Row-local
    codegen, zero exchanges; the formula's literal structure (two
    divisions, same order) is identical both dialects so round-4 doubles
    hash-exact."""
    d = _t(spark, sf_dir, "documents")
    w = F.size(F.filter(TA.tokens_col(F.col("text")),
                        lambda t: t != "")).cast("double")
    se = F.size(TA.sentences_col(F.col("text"))).cast("double")
    sy = F.regexp_count(
        F.col("text"), F.lit("[AEIOUYaeiouy]+")).cast("double")
    st = d.select("doc_id", w.alias("w"), se.alias("se"), sy.alias("sy"))
    w, se, sy = F.col("w"), F.col("se"), F.col("sy")
    fre = (F.lit(206.835).cast("double")
           - F.lit(1.015).cast("double") * (w / se)
           - F.lit(84.6).cast("double") * (sy / w))
    return st.select(
        "doc_id", w.cast("int").alias("n_words"),
        se.cast("int").alias("n_sents"), sy.cast("int").alias("n_syllables"),
        F.when((w > 0) & (se > 0), F.round(fre, 4)).alias("flesch"))


@register("text_vocab_growth", f"""
    WITH n AS (SELECT COUNT(*) AS nd FROM documents),
    t AS (
      SELECT CAST(FLOOR(doc_id * 10.0 / nd) AS INT) AS bin,
             UNNEST({TA.tokens_sql('text')}) AS term
      FROM documents, n
    ),
    tok AS (
      SELECT bin, COUNT(*) AS toks FROM t WHERE term <> '' GROUP BY bin
    ),
    firstb AS (
      SELECT term, MIN(bin) AS fb FROM t WHERE term <> '' GROUP BY term
    ),
    vox AS (SELECT fb AS bin, COUNT(*) AS vocab FROM firstb GROUP BY fb)
    SELECT tok.bin,
           SUM(toks) OVER (ORDER BY tok.bin) AS cum_tokens,
           SUM(COALESCE(vocab, 0)) OVER (ORDER BY tok.bin) AS cum_vocab
    FROM tok LEFT JOIN vox ON tok.bin = vox.bin
    """)
def text_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth curve: the corpus in 10 doc-id
    deciles, cumulative token count vs cumulative DISTINCT vocabulary —
    the sublinear V ~ k*N^b curve every tokenizer-training and
    dedup-sizing decision reads off. Distinct-vocab-over-a-prefix
    without any per-prefix rescan: a term's first-occurrence bin is a
    plain min() aggregation (map-side combining, term-keyed — the one
    corpus exchange), then the growth curve is a 10-row cumulative
    window. Integer-only output."""
    d = _t(spark, sf_dir, "documents")
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    t = d.crossJoin(F.broadcast(nd)).select(
        F.floor(F.col("doc_id") * 10.0 / F.col("nd")).cast("int").alias("bin"),
        F.explode(TA.tokens_col(F.col("text"))).alias("term")) \
        .filter(F.col("term") != "")
    tok = t.groupBy("bin").agg(F.count(F.lit(1)).alias("toks"))
    firstb = t.groupBy("term").agg(F.min("bin").alias("fb"))
    vox = firstb.groupBy(F.col("fb").alias("vbin")) \
        .agg(F.count(F.lit(1)).alias("vocab"))
    j = tok.join(vox, tok["bin"] == vox["vbin"], "left")
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "bin",
        F.sum("toks").over(w).alias("cum_tokens"),
        F.sum(F.coalesce(F.col("vocab"), F.lit(0))).over(w)
        .alias("cum_vocab"))


from geoutils_spark.functions import sitemap as SM  # noqa: E402

# deterministic sitemap synth shared by spark/oracle: 1/7 of docs are
# INDEX files (2 child sitemaps), the rest urlsets with 3 urls — the
# second url carries lastmod + priority, the third lastmod only.
_SITEMAP_SYNTH_SQL = """
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN
          '<?xml version="1.0"?><sitemapindex>'
          || '<sitemap><loc>https://h' || CAST(doc_id % 23 AS VARCHAR)
          || '.example/s1.xml</loc>'
          || '<lastmod>2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
          || '-01</lastmod></sitemap>'
          || '<sitemap><loc>https://h' || CAST(doc_id % 23 AS VARCHAR)
          || '.example/s2.xml</loc></sitemap>'
          || '</sitemapindex>'
        ELSE
          '<?xml version="1.0"?><urlset>'
          || '<url><loc> https://h' || CAST(doc_id % 23 AS VARCHAR)
          || '.example/p' || CAST(doc_id AS VARCHAR) || ' </loc></url>'
          || '<url><loc>https://h' || CAST(doc_id % 23 AS VARCHAR)
          || '.example/q' || CAST(doc_id AS VARCHAR) || '</loc>'
          || '<lastmod>2024-1' || CAST(doc_id % 2 AS VARCHAR)
          || '-15</lastmod>'
          || '<priority>0.' || CAST(doc_id % 10 AS VARCHAR)
          || '</priority></url>'
          || '<url><loc>https://h' || CAST((doc_id * 3) % 23 AS VARCHAR)
          || '.example/r</loc><lastmod>2023-0'
          || CAST(doc_id % 9 + 1 AS VARCHAR) || '-20</lastmod></url>'
          || '</urlset>'
        END AS xml
      FROM documents
"""


def _docs_with_sitemaps(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i, s = F.col("doc_id"), lambda c: c.cast("string")
    idx = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex>'
              "<sitemap><loc>https://h"), s(i % 23),
        F.lit(".example/s1.xml</loc><lastmod>2024-0"), s(i % 9 + 1),
        F.lit("-01</lastmod></sitemap><sitemap><loc>https://h"), s(i % 23),
        F.lit(".example/s2.xml</loc></sitemap></sitemapindex>"))
    uset = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'
              "<url><loc> https://h"), s(i % 23),
        F.lit(".example/p"), s(i), F.lit(" </loc></url>"
                                         "<url><loc>https://h"), s(i % 23),
        F.lit(".example/q"), s(i), F.lit("</loc><lastmod>2024-1"), s(i % 2),
        F.lit("-15</lastmod><priority>0."), s(i % 10),
        F.lit("</priority></url><url><loc>https://h"), s((i * 3) % 23),
        F.lit(".example/r</loc><lastmod>2023-0"), s(i % 9 + 1),
        F.lit("-20</lastmod></url></urlset>"))
    xml = F.when(i % 7 == 0, idx).otherwise(uset)
    return d.select("doc_id", xml.alias("xml"))


@register("web_sitemap_urls", f"""
    WITH sm AS ({_SITEMAP_SYNTH_SQL}),
    e AS (
      SELECT doc_id,
             CASE WHEN {SM.is_index_sql('xml')} THEN 'sitemap'
                  ELSE 'url' END AS kind,
             UNNEST({SM.entry_blocks_sql('xml')}) AS block
      FROM sm
    )
    SELECT doc_id, kind,
           {SM.loc_sql('block')} AS loc,
           {SM.lastmod_sql('block')} AS lastmod,
           {SM.priority_sql('block')} AS priority
    FROM e
    """)
def web_sitemap_urls(spark, sf_dir):
    """Sitemap parsing (functions/sitemap.py) — the crawl-discovery
    on-ramp: urlset files yield page URLs with lastmod/priority recrawl
    hints, sitemapindex files yield child sitemaps to fetch (kind
    column routes them back to the frontier). Entry blocks + fields are
    shared-literal regexps ((?s) non-greedy — identical RE2/Java);
    the explode carries (doc_id, block) only. Feeds web_fetch_schedule
    and the recrawl scheduler's lastmod deltas."""
    p = _docs_with_sitemaps(spark, sf_dir)
    e = p.select(
        "doc_id",
        F.when(SM.is_index_col(F.col("xml")), F.lit("sitemap"))
        .otherwise(F.lit("url")).alias("kind"),
        F.explode(SM.entry_blocks_col(F.col("xml"))).alias("block"))
    b = F.col("block")
    return e.select(
        "doc_id", "kind",
        SM.loc_col(b).alias("loc"),
        SM.lastmod_col(b).alias("lastmod"),
        SM.priority_col(b).alias("priority"))


from geoutils_spark.functions import httphead as HH  # noqa: E402

# deterministic HTTP response-block synth (the WARC payload shape,
# sources/warc.py): status cycles 200/301/404, 301s carry Location,
# content-type alternates html-with-charset / json / bare html,
# header-name case varies to exercise (?im).
_HTTP_SYNTH_SQL = r"""
      SELECT doc_id,
        'HTTP/1.1 '
        || CASE doc_id % 5 WHEN 3 THEN '301 Moved Permanently'
                           WHEN 4 THEN '404 Not Found'
                           ELSE '200 OK' END
        || chr(13) || chr(10)
        || CASE WHEN doc_id % 3 = 0
                THEN 'Content-Type: text/HTML; charset=UTF-8'
                WHEN doc_id % 3 = 1
                THEN 'content-type: application/json'
                ELSE 'CONTENT-TYPE: text/html' END
        || chr(13) || chr(10)
        || CASE WHEN doc_id % 5 = 3
                THEN 'Location: https://h' || CAST(doc_id % 23 AS VARCHAR)
                     || '.example/moved' || chr(13) || chr(10)
                ELSE '' END
        || 'Server: srv' || CAST(doc_id % 4 AS VARCHAR)
        || chr(13) || chr(10) || chr(13) || chr(10)
        || '<html>body</html>' AS http
      FROM documents
"""


def _docs_with_http(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i, s = F.col("doc_id"), lambda c: c.cast("string")
    crlf = "\r\n"
    http = F.concat(
        F.lit("HTTP/1.1 "),
        F.when(i % 5 == 3, F.lit("301 Moved Permanently"))
        .when(i % 5 == 4, F.lit("404 Not Found")).otherwise(F.lit("200 OK")),
        F.lit(crlf),
        F.when(i % 3 == 0, F.lit("Content-Type: text/HTML; charset=UTF-8"))
        .when(i % 3 == 1, F.lit("content-type: application/json"))
        .otherwise(F.lit("CONTENT-TYPE: text/html")),
        F.lit(crlf),
        F.when(i % 5 == 3,
               F.concat(F.lit("Location: https://h"), s(i % 23),
                        F.lit(".example/moved" + crlf)))
        .otherwise(F.lit("")),
        F.lit("Server: srv"), s(i % 4),
        F.lit(crlf + crlf + "<html>body</html>"))
    return d.select("doc_id", http.alias("http"))


@register("web_http_headers", f"""
    WITH r AS ({_HTTP_SYNTH_SQL})
    SELECT doc_id,
           {HH.status_sql('http')} AS status,
           {HH.content_type_sql('http')} AS content_type,
           {HH.charset_param_sql('http')} AS charset,
           {HH.header_sql('http', 'location')} AS location,
           {HH.header_sql('http', 'server')} AS server
    FROM r
    """)
def web_http_headers(spark, sf_dir):
    """HTTP response-header parsing (functions/httphead.py) over the
    raw blocks the WARC source carries: status routes (2xx keep / 3xx
    Location back to the frontier / 4xx drop), Content-Type gates the
    parser, its charset parameter is the decoder cascade's first layer
    (pagemeta's <meta charset> is the in-body fallback). (?im)
    shared-literal regexps, case-insensitive header names per RFC 9110;
    row-local codegen, zero exchanges."""
    p = _docs_with_http(spark, sf_dir)
    h = F.col("http")
    return p.select(
        "doc_id",
        HH.status_col(h).alias("status"),
        HH.content_type_col(h).alias("content_type"),
        HH.charset_param_col(h).alias("charset"),
        HH.header_col(h, "location").alias("location"),
        HH.header_col(h, "server").alias("server"))


_LANG_FUSION_SYNTH_SQL = """
      SELECT doc_id, text,
             CASE WHEN doc_id % 3 = 0 THEN
               '<html lang="' || CASE doc_id % 4 WHEN 0 THEN 'de-AT'
                 WHEN 1 THEN 'fr' WHEN 2 THEN 'EN-GB' ELSE 'pt-BR' END
               || '"><body>x</body></html>'
             ELSE '<html><body>x</body></html>' END AS html,
             'site' || CAST(doc_id % 17 AS VARCHAR) ||
             CASE doc_id % 5 WHEN 0 THEN '.de' WHEN 1 THEN '.fr'
               WHEN 2 THEN '.com' WHEN 3 THEN '.org' ELSE '.co.uk' END
               AS host
      FROM documents
"""

_TLD_PRIOR = {"de": "de", "fr": "fr"}


@register("web_language_fusion", f"""
    WITH p AS ({_LANG_FUSION_SYNTH_SQL}),
    f AS (
      SELECT doc_id,
             lower(regexp_extract({PM.lang_sql('html')}, '^([A-Za-z]+)', 1))
               AS attr_lang,
             {TA.langid_sql(TA.tokens_sql('text'))} AS content_lang,
             {U.url_tld_sql('host')} AS tld
      FROM p
    )
    SELECT doc_id, attr_lang, content_lang, tld,
           CASE WHEN attr_lang <> '' THEN attr_lang
                WHEN content_lang <> 'und' THEN content_lang
                WHEN tld = 'de' THEN 'de' WHEN tld = 'fr' THEN 'fr'
                ELSE 'und' END AS lang_final,
           CASE WHEN attr_lang <> '' THEN 'attr'
                WHEN content_lang <> 'und' THEN 'content'
                WHEN tld IN ('de', 'fr') THEN 'tld'
                ELSE 'none' END AS decided_by
    FROM f
    """)
def web_language_fusion(spark, sf_dir):
    """Language-decision fusion — the cascade a real pipeline runs
    before routing documents to per-language corpora: the page's own
    declaration (html lang primary subtag, pagemeta) wins when present,
    else content n-gram/stopword langid (textanalysis), else a ccTLD
    prior, else 'und'; ``decided_by`` records the deciding layer for
    audit. Pure composition of three existing shared-literal builders —
    row-local codegen, zero exchanges."""
    p_ = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i, s = F.col("doc_id"), lambda c: c.cast("string")
    html = F.when(i % 3 == 0, F.concat(
        F.lit('<html lang="'),
        F.when(i % 4 == 0, F.lit("de-AT")).when(i % 4 == 1, F.lit("fr"))
        .when(i % 4 == 2, F.lit("EN-GB")).otherwise(F.lit("pt-BR")),
        F.lit('"><body>x</body></html>'))) \
        .otherwise(F.lit("<html><body>x</body></html>"))
    host = F.concat(F.lit("site"), s(i % 17),
                    F.when(i % 5 == 0, F.lit(".de"))
                    .when(i % 5 == 1, F.lit(".fr"))
                    .when(i % 5 == 2, F.lit(".com"))
                    .when(i % 5 == 3, F.lit(".org"))
                    .otherwise(F.lit(".co.uk")))
    d = p_.select("doc_id", "text", html.alias("html"), host.alias("host"))
    attr = F.lower(F.regexp_extract(PM.lang_col(F.col("html")),
                                    "^([A-Za-z]+)", 1))
    content = TA.langid_col(TA.tokens_col(F.col("text")))
    tld = U.url_tld_col(F.col("host"))
    f_ = d.select("doc_id", attr.alias("attr_lang"),
                  content.alias("content_lang"), tld.alias("tld"))
    a, c, t = F.col("attr_lang"), F.col("content_lang"), F.col("tld")
    final = F.when(a != "", a).when(c != "und", c)
    for k, v in _TLD_PRIOR.items():
        final = final.when(t == k, F.lit(v))
    return f_.select(
        "doc_id", "attr_lang", "content_lang", "tld",
        final.otherwise(F.lit("und")).alias("lang_final"),
        F.when(a != "", F.lit("attr")).when(c != "und", F.lit("content"))
        .when(t.isin(*_TLD_PRIOR), F.lit("tld")).otherwise(F.lit("none"))
        .alias("decided_by"))


_PUBDATE_SYNTH_SQL = """
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN
          '<html><head><meta property="article:published_time" '
          || 'content="2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
          || '-1' || CAST(doc_id % 10 AS VARCHAR)
          || 'T08:30:00Z"></head><body>x</body></html>'
        WHEN doc_id % 4 = 1 THEN
          '<html><body><time datetime="2023-1' || CAST(doc_id % 2 AS VARCHAR)
          || '-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
          || '">then</time></body></html>'
        ELSE '<html><body>no dates</body></html>' END AS html,
        CASE WHEN doc_id % 4 = 2 THEN
          'https://h' || CAST(doc_id % 23 AS VARCHAR) || '.example/blog/202'
          || CAST(doc_id % 10 AS VARCHAR) || '/0' || CAST(doc_id % 9 + 1
          AS VARCHAR) || '/2' || CAST(doc_id % 10 AS VARCHAR) || '/post'
        ELSE 'https://h' || CAST(doc_id % 23 AS VARCHAR)
             || '.example/p' || CAST(doc_id AS VARCHAR) END AS url
      FROM documents
"""


@register("web_publish_date", f"""
    WITH p AS ({_PUBDATE_SYNTH_SQL})
    SELECT doc_id,
           {PM.publish_date_sql('html', 'url')} AS pub_date,
           CASE WHEN {PM.og_content_sql('html', 'article:published_time')}
                     <> '' THEN 'meta'
                WHEN {PM.time_datetime_sql('html')} <> '' THEN 'time'
                WHEN {PM.url_date_sql('url')} <> '' THEN 'url'
                ELSE 'none' END AS date_src
    FROM p
    """)
def web_publish_date(spark, sf_dir):
    """Publish-date extraction cascade (functions/pagemeta.py, the
    trafilatura-style recipe): og article:published_time > <time
    datetime> > /YYYY/MM/DD/ URL path, normalized to yyyy-mm-dd, ''
    when all absent — the freshness field recency-weighted sampling and
    dataset cutoff filtering key on. Row-local regexp codegen, zero
    exchanges; date_src audits the deciding layer."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i, s = F.col("doc_id"), lambda c: c.cast("string")
    html = F.when(i % 4 == 0, F.concat(
        F.lit('<html><head><meta property="article:published_time" '
              'content="2024-0'), s(i % 9 + 1), F.lit("-1"), s(i % 10),
        F.lit('T08:30:00Z"></head><body>x</body></html>'))) \
        .when(i % 4 == 1, F.concat(
            F.lit('<html><body><time datetime="2023-1'), s(i % 2),
            F.lit("-0"), s(i % 9 + 1),
            F.lit('">then</time></body></html>'))) \
        .otherwise(F.lit("<html><body>no dates</body></html>"))
    url = F.when(i % 4 == 2, F.concat(
        F.lit("https://h"), s(i % 23), F.lit(".example/blog/202"),
        s(i % 10), F.lit("/0"), s(i % 9 + 1), F.lit("/2"), s(i % 10),
        F.lit("/post"))) \
        .otherwise(F.concat(F.lit("https://h"), s(i % 23),
                            F.lit(".example/p"), s(i)))
    p_ = d.select("doc_id", html.alias("html"), url.alias("url"))
    h, u = F.col("html"), F.col("url")
    return p_.select(
        "doc_id",
        PM.publish_date_col(h, u).alias("pub_date"),
        F.when(PM.og_content_col(h, "article:published_time") != "",
               F.lit("meta"))
        .when(PM.time_datetime_col(h) != "", F.lit("time"))
        .when(PM.url_date_col(u) != "", F.lit("url"))
        .otherwise(F.lit("none")).alias("date_src"))


_SCRIPT_SYNTH_SQL = """
      SELECT doc_id,
             text || CASE doc_id % 5
               WHEN 1 THEN ' привет мир космос'
               WHEN 2 THEN ' 你好世界数据'
               WHEN 3 THEN ' مرحبا بالعالم'
               WHEN 4 THEN ' γεια σου κόσμε'
               ELSE '' END AS text
      FROM documents
"""


@register("text_script_profile", f"""
    WITH p AS ({_SCRIPT_SYNTH_SQL})
    SELECT doc_id,
           {TA.script_count_sql('text', 'Latin')} AS n_latin,
           {TA.script_count_sql('text', 'Cyrillic')} AS n_cyrillic,
           {TA.script_count_sql('text', 'Han')} AS n_han,
           {TA.script_count_sql('text', 'Arabic')} AS n_arabic,
           {TA.script_count_sql('text', 'Greek')} AS n_greek,
           {TA.dominant_script_sql('text')} AS dominant
    FROM p
    """)
def text_script_profile(spark, sf_dir):
    """Unicode-script character profile + dominant script — the
    multilingual router's first cut (script gates which langid /
    tokenizer family even applies; Latin-only stopword langid is blind
    to CJK). Per-script counts via Unicode script properties — the one
    documented shared-literal bend: Java spells \\p{{IsCyrillic}}, RE2
    \\p{{Cyrillic}}, same property, parity-pinned. Row-local codegen,
    zero exchanges."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    text = F.concat(F.col("text"),
                    F.when(i % 5 == 1, F.lit(" привет мир космос"))
                    .when(i % 5 == 2, F.lit(" 你好世界数据"))
                    .when(i % 5 == 3, F.lit(" مرحبا بالعالم"))
                    .when(i % 5 == 4, F.lit(" γεια σου κόσμε"))
                    .otherwise(F.lit("")))
    p_ = d.select("doc_id", text.alias("text"))
    t = F.col("text")
    return p_.select(
        "doc_id",
        TA.script_count_col(t, "Latin").alias("n_latin"),
        TA.script_count_col(t, "Cyrillic").alias("n_cyrillic"),
        TA.script_count_col(t, "Han").alias("n_han"),
        TA.script_count_col(t, "Arabic").alias("n_arabic"),
        TA.script_count_col(t, "Greek").alias("n_greek"),
        TA.dominant_script_col(t).alias("dominant"))


_HYGIENE_SYNTH_SQL = """
      SELECT doc_id,
        '<html><head>'
        || CASE WHEN doc_id % 5 = 0
                THEN '<meta name="robots" content="noindex, nofollow">'
                WHEN doc_id % 5 = 1
                THEN '<meta name="robots" content="NOFOLLOW">'
                ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN '<title>404 Not Found</title>'
                WHEN doc_id % 7 = 1 THEN '<title>Page not found</title>'
                ELSE '<title>Doc ' || CAST(doc_id AS VARCHAR)
                     || '</title>' END
        || '</head><body>'
        || CASE WHEN doc_id % 11 = 0
                THEN 'The page you requested does not exist.'
                ELSE text END
        || '</body></html>' AS html
      FROM documents
"""


@register("web_crawl_hygiene", f"""
    WITH p AS ({_HYGIENE_SYNTH_SQL}),
    f AS (
      SELECT doc_id,
             lower({PM.meta_content_sql('html', 'robots')}) AS robots,
             lower({PM.title_sql('html')}) AS t,
             html
      FROM p
    )
    SELECT doc_id,
           (robots LIKE '%noindex%') AS noindex,
           (robots LIKE '%nofollow%') AS nofollow,
           (t LIKE '%404%' OR t LIKE '%not found%'
            OR html LIKE '%does not exist%') AS soft404,
           NOT ((robots LIKE '%noindex%') OR t LIKE '%404%'
                OR t LIKE '%not found%'
                OR html LIKE '%does not exist%') AS keep
    FROM f
    """)
def web_crawl_hygiene(spark, sf_dir):
    """Crawl-hygiene gates: the robots META tag (page-level opt-out the
    crawler must honor — the in-page complement of the robots.txt host
    gate) and soft-404 detection (200-status pages whose title/body say
    404 / not found / does not exist — the error pages that pollute a
    corpus because HTTP status lied). Row-local codegen over the scan;
    ``keep`` is the fused corpus-prep predicate."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i, s = F.col("doc_id"), lambda c: c.cast("string")
    html = F.concat(
        F.lit("<html><head>"),
        F.when(i % 5 == 0,
               F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(i % 5 == 1, F.lit('<meta name="robots" content="NOFOLLOW">'))
        .otherwise(F.lit("")),
        F.when(i % 7 == 0, F.lit("<title>404 Not Found</title>"))
        .when(i % 7 == 1, F.lit("<title>Page not found</title>"))
        .otherwise(F.concat(F.lit("<title>Doc "), s(i), F.lit("</title>"))),
        F.lit("</head><body>"),
        F.when(i % 11 == 0, F.lit("The page you requested does not exist."))
        .otherwise(F.col("text")),
        F.lit("</body></html>"))
    p_ = d.select("doc_id", html.alias("html"))
    robots = F.lower(PM.meta_content_col(F.col("html"), "robots"))
    t = F.lower(PM.title_col(F.col("html")))
    noindex = robots.contains("noindex")
    nofollow = robots.contains("nofollow")
    soft = (t.contains("404") | t.contains("not found")
            | F.col("html").contains("does not exist"))
    return p_.select(
        "doc_id", noindex.alias("noindex"), nofollow.alias("nofollow"),
        soft.alias("soft404"), (~(noindex | soft)).alias("keep"))


_OUTLINK_SYNTH_SQL = """
      SELECT doc_id,
             'site' || CAST(doc_id % 23 AS VARCHAR) || '.example' AS host,
             '<html><body>'
             || '<a href="/internal' || CAST(doc_id % 5 AS VARCHAR)
             || '">a</a>'
             || '<a href="https://site' || CAST((doc_id * 3 + 1) % 23
                AS VARCHAR) || '.example/x">b</a>'
             || CASE WHEN doc_id % 3 = 0
                THEN '<a rel="nofollow" href="https://spam'
                     || CAST(doc_id % 7 AS VARCHAR)
                     || '.example/z">c</a>' ELSE '' END
             || CASE WHEN doc_id % 4 = 0
                THEN '<a href="https://site' || CAST(doc_id % 23 AS VARCHAR)
                     || '.example/self">d</a>' ELSE '' END
             || '</body></html>' AS html
      FROM documents
"""

_NOFOLLOW_RE = r'(?i)<a\s[^>]*rel="nofollow"'


@register("web_outlink_features", f"""
    WITH p AS ({_OUTLINK_SYNTH_SQL}),
    l AS (
      SELECT doc_id, host,
             {LK.extract_hrefs_sql('html')} AS links,
             CAST(len(regexp_extract_all(html, '{_NOFOLLOW_RE}'))
                  AS INT) AS n_nofollow
      FROM p
    ),
    r AS (
      SELECT doc_id, host, n_nofollow, len(links) AS n_links,
             list_transform(links,
                            x -> {LK.resolve_host_sql('x', 'host')}) AS dsts
      FROM l
    )
    SELECT doc_id, CAST(n_links AS INT) AS n_links, n_nofollow,
           CAST(len(list_filter(dsts, d -> d = host)) AS INT) AS n_internal,
           CAST(len(list_filter(dsts, d -> d <> '' AND d <> host))
                AS INT) AS n_external,
           CAST(len(list_distinct(list_filter(dsts,
                d -> d <> '' AND d <> host))) AS INT) AS n_ext_hosts
    FROM r
    """)
def web_outlink_features(spark, sf_dir):
    """Per-page outlink features — the link-side spam/quality block
    (SEO link farms: high external fan-out to many hosts, heavy
    nofollow): total links, nofollow count, internal vs external split,
    distinct external hosts. Composes links.extract_hrefs/resolve_host
    inside row-local HOFs — no explode, no exchange; at 100 TB these are
    free columns on the crawl scan feeding the quality classifier."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i, s = F.col("doc_id"), lambda c: c.cast("string")
    host = F.concat(F.lit("site"), s(i % 23), F.lit(".example"))
    html = F.concat(
        F.lit('<html><body><a href="/internal'), s(i % 5), F.lit('">a</a>'),
        F.lit('<a href="https://site'), s((i * 3 + 1) % 23),
        F.lit('.example/x">b</a>'),
        F.when(i % 3 == 0,
               F.concat(F.lit('<a rel="nofollow" href="https://spam'),
                        s(i % 7), F.lit('.example/z">c</a>')))
        .otherwise(F.lit("")),
        F.when(i % 4 == 0,
               F.concat(F.lit('<a href="https://site'), s(i % 23),
                        F.lit('.example/self">d</a>')))
        .otherwise(F.lit("")),
        F.lit("</body></html>"))
    p_ = d.select("doc_id", host.alias("host"), html.alias("html"))
    links = LK.extract_hrefs_col(F.col("html"))
    dsts = F.transform(links,
                       lambda x: LK.resolve_host_col(x, F.col("host")))
    ext = F.filter(dsts, lambda x: (x != "") & (x != F.col("host")))
    return p_.select(
        "doc_id",
        F.size(links).cast("int").alias("n_links"),
        F.regexp_count(F.col("html"), F.lit(_NOFOLLOW_RE)).cast("int")
        .alias("n_nofollow"),
        F.size(F.filter(dsts, lambda x: x == F.col("host"))).cast("int")
        .alias("n_internal"),
        F.size(ext).cast("int").alias("n_external"),
        F.size(F.array_distinct(ext)).cast("int").alias("n_ext_hosts"))


_REDIRECT_EDGES_SQL = """
      SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
             'u' || CAST(doc_id + 1 AS VARCHAR) AS dst
      FROM documents WHERE doc_id % 4 < 3
      UNION ALL
      SELECT 'u' || CAST(doc_id AS VARCHAR),
             'u' || CAST(doc_id - 1 AS VARCHAR)
      FROM documents WHERE doc_id % 40 = 3
"""


@register("web_redirect_resolve", f"""
    WITH e AS ({_REDIRECT_EDGES_SQL}),
    m0 AS (SELECT src AS u, dst AS f, CAST(1 AS BIGINT) AS hops FROM e),
    m1 AS (
      SELECT a.u, COALESCE(b.f, a.f) AS f,
             a.hops + COALESCE(b.hops, 0) AS hops
      FROM m0 a LEFT JOIN m0 b ON a.f = b.u
    ),
    m2 AS (
      SELECT a.u, COALESCE(b.f, a.f) AS f,
             a.hops + COALESCE(b.hops, 0) AS hops
      FROM m1 a LEFT JOIN m1 b ON a.f = b.u
    ),
    s AS (SELECT DISTINCT src AS u2 FROM e)
    SELECT m2.u AS src, m2.f AS final, m2.hops,
           (s.u2 IS NOT NULL) AS unresolved
    FROM m2 LEFT JOIN s ON m2.f = s.u2
    """)
def web_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution (operators/redirects.py): 3xx Location
    edges followed to their terminal URL by pointer DOUBLING — r rounds
    cover 2^r hops in r redirect-bounded exchanges (the closure-loop
    discipline), with redirect LOOPS flagged unresolved instead of
    iterating forever. The oracle unrolls the SAME two doubling rounds
    as chained CTEs, so the whole resolution trajectory (finals + hop
    sums, including in-cycle hop arithmetic) is checked, not just the
    fixed point. Fixture: chains of 3 per 4-doc group plus a planted
    2-cycle every 10th group."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i, s = F.col("doc_id"), lambda c: c.cast("string")
    fwd = d.filter(i % 4 < 3).select(
        F.concat(F.lit("u"), s(i)).alias("src"),
        F.concat(F.lit("u"), s(i + 1)).alias("dst"))
    loop = d.filter(i % 40 == 3).select(
        F.concat(F.lit("u"), s(i)).alias("src"),
        F.concat(F.lit("u"), s(i - 1)).alias("dst"))
    from geoutils_spark.operators.redirects import resolve_redirects
    return resolve_redirects(fwd.unionAll(loop), rounds=2)


@register("geo_ring_perimeter", f"""
    WITH grid AS ({_grid_sql()}),
    rings AS (
      SELECT way_id,
             [minx, maxx, maxx, minx] AS xs,
             [miny, miny, maxy, maxy] AS ys
      FROM grid
    )
    SELECT way_id,
           ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, len(xs) + 1), i ->
               {haversine_m_sql('xs[i]', 'ys[i]',
                                    'xs[(i % len(xs)) + 1]',
                                    'ys[(i % len(xs)) + 1]')})),
             (acc, t) -> acc + t), 6) AS perimeter_m
    FROM rings
    """)
def geo_ring_perimeter(spark, sf_dir):
    """Geodesic ring perimeter (ST_Perimeter/ST_Length) — haversine edge
    lengths summed as an explicit VERTEX-ORDERED left fold in both
    dialects (the chain-sum discipline, same shape as
    geo_spherical_area), closing edge included. Row-local trig, zero
    exchanges; at 100 TB a free projection on the geometry scan."""
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    xs = F.transform(F.sequence(F.lit(0), F.lit(3)), lambda i: F.element_at(
        F.col("ring"), (i + 1).cast("int"))["lon"])
    ys = F.transform(F.sequence(F.lit(0), F.lit(3)), lambda i: F.element_at(
        F.col("ring"), (i + 1).cast("int"))["lat"])
    d = polys.select("way_id", xs.alias("xs"), ys.alias("ys"))
    n = F.size(F.col("xs"))
    edges = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: haversine_m_col(
            F.element_at(F.col("xs"), i.cast("int")),
            F.element_at(F.col("ys"), i.cast("int")),
            F.element_at(F.col("xs"), ((i % n) + 1).cast("int")),
            F.element_at(F.col("ys"), ((i % n) + 1).cast("int"))))
    per = F.aggregate(edges, F.lit(0.0), lambda a, b: a + b)
    return d.select("way_id", F.round(per, 6).alias("perimeter_m"))


@register("text_heavy_hitters", f"""
    WITH t AS (
      SELECT UNNEST({TA.tokens_sql('text')}) AS term FROM documents
    ),
    nz AS (SELECT term FROM t WHERE term <> ''),
    n AS (SELECT COUNT(*) AS total FROM nz)
    SELECT term, COUNT(*) AS n
    FROM nz, n GROUP BY term, total
    HAVING COUNT(*) * 200 >= 1 * total
    """)
def text_heavy_hitters(spark, sf_dir):
    """Deterministic heavy hitters (operators/heavyhitters.py):
    Misra-Gries candidates per partition (bounded state, pigeonhole-
    complete — no vocab-wide shuffle even at URL-scale cardinality) +
    an exact candidate-bounded verification pass; threshold eps=1/200
    applied as integer math. The oracle is the PLAIN exact GROUP BY
    HAVING — the two must agree exactly BECAUSE the MG candidate set
    provably contains every eps-heavy item; hash-equality here checks
    the completeness guarantee itself."""
    from geoutils_spark.operators.heavyhitters import heavy_hitters
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(TA.tokens_col(F.col("text"))).alias("term")) \
        .filter(F.col("term") != "")
    return heavy_hitters(toks, "term", 1, 200)



# ---------------------------------------------------------------------------
# r5 finals: direct geodesic, cell k-ring, winnowing fingerprints
# ---------------------------------------------------------------------------

from geoutils_spark.functions.geodesy import destination_sql  # noqa: E402

_DEST_BRG = "CAST((doc_id * 7) % 360 AS DOUBLE)"
_DEST_DIST = "CAST(500 + doc_id % 5000 AS DOUBLE)"
_DEST_LON, _DEST_LAT = destination_sql(_DLON, _DLAT, _DEST_BRG, _DEST_DIST)


@register("geo_destination_point", f"""
    SELECT doc_id,
           ROUND({_DEST_LON}, 6) AS dest_lon,
           ROUND({_DEST_LAT}, 6) AS dest_lat
    FROM documents
    """)
def geo_destination_point(spark, sf_dir):
    """Spherical direct geodesic (destination point from bearing +
    distance — the inverse of F6/F7's haversine/bearing pair, reference
    eigenconversion.cpp:133-160): pure Catalyst trig, zero exchanges, a
    free projection on the point scan at any scale. Bearing/distance
    derive from doc_id by integer arithmetic so both dialects compute on
    identical inputs; the SQL twin mirrors the Column tree subexpression-
    for-subexpression (sin phi2 inlined where the tree reuses the node),
    so unrounded doubles already agree bit-for-bit."""
    from geoutils_spark.functions.geodesy import destination_col
    pts = _documents_points(spark, sf_dir)
    brg = ((F.col("doc_id") * 7) % 360).cast("double")
    dist = (F.lit(500) + F.col("doc_id") % 5000).cast("double")
    lon2, lat2 = destination_col(F.col("lon"), F.col("lat"), brg, dist)
    return pts.select(
        "doc_id",
        F.round(lon2, 6).alias("dest_lon"),
        F.round(lat2, 6).alias("dest_lat"))


_KR_N = 1 << 12  # level-12 tile grid width


def _kring_case_sql(dx: int, dy: int) -> str:
    wrapped = f"(((tx + {dx}) % {_KR_N} + {_KR_N}) % {_KR_N})"
    cell = C.cell_from_tile_sql(wrapped, f"(ty + {dy})", 12)
    return (f"CASE WHEN ty + {dy} BETWEEN 0 AND {_KR_N - 1} "
            f"THEN {cell} ELSE NULL END")


_KR_CASES = ", ".join(_kring_case_sql(dx, dy)
                      for dx in (-1, 0, 1) for dy in (-1, 0, 1))


@register("geo_cell_kring", f"""
    WITH pts AS (
      SELECT doc_id,
             {C.tile_x_sql(_DLON, 12)} AS tx,
             {C.tile_y_sql(_DLAT, 12)} AS ty
      FROM documents
    ),
    nb AS (
      SELECT doc_id, {C.cell_from_tile_sql('tx', 'ty', 12)} AS cell_id,
             list_filter([{_KR_CASES}], x -> x IS NOT NULL) AS nbs
      FROM pts
    )
    SELECT doc_id, cell_id,
           array_to_string(list_transform(list_sort(nbs),
                                          x -> CAST(x AS VARCHAR)), ',')
             AS neighbors,
           CAST(len(nbs) AS BIGINT) AS n_neighbors
    FROM nb
    """)
def geo_cell_kring(spark, sf_dir):
    """Cell k-ring / disk (H3 kRing analog on the Morton grid; the kNN
    candidate generator exposed as a first-class query): the 3x3
    neighborhood of each point's level-12 cell, antimeridian x-wrap,
    poles y-clamped. Row-local bit math, zero exchanges — neighbors are
    re-encoded from the KEPT tile coords (``with_cell(keep_tile_xy=)``
    + ``neighbor_cells_from_tile_col``), per the cells.py rule that
    neighbor/center consumers keep grid coords instead of decoding the
    id: the decode OR-ladder inlined 9x cost 26 s at sf0.1 vs 0.5 s for
    the tile-attribute form (BENCH/R05_DELTA.md). The oracle re-derives
    every neighbor with the tile-offset bit-math twins
    (cell_from_tile_sql), including the wrap/clamp edge rules. Sorted,
    comma-joined ids (the array-output hashing rule)."""
    pts = _documents_points(spark, sf_dir)
    d = C.with_cell(pts, "lon", "lat", 12, "cell_id",
                    keep_tile_xy=("__tx", "__ty"))
    nbs = C.neighbor_cells_from_tile_col(
        F.col("__tx"), F.col("__ty"), 12, ring=1)
    return d.select(
        "doc_id", "cell_id",
        F.array_join(F.transform(F.sort_array(nbs),
                                 lambda x: x.cast("string")), ",")
         .alias("neighbors"),
        F.size(nbs).cast("long").alias("n_neighbors"))


@register("text_winnow_fingerprints", f"""
    WITH w AS (
      SELECT doc_id, CAST(LENGTH(text) - 4 AS BIGINT) AS n_grams,
             UNNEST({TA.winnow_keys_sql('text', 5, 8)}) AS wkey
      FROM documents
    )
    SELECT doc_id, wkey >> 16 AS fp, n_grams - (wkey & 65535) AS pos
    FROM w
    """)
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS scheme): rightmost-min-of-window selection
    over char-5-gram hashes, window 8, guaranteeing any shared substring
    of >= 12 chars shares a fingerprint. Complements the bottom-k sketch
    (text_fingerprint) with POSITIONED fingerprints — the primitive for
    plagiarism-style local-overlap detection at corpus scale. Entirely
    row-local (functions/textanalysis.py winnow_keys_col: one Catalyst
    projection, zero exchanges until a consumer groups by fp); a
    downstream reuse-detector joins on fp exactly like
    dedup_shingle_coverage's dup-grams-only discipline."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n = (F.length("text") - F.lit(4)).cast("long")
    ex = d.select(
        "doc_id", n.alias("n_grams"),
        F.explode(TA.winnow_keys_col(F.col("text"), 5, 8)).alias("wkey"))
    return ex.select(
        "doc_id",
        F.shiftright(F.col("wkey"), 16).alias("fp"),
        (F.col("n_grams") - F.col("wkey").bitwiseAND(F.lit(65535)))
        .alias("pos"))


_PMI_D = 3  # co-occurrence window (token distance 1..D)
_PMI_ZIPS = ", ".join(
    f"list_zip(toks, list_slice(toks, {d + 1}, 1000000000))"
    for d in range(1, _PMI_D + 1))


@register("text_pmi_pairs", f"""
    WITH tk AS (
      SELECT {TA.tokens_sql('text')} AS toks FROM documents
    ),
    pr0 AS (
      SELECT UNNEST(list_concat(list_concat({_PMI_ZIPS.split(', list_zip')[0]},
             list_zip{_PMI_ZIPS.split(', list_zip')[1]}),
             list_zip{_PMI_ZIPS.split(', list_zip')[2]})) AS u
      FROM tk
    ),
    pr AS (
      SELECT LEAST(u[1], u[2]) AS a, GREATEST(u[1], u[2]) AS b
      FROM pr0 WHERE u[2] IS NOT NULL AND u[1] <> '' AND u[2] <> ''
    ),
    uni AS (
      SELECT t AS term, COUNT(*) AS c
      FROM (SELECT UNNEST(toks) AS t FROM tk) WHERE t <> '' GROUP BY t
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    ptot AS (SELECT COUNT(*) AS p FROM pr),
    cab AS (SELECT a, b, COUNT(*) AS cab FROM pr GROUP BY a, b),
    ranked AS (
      SELECT a, b, cab,
             ROW_NUMBER() OVER (ORDER BY cab DESC, a, b) AS rank
      FROM cab
    )
    SELECT x.a, x.b, x.cab,
           ROUND(LN((CAST(x.cab AS DOUBLE) / p)
                    / ((CAST(ca.c AS DOUBLE) / n)
                       * (CAST(cb.c AS DOUBLE) / n))), 6) AS pmi,
           rank
    FROM ranked x
    JOIN uni ca ON x.a = ca.term
    JOIN uni cb ON x.b = cb.term, tot, ptot
    WHERE rank <= 25
    """)
def text_pmi_pairs(spark, sf_dir):
    """Pointwise mutual information over co-occurring token pairs within
    distance 3 (the word2vec-era collocation statistic; corpus-level
    phrase mining for tokenizer/vocab decisions). Scale shape: pair
    expansion is ROW-LOCAL — one arrays_zip per distance against a
    shifted slice of the same token array (2 tokenizations per distance,
    NOT the O(n*d) element_at inline), then a single explode; the only
    corpus-keyed exchange is the (a,b) pair count (map-side combining).
    Unigram counts and scalar totals are POST-AGG vocab-/1-row-bounded
    tables joined back with explicit broadcasts, so the pair table never
    re-shuffles; top-25 window runs on the aggregated (bounded) table
    only. PMI doubles: identical division-tree structure both dialects,
    round-6."""
    d = _t(spark, sf_dir, "documents").select("text")
    toks = TA.tokens_col(F.col("text"))
    z = F.concat(*[
        F.arrays_zip(toks, F.slice(toks, delta + 1, 1 << 30))
        for delta in range(1, _PMI_D + 1)])
    u = F.col("u")
    pr = (d.select(F.explode(z).alias("u"))
          .filter(u.getItem("1").isNotNull()
                  & (u.getItem("0") != "") & (u.getItem("1") != ""))
          .select(F.least(u.getItem("0"), u.getItem("1")).alias("a"),
                  F.greatest(u.getItem("0"), u.getItem("1")).alias("b")))
    uni = (d.select(F.explode(toks).alias("term"))
           .filter(F.col("term") != "")
           .groupBy("term").agg(F.count("*").alias("c")))
    tot = uni.agg(F.sum("c").cast("long").alias("n"))
    ptot = pr.agg(F.count("*").alias("p"))
    cab = pr.groupBy("a", "b").agg(F.count("*").alias("cab"))
    w = Window.orderBy(F.col("cab").desc(), F.col("a").asc(),
                       F.col("b").asc())
    ranked = (cab.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= 25))
    ca = uni.select(F.col("term").alias("a"), F.col("c").alias("ca"))
    cb = uni.select(F.col("term").alias("b"), F.col("c").alias("cb"))
    j = (ranked.join(F.broadcast(ca), "a").join(F.broadcast(cb), "b")
         .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ptot)))
    pmi = F.log((F.col("cab").cast("double") / F.col("p"))
                / ((F.col("ca").cast("double") / F.col("n"))
                   * (F.col("cb").cast("double") / F.col("n"))))
    return j.select("a", "b", "cab", F.round(pmi, 6).alias("pmi"),
                    F.col("rank").cast("long").alias("rank"))


_GSETS_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
           CAST(SUM(CAST(l_quantity AS {_D})) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
    """


@register("rel_grouping_sets", _GSETS_SQL)
def rel_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form of the cube/rollup pair
    already covered — reference A8's grouping granularities): four
    simultaneous granularities in ONE hash-agg pass (Spark expands sets
    map-side, so the scan runs once, partial aggregation intact), with
    GROUPING() flags disambiguating set-produced NULLs. The SAME SQL
    text runs on both engines — the dialect-portability check for the
    relational tier. DECIMAL sums for order-independence."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GSETS_SQL)


from geoutils_spark.operators.similarity import pq_l2_chain_sql  # noqa: E402

_PQ_M, _PQ_D = 8, 8  # 8 subspaces x 8 dims over the 64-dim embeddings
_PQ_DIST = pq_l2_chain_sql("b.e", "tr.te", "sub.s", _PQ_D)


@register("emb_pq_codes", f"""
    WITH base AS (
      SELECT vec_id AS __id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    tr AS (
      SELECT ROW_NUMBER() OVER (ORDER BY __id) - 1 AS j, e AS te
      FROM base WHERE __id % 31 = 3
    ),
    sub AS (SELECT UNNEST(range(0, {_PQ_M})) AS s),
    dists AS (
      SELECT b.__id, sub.s, tr.j, {_PQ_DIST} AS dist
      FROM base b CROSS JOIN sub CROSS JOIN tr
      QUALIFY ROW_NUMBER() OVER (PARTITION BY b.__id, sub.s
                                 ORDER BY dist ASC, tr.j ASC) = 1
    )
    SELECT __id AS vec_id,
           string_agg(CAST(j AS VARCHAR), ',' ORDER BY s) AS codes,
           ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(dist ORDER BY s)), (acc, x) -> acc + x), 6)
             AS distortion
    FROM dists GROUP BY __id
    """)
def emb_pq_codes(spark, sf_dir):
    """Product quantization (Jegou et al. 2011) codes over the embedding
    table: 8 subspaces x 8 dims, codebook = the deterministic trainer
    rows' own subvectors (vec_id % 31 = 3, code index = rank by id —
    same discipline as the IVF centroid predicate). Row-local broadcast-
    codebook argmin per subspace, NO explode, ZERO exchanges — the
    compressed-table projection a 100 TB embedding store runs on the
    scan (64-dim float32 -> 8 bytes/vector at K<=256). Distortion is the
    subspace-ordered chain fold both dialects; the oracle replays the
    full assignment with QUALIFY argmin per (vector, subspace)."""
    from geoutils_spark.operators.similarity import pq_codes
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    trainers = [
        [float(x) for x in r["e"]]
        for r in sorted(v.filter(F.col("vec_id") % 31 == 3).collect(),
                        key=lambda r: r["vec_id"])
    ]
    return pq_codes(v, trainers, m=_PQ_M)


@register("stream_attribution_batch", """
    WITH c AS (
      SELECT user_id, event_id AS click_id, ts AS cts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id AS conv_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT p.conv_id, c.click_id,
             epoch_us(p.pts) - epoch_us(c.cts) AS gap_us,
             ROW_NUMBER() OVER (PARTITION BY p.conv_id
                                ORDER BY c.cts DESC, c.click_id DESC) AS rn
      FROM p JOIN c ON p.user_id = c.user_id
       AND p.pts > c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE
    )
    SELECT conv_id, click_id, gap_us FROM j WHERE rn = 1
    """)
def stream_attribution_batch(spark, sf_dir):
    """Batch twin of the stream-stream interval join
    (streaming/joins.py): click -> purchase last-touch attribution per
    user within a 30-minute horizon. The SAME interval_join runs on
    streaming frames with watermarks bounding join state at
    O(rate x (watermark + horizon)); on batch frames it is a user_id
    equi-join with a range post-filter (no NestedLoop) and last_touch
    is a partial-aggregating max_by, not a window — a bot user with
    10^6 clicks combines map-side (test_streaming.py pins batch/stream
    row parity on the same input)."""
    from geoutils_spark.streaming.joins import interval_join, last_touch
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("user_id", "event_id", "ts")
    convs = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id", "event_id", "ts")
    return last_touch(interval_join(clicks, convs, horizon="30 minutes"))


_ADC_INNER = pq_l2_chain_sql("q.e", "tr.te", "d.s", _PQ_D)
_PQ_ASSIGN_DIST = pq_l2_chain_sql("b.e", "tr.te", "sub.s", _PQ_D)


@register("emb_pq_adc_topk", f"""
    WITH base AS (
      SELECT vec_id AS __id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    tr AS (
      SELECT ROW_NUMBER() OVER (ORDER BY __id) - 1 AS j, e AS te
      FROM base WHERE __id % 31 = 3
    ),
    sub AS (SELECT UNNEST(range(0, {_PQ_M})) AS s),
    dists AS (
      SELECT b.__id, sub.s, tr.j, {_PQ_ASSIGN_DIST} AS dist
      FROM base b CROSS JOIN sub CROSS JOIN tr
      QUALIFY ROW_NUMBER() OVER (PARTITION BY b.__id, sub.s
                                 ORDER BY dist ASC, tr.j ASC) = 1
    ),
    q AS (SELECT __id AS query_id, e FROM base WHERE __id % 50 = 0),
    terms AS (
      SELECT q.query_id, d.__id AS vid, d.s, {_ADC_INNER} AS t
      FROM q CROSS JOIN dists d JOIN tr ON tr.j = d.j
      WHERE d.__id <> q.query_id
    ),
    adc AS (
      SELECT query_id, vid,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(t ORDER BY s)), (acc, x) -> acc + x) AS a
      FROM terms GROUP BY query_id, vid
    )
    SELECT query_id, vid AS neighbor_id, ROUND(a, 6) AS adc, rank
    FROM (
      SELECT query_id, vid, a,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY a ASC, vid ASC) AS rank
      FROM adc
    ) WHERE rank <= 5
    """)
def emb_pq_adc_topk(spark, sf_dir):
    """ADC top-k over the PQ-compressed table (Jegou et al. 2011 §IV):
    queries scan 8-byte codes, not 256-byte vectors (32x scan I/O cut) —
    each query ships an m x K lookup table of exact query-to-centroid
    subspace distances built driver-side with the ORACLE's chain order
    (python float == IEEE double, so LUT values are bit-identical to the
    SQL chains), and per-vector distance is m lookups + m adds folded in
    subspace order. Plan: code scan x broadcast LUT queries -> fold ->
    per-query top-5 window; the oracle replays assignment AND the two-
    level chain fold exactly."""
    from geoutils_spark.operators.similarity import (
        pq_adc_topk, pq_code_array)
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    rows = sorted(v.filter(F.col("vec_id") % 31 == 3).collect(),
                  key=lambda r: r["vec_id"])
    trainers = [[float(x) for x in r["e"]] for r in rows]
    queries = [(int(r["vec_id"]), [float(x) for x in r["e"]])
               for r in v.filter(F.col("vec_id") % 50 == 0).collect()]
    # Spread the assignment projection (m x K argmins per vector — the
    # expensive part) across cores: a crawl-scale embedding table gets
    # this from file-granular scan splits; the single-file test input
    # would otherwise encode in ONE task. 256 B/vector through the
    # exchange vs ~5k interpreted multiply-adds saved per vector.
    v = v.repartition(spark.sparkContext.defaultParallelism)
    codes = pq_code_array(v, trainers, m=_PQ_M)
    return pq_adc_topk(codes, queries, trainers, k=5, m=_PQ_M)


@register("text_edit_neardup", """
    WITH t AS (
      SELECT doc_id, SUBSTR(text, 1, 40) AS title FROM documents
    ),
    b AS (SELECT doc_id, title, SUBSTR(title, 1, 3) AS blk FROM t)
    SELECT x.doc_id AS a_id, y.doc_id AS b_id,
           CAST(levenshtein(x.title, y.title) AS BIGINT) AS dist
    FROM b x JOIN b y
      ON x.blk = y.blk AND x.doc_id < y.doc_id
     AND levenshtein(x.title, y.title) <= 12
    """)
def text_edit_neardup(spark, sf_dir):
    """Edit-distance near-duplicate pairs (record-linkage verify stage):
    40-char title keys, candidate pairs within a blocking key, kept when
    Levenshtein <= 12 — the PRECISE verifier that runs after a candidate
    generator. Both engines ship the same classic DP levenshtein
    built-in, so distances are integer-exact. At corpus scale the
    candidate source is the LSH/fingerprint tier (dedup.py band buckets
    or winnowing fp joins — candidate-bounded, skew-safe); the 3-char
    prefix block here is the fixture-sized stand-in and would salt like
    any hot key at 10^12 rows. The join is an equi-join on blk with the
    distance as post-filter — no NestedLoop."""
    t = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("title"))
    b = t.withColumn("blk", F.substring("title", 1, 3))
    x, y = b.alias("x"), b.alias("y")
    return (x.join(y, (F.col("x.blk") == F.col("y.blk"))
                   & (F.col("x.doc_id") < F.col("y.doc_id"))
                   & (F.levenshtein(F.col("x.title"), F.col("y.title"))
                      <= 12))
            .select(F.col("x.doc_id").alias("a_id"),
                    F.col("y.doc_id").alias("b_id"),
                    F.levenshtein(F.col("x.title"), F.col("y.title"))
                    .cast("long").alias("dist")))


@register("geo_convex_hull", f"""
    WITH grid AS ({_grid_sql()})
    SELECT way_id, CAST(10 AS BIGINT) AS n_input, CAST(4 AS BIGINT) AS n_hull,
           ROUND((maxx - minx) * (maxy - miny), 9) AS hull_area
    FROM grid
    """)
def geo_convex_hull(spark, sf_dir):
    """Convex hull per feature (operators/hull.py, monotone chain over
    Arrow batches): each fixture building contributes its 5 CLOSED ring
    vertices (first repeated — dropped by the hull's dedup) plus 5
    strictly-interior probe points (centroid + quarter points
    derived from the stored bbox doubles) — the hull must recover
    exactly the rectangle: 4 vertices, area bit-equal to the oracle's
    analytic (maxx-minx)*(maxy-miny) thanks to the shift-then-shoelace
    fold (hull.py docstring). The oracle re-derives expectations from
    the fixture construction rules — an independent derivation, not a
    SQL copy of the plan."""
    from geoutils_spark.operators.hull import convex_hull_stats
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    v = F.explode("ring").alias("v")
    corners = polys.select("way_id", v).select(
        "way_id", F.col("v.lon").alias("lon"), F.col("v.lat").alias("lat"))
    bb = F.col("bbox")
    inner = []
    for fx, fy in [(0.5, 0.5), (0.25, 0.5), (0.75, 0.5),
                   (0.5, 0.25), (0.5, 0.75)]:
        inner.append(polys.select(
            "way_id",
            (bb["minx"] + (bb["maxx"] - bb["minx"]) * F.lit(fx)).alias("lon"),
            (bb["miny"] + (bb["maxy"] - bb["miny"]) * F.lit(fy)).alias("lat")))
    pts = corners
    for i in inner:
        pts = pts.unionAll(i)
    return convex_hull_stats(pts)


_WS_U = ("(CAST(CAST('0x' || SUBSTR(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 15)"
         " AS BIGINT) AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE))")


@register("rel_weighted_sample", f"""
    WITH w AS (
      SELECT doc_id, lang,
             CAST(1 + doc_id % 10 AS DOUBLE) AS weight,
             (LN({_WS_U}) / CAST(1 + doc_id % 10 AS DOUBLE)) AS skey
      FROM documents
    )
    SELECT doc_id, lang, weight, rank FROM (
      SELECT doc_id, lang, weight,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY skey DESC, doc_id ASC) AS rank
      FROM w
    ) WHERE rank <= 5
    """)
def rel_weighted_sample(spark, sf_dir):
    """Weighted reservoir sampling per stratum (Efraimidis-Spirakis
    A-ES, IPL 2006): key = ln(u) / w with u a row-local md5-derived
    uniform — top-k by key IS a weighted-without-replacement sample, the
    quality-weighted source-mixing primitive of training-data pipelines
    (sample high-quality docs more, deterministically re-runnable).
    ONE exchange (the per-stratum top-k window; the salted topk_per_group
    operator swaps in when a stratum is 10^9 rows). Identical u
    derivation and ln/divide structure both dialects."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    u = (F.conv(F.substring(
            F.md5(F.concat(F.lit("ws|"),
                           F.col("doc_id").cast("string")).cast("binary")),
            1, 15), 16, 10).cast("long").cast("double")
         / F.lit(float(1 << 60)))
    wcol = (F.lit(1) + F.col("doc_id") % 10).cast("double")
    d = d.select("doc_id", "lang", wcol.alias("weight"),
                 (F.log(u) / wcol).alias("skey"))
    win = Window.partitionBy("lang").orderBy(
        F.col("skey").desc(), F.col("doc_id").asc())
    return (d.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= 5)
            .select("doc_id", "lang", "weight",
                    F.col("rank").cast("long").alias("rank")))


_LPA_ROUNDS = 3


def _lpa_round_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT v AS node, label FROM (
        SELECT u.v, l.label,
               ROW_NUMBER() OVER (PARTITION BY u.v
                                  ORDER BY COUNT(*) DESC, l.label ASC) AS rn
        FROM und u JOIN {prev} l ON u.nbr = l.node
        GROUP BY u.v, l.label
      ) WHERE rn = 1
    )"""


_LPA_SQL = (
    """
    WITH e0 AS (
      SELECT DISTINCT doc_id % 101 AS src, (doc_id * 7 + 3) % 101 AS dst
      FROM documents
    ),
    und AS (
      SELECT DISTINCT v, nbr FROM (
        SELECT src AS v, dst AS nbr FROM e0
        UNION ALL SELECT dst AS v, src AS nbr FROM e0
      )
    ),
    l0 AS (SELECT DISTINCT v AS node, v AS label FROM und),"""
    + ",".join(_lpa_round_sql(f"l{r}", f"l{r + 1}")
               for r in range(_LPA_ROUNDS))
    + f"""
    SELECT node, label FROM l{_LPA_ROUNDS}
    """)


@register("web_label_propagation", _LPA_SQL)
def web_label_propagation(spark, sf_dir):
    """Community detection on the host link graph by synchronous label
    propagation (operators/labelprop.py) — determinized: most-frequent
    neighbor label, ties -> smallest, so the whole trajectory is
    unrollable and the oracle replays all three rounds as CTEs (the
    redirect/pagerank trajectory discipline — not just a fixed point).
    Per round: one edge x label equi-join + one (node,label) count agg +
    one partial-aggregating min_by — no windows over unbounded groups,
    so a 10^8-degree hub combines map-side."""
    from geoutils_spark.operators.labelprop import label_propagation
    d = _t(spark, sf_dir, "documents").select("doc_id")
    edges = d.select(
        (F.col("doc_id") % 101).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 101).alias("dst")).distinct()
    return label_propagation(edges, rounds=_LPA_ROUNDS)


# ---------------------------------------------------------------------------
# Trajectory segmentation (GPS tracks): the spatiotemporal member of the
# sessionize family — per-entity ordered points split into movement
# segments on EITHER a time gap or a distance jump.
# ---------------------------------------------------------------------------

_TRK_GAP_US = 4 * 3600 * 1_000_000   # 4 h time gap opens a new segment
_TRK_JUMP_MM = 3_000_000             # 3 km step jump opens a new segment

_TRK_PTS_SQL = f"""
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             {K.key_lon_sql('event_id')} AS lon,
             {K.key_lat_sql('event_id')} AS lat
      FROM events
"""


# the lag/flag/running-sum segmentation chain through `sg`, shared by
# the segment-stats and OD-matrix twins (rn = per-user sequence number,
# the integer arg_min/arg_max ordering key for segment endpoints)
_TRK_SG_SQL = f"""
    pts AS ({_TRK_PTS_SQL}),
    st AS (
      SELECT user_id, event_id, ts_us, lon, lat,
             ROW_NUMBER() OVER w AS rn,
             LAG(ts_us) OVER w AS pts_us,
             LAG(lon) OVER w AS plon,
             LAG(lat) OVER w AS plat
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sm AS (
      SELECT *, CASE WHEN pts_us IS NULL THEN CAST(0 AS BIGINT)
                     ELSE CAST(ROUND(
                       {haversine_m_sql('plon', 'plat', 'lon', 'lat')}
                       * 1000) AS BIGINT) END AS step_mm
      FROM st
    ),
    fl AS (
      SELECT *, CASE WHEN pts_us IS NULL
                       OR ts_us - pts_us > {_TRK_GAP_US}
                       OR step_mm > {_TRK_JUMP_MM}
                     THEN 1 ELSE 0 END AS brk
      FROM sm
    ),
    sg AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS seg
      FROM fl
    )
"""


def _track_sg(spark, sf_dir):
    """Shared Spark half of _TRK_SG_SQL: events -> synthesized points ->
    lag features -> integer-mm steps -> break flags -> running segment
    ids. One user-keyed exchange; every consumer groups on (user_id,
    seg) so the partitioning is reused downstream."""
    pts = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        # parquet ts is TIMESTAMP_NTZ; the cast resolves it in the
        # session tz (UTC in the harness) == DuckDB's naive epoch_us
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        K.key_lon_col(F.col("event_id")).alias("lon"),
        K.key_lat_col(F.col("event_id")).alias("lat"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    st = pts.select(
        "user_id", "ts_us", "event_id",
        F.row_number().over(w).alias("rn"),
        F.lag("ts_us").over(w).alias("pts_us"),
        F.lag("lon").over(w).alias("plon"),
        F.lag("lat").over(w).alias("plat"),
        "lon", "lat")
    step = F.when(F.col("pts_us").isNull(), F.lit(0).cast("long")) \
        .otherwise(F.round(haversine_m_col(
            F.col("plon"), F.col("plat"), F.col("lon"), F.col("lat"))
            * 1000).cast("long"))
    sm = st.withColumn("step_mm", step)
    brk = F.when(F.col("pts_us").isNull()
                 | (F.col("ts_us") - F.col("pts_us") > _TRK_GAP_US)
                 | (F.col("step_mm") > _TRK_JUMP_MM), 1).otherwise(0)
    fl = sm.withColumn("brk", brk)
    return fl.withColumn(
        "seg", F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))


@register("geo_track_segments", f"""
    WITH {_TRK_SG_SQL}
    SELECT user_id, CAST(seg AS BIGINT) AS seg_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS dur_us,
           CAST(SUM(CASE WHEN brk = 1 THEN 0 ELSE step_mm END) AS BIGINT)
             AS path_mm
    FROM sg GROUP BY user_id, seg
    """)
def geo_track_segments(spark, sf_dir):
    """GPS-track segmentation — the spatiotemporal sessionizer: each
    user's time-ordered points split into movement segments wherever
    the time gap exceeds 4 h OR the step jump exceeds 3 km (teleports =
    data glitches / new trips), with per-segment point count, duration
    and path length. Parity discipline: step lengths quantize to
    INTEGER millimeters before the per-segment sum, so float addition
    order cannot drift the hash (the DECIMAL-sum rule); durations are
    epoch-microsecond BIGINTs; the haversine/lon/lat doubles come from
    the shared structural twins. Segment-opening steps are excluded
    from path length (a segment's first point contributes 0). Plan:
    ONE user-keyed exchange serves both windows and the final
    aggregation (same partitioning). Per-entity windows are sequential
    by nature — rel_sessionize's skew note applies: a 10^9-point bot
    track pre-splits by time bucket into two-level segmentation before
    this operator at crawl scale."""
    sg = _track_sg(spark, sf_dir)
    return (sg.groupBy("user_id", F.col("seg").cast("long").alias("seg_id"))
            .agg(F.count("*").cast("long").alias("n_points"),
                 (F.max("ts_us") - F.min("ts_us")).cast("long")
                 .alias("dur_us"),
                 F.sum(F.when(F.col("brk") == 1, 0)
                       .otherwise(F.col("step_mm"))).cast("long")
                 .alias("path_mm")))


_OD_LEVEL = 15


@register("geo_od_matrix", f"""
    WITH {_TRK_SG_SQL},
    sgc AS (
      SELECT *, {C.cell_sql('lon', 'lat', _OD_LEVEL)} AS cell_id FROM sg
    ),
    od AS (
      SELECT user_id, seg,
             arg_min(cell_id, rn) AS o_cell,
             arg_max(cell_id, rn) AS d_cell
      FROM sgc GROUP BY user_id, seg
    )
    SELECT o_cell, d_cell,
           CAST(COUNT(*) AS BIGINT) AS n_trips,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM od GROUP BY o_cell, d_cell
    """)
def geo_od_matrix(spark, sf_dir):
    """Origin-destination flow matrix over the segmented tracks — the
    mobility-analytics aggregate OD studies run: each movement segment
    contributes one trip from its first point's level-15 cell to its
    last point's, counted per (origin, destination) cell pair with
    distinct-user support. Endpoints select by the per-user sequence
    number rn (integer arg_min/arg_max — no float or timestamp tie
    ambiguity); stationary segments land on the matrix diagonal. Plan:
    the shared user-keyed segmentation exchange, a (user, seg) agg that
    REUSES that partitioning, then one bounded exchange on the cell
    pair (matrix size = occupied cell pairs, << corpus)."""
    sg = _track_sg(spark, sf_dir)
    sgc = C.with_cell(sg, "lon", "lat", _OD_LEVEL, "cell_id")
    od = sgc.groupBy("user_id", "seg").agg(
        F.min_by("cell_id", F.col("rn")).alias("o_cell"),
        F.max_by("cell_id", F.col("rn")).alias("d_cell"))
    return (od.groupBy("o_cell", "d_cell")
            .agg(F.count("*").cast("long").alias("n_trips"),
                 F.countDistinct("user_id").cast("long").alias("n_users")))


_DWELL_MIN_US = 3600 * 1_000_000   # visits shorter than 1 h don't count


@register("geo_geofence_dwell", f"""
    WITH pts AS ({_TRK_PTS_SQL}),
    seqd AS (
      SELECT user_id, ts_us, lon, lat,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS rn
      FROM pts
    ),
    grid AS ({_grid_sql()}),
    inz AS (
      SELECT p.user_id, p.ts_us, p.rn, g.way_id
      FROM seqd p JOIN grid g
        ON p.lon >= g.minx AND p.lon < g.maxx
       AND p.lat >= g.miny AND p.lat < g.maxy
    ),
    isl AS (
      SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id, way_id
                                        ORDER BY rn) AS grp
      FROM inz
    )
    SELECT user_id, way_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MIN(ts_us) AS BIGINT) AS enter_us,
           CAST(MAX(ts_us) AS BIGINT) AS exit_us
    FROM isl GROUP BY user_id, way_id, grp
    HAVING COUNT(*) >= 2
       AND MAX(ts_us) - MIN(ts_us) >= {_DWELL_MIN_US}
    """)
def geo_geofence_dwell(spark, sf_dir):
    """Geofence dwell detection — the alerting primitive fleet/retail
    analytics runs on tracks: per (user, zone), every VISIT (a maximal
    run of consecutive track points inside the same zone — the
    gaps-and-islands rn - row_number() trick, so leaving and returning
    opens a new visit) lasting >= 1 h with >= 2 points, with enter/exit
    epoch-us timestamps. Zone assignment goes through the FULL engine
    PIP path (covering cells -> broadcast cell equi-join -> exact ray
    cast); the axis-aligned fixture zones make the oracle's bbox
    predicates exactly equal (the geo_spatial_join parity argument).
    Plan: zone dim broadcast (points never shuffle for the join), then
    one user-keyed exchange shared by the island window and the visit
    agg. Integer-only outputs."""
    pts = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        K.key_lon_col(F.col("event_id")).alias("lon"),
        K.key_lat_col(F.col("event_id")).alias("lat"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seqd = pts.withColumn("rn", F.row_number().over(w))
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    inz = spatial_join(seqd, polys, level=15,
                       point_cols=("user_id", "ts_us", "rn"))
    wz = Window.partitionBy("user_id", "way_id").orderBy("rn")
    isl = inz.withColumn("grp", F.col("rn") - F.row_number().over(wz))
    return (isl.groupBy("user_id", "way_id", "grp")
            .agg(F.count("*").cast("long").alias("n_points"),
                 F.min("ts_us").cast("long").alias("enter_us"),
                 F.max("ts_us").cast("long").alias("exit_us"))
            .filter((F.col("n_points") >= 2)
                    & (F.col("exit_us") - F.col("enter_us")
                       >= _DWELL_MIN_US))
            .drop("grp"))


_COLOC_LEVEL = 15                    # ~1.2 km cells in the fixture band
_COLOC_BUCKET_US = 1800 * 1_000_000  # 30-min co-presence buckets


@register("geo_colocation_pairs", f"""
    WITH pts AS ({_TRK_PTS_SQL}),
    blk AS (
      SELECT DISTINCT user_id,
             {C.cell_sql('lon', 'lat', _COLOC_LEVEL)} AS cell_id,
             ts_us // {_COLOC_BUCKET_US} AS bucket
      FROM pts
    ),
    pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b
      FROM blk a JOIN blk b
        ON a.cell_id = b.cell_id AND a.bucket = b.bucket
       AND a.user_id < b.user_id
    )
    SELECT user_a, user_b, CAST(COUNT(*) AS BIGINT) AS n_cooccur
    FROM pairs GROUP BY user_a, user_b
    HAVING COUNT(*) >= 2
    """)
def geo_colocation_pairs(spark, sf_dir):
    """Co-location pairs — the contact-tracing / companion-detection
    primitive: user pairs repeatedly observed in the SAME level-15 cell
    during the SAME 30-minute bucket (>= 2 distinct co-occurrences, so
    one chance crossing doesn't pair). The space-time block key
    (cell, bucket) is the blocking discipline every proximity join at
    scale uses: the self-join is an equi-join on the block, never a
    distance cross product; DISTINCT per (user, block) first, so a user
    pinging 100x in one block contributes ONE co-presence (and block
    size is bounded by users-per-cell-per-half-hour, not event rate —
    the hot-venue key salts like any equi-join key; AQE skew-split
    covers the stadium case). Integer-only outputs; ids-only join rows
    — the per-user observation payload never moves."""
    pts = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        K.key_lon_col(F.col("event_id")).alias("lon"),
        K.key_lat_col(F.col("event_id")).alias("lat"))
    blk = C.with_cell(pts, "lon", "lat", _COLOC_LEVEL, "cell_id").select(
        "user_id", "cell_id",
        # integer div, not /-then-cast: a double quotient that lands an
        # ulp under an exact multiple would truncate into the previous
        # bucket while DuckDB's // stays exact
        F.expr(f"ts_us div {_COLOC_BUCKET_US}").alias("bucket")).distinct()
    a, b = blk.alias("a"), blk.alias("b")
    pairs = a.join(b, (F.col("a.cell_id") == F.col("b.cell_id"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.user_id") < F.col("b.user_id")))
    return (pairs.select(F.col("a.user_id").alias("user_a"),
                         F.col("b.user_id").alias("user_b"))
            .groupBy("user_a", "user_b")
            .agg(F.count("*").cast("long").alias("n_cooccur"))
            .filter(F.col("n_cooccur") >= 2))


_STC_LEVEL = 14
_STC_HOUR_US = 3600 * 1_000_000
# the aggregation text shared verbatim by both engines (the
# rel_grouping_sets dialect-portability discipline) — inputs are a
# (user_id, cell_id, hr) relation named stc_base in both
_STC_AGG_SQL = """
    SELECT COALESCE(cell_id, -1) AS cell_id,
           COALESCE(hr, -1) AS hr,
           CAST(GROUPING(cell_id) AS BIGINT) AS g_cell,
           CAST(GROUPING(hr) AS BIGINT) AS g_hr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM stc_base
    GROUP BY GROUPING SETS ((cell_id, hr), (cell_id), (hr), ())
"""


@register("geo_st_cube", f"""
    WITH pts AS ({_TRK_PTS_SQL}),
    stc_base AS (
      SELECT user_id,
             {C.cell_sql('lon', 'lat', _STC_LEVEL)} AS cell_id,
             ts_us // {_STC_HOUR_US} AS hr
      FROM pts
    )
    {_STC_AGG_SQL}
    """)
def geo_st_cube(spark, sf_dir):
    """Space-time cube — the hypertable rollup over the event points:
    (level-14 cell x hour) activity counts plus both marginals and the
    grand total in ONE hash-agg pass (GROUPING SETS expand map-side, so
    the scan runs once and partial aggregation stays intact — four
    separate GROUP BYs would scan four times). The aggregation SQL text
    is shared VERBATIM between Spark and the oracle
    (rel_grouping_sets's dialect-portability discipline); cell ids come
    from the engine encoder on the Spark side and the bit-math twins in
    the oracle; hour buckets are integer div. GROUPING() flags
    disambiguate the set-produced NULLs (-1 sentinels). Distinct-user
    support rides the same pass."""
    pts = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        K.key_lon_col(F.col("event_id")).alias("lon"),
        K.key_lat_col(F.col("event_id")).alias("lat"))
    base = C.with_cell(pts, "lon", "lat", _STC_LEVEL, "cell_id").select(
        "user_id", "cell_id",
        F.expr(f"ts_us div {_STC_HOUR_US}").alias("hr"))
    # {stc_base} binds to a per-call temp view that spark.sql drops once
    # the query is analyzed: nothing leaks into the session catalog
    return spark.sql(_STC_AGG_SQL.replace("FROM stc_base", "FROM {stc_base}"),
                     stc_base=base)


@register("rel_anomaly_hours", f"""
    WITH hrs AS (
      SELECT event_type, epoch_us(ts) // {_STC_HOUR_US} AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hr
    ),
    trail AS (
      SELECT event_type, hr, c,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(COALESCE(SUM(c) OVER w, 0) AS BIGINT) AS s,
             CAST(COALESCE(SUM(c * c) OVER w, 0) AS BIGINT) AS ss
      FROM hrs
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hr, c, n, s,
           (n * c - s) AS spike_num,
           (9 * (n * ss - s * s)) AS spike_den_sq
    FROM trail
    WHERE n >= 12 AND n * c - s > 0
      AND (n * c - s) * (n * c - s) > 9 * (n * ss - s * s)
    """)
def rel_anomaly_hours(spark, sf_dir):
    """Traffic-spike detection with EXACT integer algebra — the
    monitoring op every ingest pipeline runs, made hash-provable: an
    hour is a spike when its count exceeds the trailing-24-observed-
    hours mean by 3 standard deviations. The float z-score never
    materializes: c - s/n > 3*sqrt(ss/n - s^2/n^2) multiplies through
    by n and squares into (n*c - s)^2 > 9*(n*ss - s^2) — pure BIGINT,
    so aggregation order cannot drift the verdict (the repo's
    integer-rational compare rule, cf. blocks.py link density /
    simjoin thresholds). One (type, hr) count exchange (map-side
    combine), then a 24-row window frame per type — bounded state,
    partition count = event types. Gap semantics documented: the frame
    is the previous 24 OBSERVED hours."""
    hrs = (_t(spark, sf_dir, "events")
           .select("event_type",
                   F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) "
                          f"div {_STC_HOUR_US}").alias("hr"))
           .groupBy("event_type", "hr")
           .agg(F.count("*").cast("long").alias("c")))
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(-24, -1))
    trail = hrs.select(
        "event_type", "hr", "c",
        F.count("*").over(w).cast("long").alias("n"),
        F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long").alias("s"),
        F.coalesce(F.sum(F.col("c") * F.col("c")).over(w), F.lit(0))
        .cast("long").alias("ss"))
    num = F.col("n") * F.col("c") - F.col("s")
    den = F.lit(9) * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
    return (trail.filter((F.col("n") >= 12) & (num > 0)
                         & (num * num > den))
            .select("event_type", "hr", "c", "n", "s",
                    num.alias("spike_num"), den.alias("spike_den_sq")))


@register("warc_wet_roundtrip", f"""
    SELECT source || '.example' AS host,
           COUNT(*) AS n_docs,
           SUM(octet_length(encode(text))) AS total_bytes,
           SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT))
             AS text_hash_sum,
           SUM(CAST('0x' || substr(md5(
                 'https://' || source || '.example/doc'
                 || CAST(doc_id AS VARCHAR)
                 || strftime(make_timestamp(({_WARC_EPOCH}
                      + doc_id * 61 % 31536000) * 1000000),
                    '%Y-%m-%dT%H:%M:%SZ')), 1, 12) AS BIGINT))
             AS refers_hash_sum
    FROM documents
    GROUP BY 1
    """)
def warc_wet_roundtrip(spark, sf_dir):
    """WET sidecar roundtrip (the Common-Crawl extracted-text format,
    completing the on-ramp story next to warc_ingest_stats' response
    shards): documents -> byte-deterministic .warc.wet.gz conversion
    shards (write_wet_shards) -> read_warc(record_types=('conversion',))
    -> per-host aggregate over text bytes AND the WARC-Refers-To
    linkage. The refers check is structural: each conversion record's
    Refers-To is the md5 of (url + WARC-Date) — exactly the id
    response_record_bytes would assign the SAME row — and the oracle
    re-derives that md5 from the parquet columns, so a drift in url
    synthesis, date formatting, or the linkage rule breaks the hash.
    Scale shape identical to the WARC sink: one task per shard, one
    task per file on read, aggregate ships per-host sums only."""
    import os as _os
    import tempfile

    from geoutils_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(
            F.lit(_WARC_EPOCH)
            + F.pmod(F.col("doc_id") * 61, F.lit(31536000))).alias("warc_ts"),
        F.col("text").alias("text"))
    out_dir = _os.path.join(
        tempfile.gettempdir(),
        f"geoutils_spark_wet_{_os.path.basename(sf_dir.rstrip('/'))}")
    paths = W.write_wet_shards(pages, out_dir, n_shards=4)
    back = W.read_warc(spark, paths, record_types=("conversion",))
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    # the ACTUAL WARC-Refers-To header read back off the wire, with its
    # <urn:md5:...> framing stripped, summed as 48-bit ints per host
    # (the body_hash_sum discipline) — the oracle re-derives the md5
    # from the parquet columns, so the check spans the whole linkage:
    # url synthesis, date formatting, header write, header parse
    refers = F.conv(
        F.substring(F.regexp_extract("refers_to", r"urn:md5:([0-9a-f]+)", 1),
                    1, 12), 16, 10).cast("long")
    return (back.groupBy(host.alias("host"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("html")).alias("total_bytes"),
                 F.sum(F.conv(F.substring(F.md5("html"), 1, 12), 16, 10)
                       .cast("long")).alias("text_hash_sum"),
                 F.sum(refers).alias("refers_hash_sum")))
