"""Spatial join vs brute-force oracle; golden precedent: the reference pins
exact tile assignments (/root/reference/test.py:76-83)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geoutils_spark.operators.spatial_join import (
    point_to_polyline_dist_np, ray_cast_np, spatial_join, with_covering_cells,
)
from geoutils_spark.sources import fixtures


@pytest.fixture(scope="module")
def data(spark):
    pages = fixtures.with_page_geo(fixtures.pages_df(spark, 1500))
    polys = fixtures.polygons_df(spark)
    return pages, polys


def _brute_pairs(pages_pdf, polys_pdf):
    exp = set()
    for b in polys_pdf.itertuples():
        xs = np.array([p["lon"] for p in b.ring])
        ys = np.array([p["lat"] for p in b.ring])
        n = len(pages_pdf)
        inside = ray_cast_np(
            pages_pdf.lon.to_numpy(), pages_pdf.lat.to_numpy(),
            np.array([xs] * n, dtype=object), np.array([ys] * n, dtype=object),
        )
        for pid in pages_pdf.page_id.to_numpy()[inside]:
            exp.add((int(pid), int(b.way_id)))
    return exp


def test_join_matches_bruteforce(spark, data):
    pages, polys = data
    buildings = polys.filter("kind = 'building'")
    got = {
        (r.page_id, r.way_id)
        for r in spatial_join(pages, buildings, level=15).collect()
    }
    exp = _brute_pairs(pages.select("page_id", "lon", "lat").toPandas(),
                       buildings.select("way_id", "ring").toPandas())
    assert got == exp
    assert len(got) > 0


def test_salted_and_shuffle_paths_agree(spark, data):
    pages, polys = data
    buildings = polys.filter("kind = 'building'")
    base = {
        (r.page_id, r.way_id)
        for r in spatial_join(pages, buildings, level=15).collect()
    }
    shuffled = {
        (r.page_id, r.way_id)
        for r in spatial_join(pages, buildings, level=15,
                              broadcast_polygons=False).collect()
    }
    salted = {
        (r.page_id, r.way_id)
        for r in spatial_join(pages, buildings, level=15,
                              broadcast_polygons=False, n_salt=4).collect()
    }
    assert base == shuffled == salted


def test_covering_cells_guard(spark, data):
    _, polys = data
    with pytest.raises(Exception, match="max_cells"):
        with_covering_cells(polys, 22, max_cells=16).select(
            F.explode("cells")
        ).count()


def test_ray_cast_boundary_determinism():
    # unit square; points on edges follow the half-open rule deterministically
    xs = np.array([0.0, 0.0, 1.0, 1.0, 0.0])
    ys = np.array([0.0, 1.0, 1.0, 0.0, 0.0])
    px = np.array([0.5, 0.0, 1.0, 0.5, 0.5, -0.1])
    py = np.array([0.5, 0.5, 0.5, 0.0, 1.0, 0.5])
    n = len(px)
    got = ray_cast_np(px, py, np.array([xs] * n, dtype=object),
                      np.array([ys] * n, dtype=object))
    # interior in; left edge in, right edge out (x half-open);
    # bottom/top corners follow y half-open rule: y=0 in, y=1 out
    assert got.tolist() == [True, True, False, True, False, False]


def test_polyline_distance_kernel():
    xs = np.array([0.0, 1.0, 1.0])
    ys = np.array([0.0, 0.0, 1.0])
    px = np.array([0.5, 2.0, 1.2])
    py = np.array([0.2, 0.0, 0.5])
    d = point_to_polyline_dist_np(
        px, py, np.array([xs] * 3, dtype=object), np.array([ys] * 3, dtype=object)
    )
    assert abs(d[0] - 0.2) < 1e-12
    assert abs(d[1] - 1.0) < 1e-12
    assert abs(d[2] - 0.2) < 1e-12


def test_salted_join_matches_unsalted(spark):
    """Skew path: (cell_id, salt) keys + polygon replication must give the
    identical result set as the plain join (SURVEY.md §4 salting)."""
    from pyspark.sql import functions as F

    from geoutils_spark.operators.spatial_join import spatial_join
    from geoutils_spark.sources import fixtures

    pages = fixtures.with_page_geo(fixtures.pages_df(spark, 3000, hot_fraction=0.5))
    pts = pages.select("page_id", "lon", "lat")
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    plain = spatial_join(pts, polys, level=15, broadcast_polygons=False)
    salted = spatial_join(pts, polys, level=15, broadcast_polygons=False,
                          n_salt=8)
    a = {(r.page_id, r.way_id) for r in plain.collect()}
    b = {(r.page_id, r.way_id) for r in salted.collect()}
    assert a == b and len(a) > 0


def test_adaptive_two_level_join_matches_single_level(spark):
    """Mixed polygon sizes: tiny fixture buildings + one polygon covering the
    whole extent. Adaptive two-level result == single-level result (where a
    single level can even run), and the big polygon matches every point."""
    from pyspark.sql import functions as F

    from geoutils_spark.constants import LONDON_EXTENTS
    from geoutils_spark.operators.spatial_join import (
        spatial_join,
        spatial_join_adaptive,
    )
    from geoutils_spark.sources import fixtures

    pages = fixtures.with_page_geo(fixtures.pages_df(spark, 2000))
    pts = pages.select("page_id", "lon", "lat")
    small = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    lon0, lat0, lon1, lat1 = LONDON_EXTENTS
    pad = 0.001
    ring = [(lon0 - pad, lat0 - pad), (lon1 + pad, lat0 - pad),
            (lon1 + pad, lat1 + pad), (lon0 - pad, lat1 + pad),
            (lon0 - pad, lat0 - pad)]
    big = spark.createDataFrame(
        [{"way_id": 999, "kind": "big", "tags": {},
          "ring": [{"lon": x, "lat": y} for x, y in ring],
          "bbox": {"minx": lon0 - pad, "miny": lat0 - pad,
                   "maxx": lon1 + pad, "maxy": lat1 + pad}}],
        fixtures.POLYGON_SCHEMA)
    polys = small.unionByName(big)
    # single-level at 13 fits both sizes (extent ~ a few L13 cells)
    base = {(r.page_id, r.way_id)
            for r in spatial_join(pts, polys, level=13).collect()}
    adap = {(r.page_id, r.way_id)
            for r in spatial_join_adaptive(
                pts, polys, fine_level=15, coarse_level=11,
                max_fine_cells=16).collect()}
    assert adap == base
    n_pts = pts.count()
    assert sum(1 for _, w in adap if w == 999) == n_pts


def test_ray_cast_boundary_rules():
    """Half-open edge semantics are deterministic: for the unit square,
    points inside are in; outside are out; and every boundary point gets a
    definite (stable) answer tied to the 'strictly right' crossing rule."""
    import numpy as np

    from geoutils_spark.operators.spatial_join import ray_cast_np

    sq_x = [0.0, 1.0, 1.0, 0.0, 0.0]
    sq_y = [0.0, 0.0, 1.0, 1.0, 0.0]

    def pip(px, py):
        return bool(ray_cast_np(np.array([px]), np.array([py]),
                                [sq_x], [sq_y])[0])

    assert pip(0.5, 0.5) is True
    assert pip(1.5, 0.5) is False
    assert pip(-0.5, 0.5) is False
    assert pip(0.5, 1.5) is False
    # left edge: ray crosses the right edge once -> inside
    assert pip(0.0, 0.5) is True
    # right edge: no edge strictly right of the point -> outside
    assert pip(1.0, 0.5) is False
    # horizontal edges: (y1 > py) != (y2 > py) half-open rule
    assert pip(0.5, 0.0) is True    # bottom edge counts (y=0: top endpoints above)
    assert pip(0.5, 1.0) is False   # top edge does not
    # vertices follow the same composition
    assert pip(0.0, 0.0) is True
    assert pip(1.0, 1.0) is False
    # degenerate: same answers via the vectorized multi-row path
    many = ray_cast_np(np.array([0.5, 1.0, 0.0]), np.array([0.5, 0.5, 0.5]),
                       [sq_x] * 3, [sq_y] * 3)
    assert many.tolist() == [True, False, True]


def test_ray_cast_rings_donut():
    """Multi-ring even-odd: inside outer only -> in; inside hole -> out;
    outside outer -> out (reference Clipper pftEvenOdd, utils.cpp:95-154)."""
    import numpy as np

    from geoutils_spark.operators.spatial_join import ray_cast_rings_np

    outer_x = [0.0, 10.0, 10.0, 0.0, 0.0]
    outer_y = [0.0, 0.0, 10.0, 10.0, 0.0]
    hole_x = [4.0, 6.0, 6.0, 4.0, 4.0]
    hole_y = [4.0, 4.0, 6.0, 6.0, 4.0]
    px = np.array([2.0, 5.0, 11.0, 4.0, 6.0])
    py = np.array([2.0, 5.0, 5.0, 5.0, 5.0])
    rings_x = [[outer_x, hole_x]] * 5
    rings_y = [[outer_y, hole_y]] * 5
    got = ray_cast_rings_np(px, py, rings_x, rings_y)
    # boundary rule: hole edges are half-open [4,6) -> x=4 is IN hole (out),
    # x=6 is OUT of hole (in the donut)
    assert list(got) == [True, False, False, False, True]


def test_spatial_join_with_holes(spark):
    from geoutils_spark.operators.spatial_join import spatial_join
    from geoutils_spark.sources import fixtures

    donuts = fixtures.polygons_with_holes_df(spark)
    rows = donuts.collect()
    assert all(len(r.rings) == 2 for r in rows)
    # build probe points: building 0's bbox center (inside hole) and a point
    # inside the donut band
    b = rows[0].bbox
    import pandas as pd
    space = fixtures.grid_space()
    pts = spark.createDataFrame(pd.DataFrame({
        "page_id": [0, 1],
        "lon": [b.minx + space * 0.5, b.minx + space * 0.1],
        "lat": [b.miny + space * 0.5, b.miny + space * 0.1],
    }))
    got = spatial_join(pts, donuts, level=15).toPandas()
    assert set(got.page_id) == {1}  # hole point excluded, band point kept


# values that make boundary cases common: shared vertices, horizontal and
# vertical edges, py equal to a vertex y, signed zeros, NaN
_PIP_VALUES = [0.0, -0.0, 0.5, 1.0, 1.5, 2.0, -1.0, 0.25, float("nan")]


def _pip_value():
    from hypothesis import strategies as st

    return st.one_of(st.sampled_from(_PIP_VALUES),
                     st.floats(min_value=-3.0, max_value=3.0))


def _pip_ring():
    """A ring of 0..7 vertices, closed or not, so rings of < 2 points and
    unclosed paths appear alongside ordinary closed rings."""
    from hypothesis import strategies as st

    pts = st.lists(st.tuples(_pip_value(), _pip_value()), max_size=6)
    return st.tuples(pts, st.booleans()).map(
        lambda t: ([p[0] for p in t[0]] + [p[0] for p in t[0][:1] if t[1]],
                   [p[1] for p in t[0]] + [p[1] for p in t[0][:1] if t[1]]))


def _pip_point(rings):
    """Points drawn from the value pool or ON a ring vertex / edge midpoint,
    so vertex and edge hits are common."""
    from hypothesis import strategies as st

    verts = [(x, y) for xs, ys in rings for x, y in zip(xs, ys)]
    mids = [((xs[i] + xs[i + 1]) / 2, (ys[i] + ys[i + 1]) / 2)
            for xs, ys in rings for i in range(len(xs) - 1)]
    choices = [st.tuples(_pip_value(), _pip_value())]
    if verts:
        choices.append(st.sampled_from(verts))
        # py equal to a vertex y, px anywhere
        choices.append(st.tuples(_pip_value(),
                                 st.sampled_from([y for _, y in verts])))
    if mids:
        choices.append(st.sampled_from(mids))
    return st.one_of(*choices)


def _pip_case(n_rings):
    from hypothesis import strategies as st

    return n_rings.flatmap(
        lambda k: st.lists(_pip_ring(), min_size=k, max_size=k).flatmap(
            lambda rings: st.tuples(_pip_point(rings), st.just(rings))))


def test_point_in_polygon_col_matches_numpy(spark):
    """The Catalyst fold equals ``ray_cast_np`` row by row, boundary and NaN
    cases included; rings of < 2 points have no edges (never inside)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geoutils_spark.operators.spatial_join import point_in_polygon_col

    @settings(max_examples=12, deadline=None)
    @given(st.lists(_pip_case(st.just(1)), min_size=1, max_size=200))
    def check(cases):
        rows = [(i, px, py, rs[0][0], rs[0][1])
                for i, ((px, py), rs) in enumerate(cases)]
        df = spark.createDataFrame(
            rows, "i int, px double, py double, "
                  "rx array<double>, ry array<double>")
        got = df.select("i", point_in_polygon_col(
            F.col("px"), F.col("py"), F.col("rx"), F.col("ry")).alias("in"))
        got = {r.i: r["in"] for r in got.collect()}
        edged = [r for r in rows if len(r[3]) >= 2]
        exp = dict.fromkeys((r[0] for r in rows), False)
        if edged:
            inside = ray_cast_np(np.array([r[1] for r in edged]),
                                 np.array([r[2] for r in edged]),
                                 [np.array(r[3]) for r in edged],
                                 [np.array(r[4]) for r in edged])
            exp.update(zip((r[0] for r in edged), inside.tolist()))
        assert got == exp

    check()


def test_point_in_rings_col_matches_numpy(spark):
    """Multi-ring fold equals ``ray_cast_rings_np`` row by row: crossings
    summed over every ring (holes), rings of < 2 points contribute none."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geoutils_spark.operators.spatial_join import (point_in_rings_col,
                                                       ray_cast_rings_np)

    @settings(max_examples=12, deadline=None)
    @given(st.lists(_pip_case(st.integers(0, 3)), min_size=1, max_size=200))
    def check(cases):
        rows = [(i, px, py, [r[0] for r in rs], [r[1] for r in rs])
                for i, ((px, py), rs) in enumerate(cases)]
        df = spark.createDataFrame(
            rows, "i int, px double, py double, "
                  "rx array<array<double>>, ry array<array<double>>")
        got = df.select("i", point_in_rings_col(
            F.col("px"), F.col("py"), F.col("rx"), F.col("ry")).alias("in"))
        got = sorted((r.i, r["in"]) for r in got.collect())
        keep = [[k for k, xs in enumerate(r[3]) if len(xs) >= 2] for r in rows]
        exp = ray_cast_rings_np(
            np.array([r[1] for r in rows]), np.array([r[2] for r in rows]),
            [[np.array(r[3][k]) for k in ks] for r, ks in zip(rows, keep)],
            [[np.array(r[4][k]) for k in ks] for r, ks in zip(rows, keep)])
        assert got == list(enumerate(exp.tolist()))

    check()


def test_join_plan_has_no_refine_python_eval(spark, data):
    """The refine is a Catalyst predicate: the join's physical plan keeps
    exactly one Python eval node, the text extraction, and the predicate
    runs on the join output (it is not pushed through the polygon side's
    Generate, where the point columns do not exist)."""
    pages, polys = data
    buildings = polys.filter("kind = 'building'")
    j = spatial_join(pages, buildings, level=15,
                     point_cols=("page_id", "text"))
    rows = j.collect()
    assert {(r.page_id, r.way_id) for r in rows} == {
        (r.page_id, r.way_id)
        for r in spatial_join(pages, buildings, level=15).collect()}
    plan = j._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    lines = plan.splitlines()
    evals = [ln for ln in lines if "EvalPython" in ln]
    assert len(evals) == 1 and "extract_text" in evals[0], plan
    k = next(i for i, ln in enumerate(lines) if "BroadcastExchange" in ln)
    depth = lines[k].index("+-")
    build = [ln for ln in lines[k + 1:]
             if len(ln) - len(ln.lstrip(" :|")) > depth]
    assert not any("aggregate(" in ln for ln in build), plan
