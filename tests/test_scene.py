"""Full-scene parity with the reference's own golden: osm2assimp exports
``numBuildings + numHighways + 1`` meshes (/root/reference/test.py:85-100)
from the reference generator's test file (the ``osm_file`` fixture in
conftest.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geoutils_spark.operators.ribbon import ribbon_mesh_np, ribbon_polylines
from geoutils_spark.sources import osm

N_BUILDINGS, N_HIGHWAYS = 322, 28


def test_ribbon_mesh_reference_shape():
    """meshFromLine parity (geometry.cpp:137-230) on its own test polyline
    (test.cpp MeshFromLine): n points -> 2n vertices, n-1 quad faces,
    first/last vertex pairs are the perpendicular offsets, z plane."""
    got = ribbon_mesh_np([0.0, 0.0, 10.0], [0.0, 10.0, 20.0], 2.0)
    assert got is not None
    vx, vy, faces = got
    assert len(vx) == 6 and len(faces) == 2
    assert faces == [[0, 1, 3, 2], [2, 3, 5, 4]]
    # first segment is vertical (+y): left offset = -x
    assert (vx[0], vy[0]) == pytest.approx((-1.0, 0.0))
    assert (vx[1], vy[1]) == pytest.approx((1.0, 0.0))
    # last pair: perpendicular to the 45° segment, width/2 from (10, 20)
    d = np.hypot(vx[4] - vx[5], vy[4] - vy[5])
    assert d == pytest.approx(2.0)
    # miter joint: both joint vertices lie on the bisector plane and the
    # ribbon half-width is preserved along each adjoining segment
    assert np.hypot(vx[2] - vx[3], vy[2] - vy[3]) >= 2.0  # miter widens
    # degenerate input
    assert ribbon_mesh_np([1.0, 1.0], [2.0, 2.0], 2.0) is None


def test_ribbon_collinear_fallback():
    """Parallel consecutive segments: the joint falls back to the previous
    segment's end corners (crossPoints fallback, geometry.cpp:111-120)."""
    got = ribbon_mesh_np([0.0, 5.0, 10.0], [0.0, 0.0, 0.0], 4.0)
    vx, vy, _ = got
    assert (vx[2], vy[2]) == pytest.approx((5.0, 2.0))
    assert (vx[3], vy[3]) == pytest.approx((5.0, -2.0))


def test_ground_holes_area(spark):
    """Hole-aware ground: triangulating the outer box + a footprint square
    and dropping inside-footprint triangles leaves ~ outer − footprint
    area (the donut ground the reference intends, test.cpp:26-76)."""
    from geoutils_spark.operators.ground import ground_mesh

    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (0, 0.0, 10.0), (0, 10.0, 10.0), (0, 10.0, 0.0)],
        "group_id long, lon double, lat double")
    fp = spark.createDataFrame(
        [(0, [2.0, 2.0, 6.0, 6.0, 2.0], [2.0, 6.0, 6.0, 2.0, 2.0])],
        "group_id long, rx array<double>, ry array<double>")
    rows = ground_mesh(pts, footprints=fp).collect()
    assert len(rows) == 1
    m = rows[0]
    vx, vy = np.array(m.vx), np.array(m.vy)
    area = 0.0
    for f in m.faces:
        x, y = vx[list(f)], vy[list(f)]
        area += abs((x[1] - x[0]) * (y[2] - y[0])
                    - (x[2] - x[0]) * (y[1] - y[0])) / 2.0
        # no face centroid inside the footprint
        cx, cy = x.mean(), y.mean()
        assert not (2.0 < cx < 6.0 and 2.0 < cy < 6.0)
    assert area == pytest.approx(100.0 - 16.0, rel=0.02)


def test_full_scene_mesh_count_parity(spark, osm_file):
    """THE reference golden (test.py:100): scene meshes ==
    numBuildings + numHighways + 1 ground, composed from the reference's
    own generated file through our OSM on-ramp + extrude + ribbon +
    hole-aware ground."""
    from geoutils_spark.operators.scene import scene_meshes

    nodes, ways = osm.read_osm(spark, osm_file)
    meshes = scene_meshes(nodes, ways).cache()
    by_kind = {r.kind: r.n for r in
               meshes.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    assert by_kind["building"] == N_BUILDINGS
    assert by_kind["highway"] == N_HIGHWAYS
    assert by_kind["ground"] == 1
    assert meshes.count() == N_BUILDINGS + N_HIGHWAYS + 1
    # every mesh well-formed: indices in range
    bad = meshes.filter(
        F.exists(F.flatten("faces"),
                 lambda i: (i < 0) | (i >= F.col("n_vertices")))).count()
    assert bad == 0
    meshes.unpersist()


def test_consolidate_granularities(spark, osm_file):
    """The reference's -c MeshGranularity (main.cpp:83-87): per-kind (1)
    gives one mesh per material/type, single-mesh (0) gives exactly one;
    vertex/face totals are preserved and rebased indices stay in range."""
    from geoutils_spark.operators.scene import consolidate_meshes, scene_meshes

    nodes, ways = osm.read_osm(spark, osm_file)
    meshes = scene_meshes(nodes, ways).cache()
    tot = meshes.agg(F.sum("n_vertices").alias("v"),
                     F.sum("n_faces").alias("f")).collect()[0]

    per_kind = consolidate_meshes(meshes, by="kind").collect()
    assert sorted(r.way_id for r in per_kind) == ["building", "ground", "highway"]
    assert sum(r.n_vertices for r in per_kind) == tot.v
    assert sum(r.n_faces for r in per_kind) == tot.f
    for r in per_kind:
        assert len(r.vx) == r.n_vertices
        assert max(i for face in r.faces for i in face) == r.n_vertices - 1
        assert min(i for face in r.faces for i in face) == 0

    mega = consolidate_meshes(meshes).collect()
    assert len(mega) == 1 and mega[0].way_id == "scene"
    assert mega[0].n_vertices == tot.v and len(mega[0].vx) == tot.v
    assert max(i for face in mega[0].faces for i in face) == tot.v - 1
    meshes.unpersist()


def test_svg_debug_sink(spark, tmp_path):
    """G11 SVG render parity shape (utils.cpp:230-258): viewBox from the
    padded bbox, one <polygon> per ring, coordinates shifted+scaled."""
    from geoutils_spark.sources import fixtures
    from geoutils_spark.sources.sinks import write_svg_polygons

    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    out = str(tmp_path / "svg")
    write_svg_polygons(polys.select("way_id", "ring"), out, scale=1000.0)
    import glob
    import re
    files = glob.glob(out + "/*.svg")
    assert len(files) == 1
    text = open(files[0]).read()
    assert text.startswith('<svg viewBox="0 0 ')
    assert text.rstrip().endswith("</svg>")
    assert text.count("<polygon points=") == 18
    for m in re.finditer(r'points="([^"]+)"', text):
        coords = [float(v) for pair in m.group(1).split()
                  for v in pair.split(",")]
        assert all(c >= 0 for c in coords)  # shifted into the viewBox


def test_scene_obj_export(spark, osm_file, tmp_path):
    """S8 composition: the full scene exports through the OBJ sink —
    building prisms (tri faces), highway ribbons (quad faces), ground."""
    from geoutils_spark.operators.scene import scene_meshes
    from geoutils_spark.sources.sinks import write_obj_meshes

    nodes, ways = osm.read_osm(spark, osm_file)
    meshes = scene_meshes(nodes, ways)
    out = str(tmp_path / "scene")
    write_obj_meshes(meshes, out)
    import glob
    files = glob.glob(out + "/*.obj")
    assert files
    n_objects = sum(line.startswith("o ")
                    for p in files for line in open(p))
    assert n_objects == N_BUILDINGS + N_HIGHWAYS + 1
