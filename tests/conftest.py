import os
import sys
from xml.sax.saxutils import quoteattr

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("geoutils_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# The reference generator's test file (test.py:39-52 there: extents below,
# -s 0.0002): 14 rows x 23 columns of buildings -> 322 buildings,
# 28 highways, 5 nodes per grid square.
OSM_EXTENTS = (-0.085415, 51.522852, -0.076432, 51.528441)
OSM_SPACE = 0.0002
OSM_NX, OSM_NY = 23, 14


def write_osm_xml(path, nodes, ways):
    """Write (id, lon, lat) nodes and (id, refs, tags) ways as OSM XML,
    one element per line, coordinates in shortest round-trip form."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("<?xml version='1.0' encoding='UTF-8'?>\n"
                '<osm version="0.6" generator="geoutils_spark tests">\n')
        for i, lon, lat in nodes:
            f.write(f' <node id="{i}" lat="{lat!r}" lon="{lon!r}"/>\n')
        for i, refs, tags in ways:
            f.write(f' <way id="{i}">\n')
            f.writelines(f'  <nd ref="{r}"/>\n' for r in refs)
            f.writelines(f"  <tag k={quoteattr(k)} v={quoteattr(v)}/>\n"
                         for k, v in tags.items())
            f.write(" </way>\n")
        f.write("</osm>\n")


@pytest.fixture(scope="session")
def osm_file(tmp_path_factory):
    """The reference generator's test file, rebuilt from
    ``fixtures.polygon_grid`` (which mirrors that generator) with the
    grid spacing pinned to ``OSM_SPACE``."""
    from geoutils_spark.sources.fixtures import polygon_grid

    # the generator takes the buildings' west edge from extents[2] (the
    # slip fixtures.polygon_grid documents); the pinned S2 cells need it
    _, lat0, lon0, lat1 = OSM_EXTENTS
    extents = (lon0, lat0, lon0 + 2 * OSM_NX * OSM_SPACE, lat1)
    _, nodes, ways = polygon_grid(extents, nx=OSM_NX, ny=OSM_NY)
    path = str(tmp_path_factory.mktemp("osm") / "ref_test.osm")
    write_osm_xml(path, nodes, ways)
    return path
