"""OSM XML ingestion (sources/osm.py) validated on the reference
generator's test file (the ``osm_file`` fixture in conftest.py rebuilds it
from ``fixtures.polygon_grid``), then driven through the J1 nodes-ways
resolution pipeline — the analog of /root/reference/test.py:85-100."""

import pytest
from pyspark.sql import functions as F

from geoutils_spark.sources import osm

# the reference generator's test file (conftest.osm_file):
# 14 rows x 23 cols -> 322 buildings, 28 highways, 5 nodes per grid square
N_BUILDINGS, N_HIGHWAYS, N_NODES = 322, 28, 1610


def test_read_empty_paths(spark):
    """An empty path list is an empty entity table, not an obscure
    createDataFrame/repartition(0) failure."""
    ents = osm.read_osm_entities(spark, [])
    assert ents.count() == 0
    assert ents.schema == osm.ENTITY_SCHEMA


def test_read_counts(spark, osm_file):
    nodes, ways = osm.read_osm_xml(spark, osm_file)
    assert nodes.count() == N_NODES
    w = ways.select(
        "id", "refs",
        F.try_element_at("tags", F.lit("building")).alias("b"),
        F.try_element_at("tags", F.lit("highway")).alias("h"),
    ).collect()
    assert sum(1 for r in w if r.b is not None) == N_BUILDINGS
    assert sum(1 for r in w if r.h is not None) == N_HIGHWAYS


def test_xml_split_read_parity(spark, osm_file):
    """Byte-range split-read of ONE .osm XML (read_osm_xml_split) ==
    the sequential per-file reader, for odd span counts that cut through
    elements (r2 verdict task 7 — XML parity with the PBF block split)."""

    def key(df):
        return sorted(
            (r.kind, r.id, r.lon, r.lat, tuple(r.refs or []),
             tuple(sorted((r.tags or {}).items())))
            for r in df.collect())

    seq = osm.read_osm_entities(spark, osm_file)
    want = key(seq)
    for tasks in (1, 7):
        par = osm.read_osm_xml_split(spark, osm_file, tasks=tasks)
        assert key(par) == want, f"tasks={tasks}"
    import pytest
    with pytest.raises(ValueError):
        osm.read_osm_xml_split(spark, "x.osm.gz")


def test_ring_assembly_on_reference_file(spark, osm_file):
    """J1 pipeline: every building way resolves to a closed 5-point ring
    whose bbox is a 0.0002-degree square."""
    nodes, ways = osm.read_osm_xml(spark, osm_file)
    buildings = ways.filter(F.try_element_at("tags", F.lit("building")).isNotNull())
    exploded = buildings.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref"))
    resolved = exploded.join(F.broadcast(nodes), exploded.ref == nodes.id)
    agg = resolved.groupBy("way_id").agg(
        F.count("*").alias("n_pts"),
        F.count_distinct("ref").alias("n_distinct"),
        (F.max("lon") - F.min("lon")).alias("w"),
        (F.max("lat") - F.min("lat")).alias("h"),
    ).collect()
    assert len(agg) == N_BUILDINGS
    for r in agg:
        assert r.n_pts == 5 and r.n_distinct == 4  # closed ring
        assert abs(r.w - 0.0002) < 1e-12 and abs(r.h - 0.0002) < 1e-12


def test_s2_cover_of_reference_file(spark, osm_file):
    """End-to-end: ingest reference XML -> TRUE S2 level-12 cover == the two
    cells the reference pins as osms2split output filenames
    (/root/reference/test.py:80-83)."""
    from geoutils_spark.functions import s2cells as S2

    nodes, _ = osm.read_osm_xml(spark, osm_file)
    df = S2.with_s2_cell(nodes, "lon", "lat", 12, "c")
    hexes = sorted(r.h for r in
                   df.select(S2.s2_hex_col(F.col("c")).alias("h")).distinct().collect())
    assert hexes == ["48761cb000000000", "48761cd000000000"]


def test_s2_partitioned_sink_golden_dirs(spark, osm_file, tmp_path):
    """S5 with TRUE S2 tokens: partition directories for the reference file
    are EXACTLY the reference's two osms2split output filenames."""
    import os

    from geoutils_spark.sources import osm
    from geoutils_spark.sources.sinks import with_cell_token

    nodes, _ = osm.read_osm_xml(spark, osm_file)
    toks = with_cell_token(nodes, "lon", "lat", 12, backend="s2")
    out = str(tmp_path / "s2sink")
    toks.repartition(F.col("cell_hex")) \
        .write.mode("overwrite").partitionBy("cell_hex").parquet(out)
    dirs = sorted(d.split("=")[1] for d in os.listdir(out)
                  if d.startswith("cell_hex="))
    assert dirs == ["s2_48761cb000000000", "s2_48761cd000000000"]


def test_read_gzip(spark, osm_file, tmp_path):
    """Compressed extracts (.osm.gz) read transparently."""
    import gzip
    import shutil

    gz = str(tmp_path / "ref_test.osm.gz")
    with open(osm_file, "rb") as fin, gzip.open(gz, "wb") as fout:
        shutil.copyfileobj(fin, fout)
    nodes, ways = osm.read_osm_xml(spark, gz)
    assert nodes.count() == N_NODES and ways.count() == N_BUILDINGS + N_HIGHWAYS


def test_pbf_roundtrip_matches_xml(spark, osm_file, tmp_path):
    """PBF codec: write the reference corpus as .osm.pbf (DenseNodes + Ways,
    zlib blobs), read it back through the SAME Spark reader path, and match
    the XML reader row-for-row (ids, coords at pbf 100-nano granularity,
    refs, tags)."""
    from geoutils_spark.sources.osmpbf import iter_osm_pbf, write_osm_pbf

    nodes_x, ways_x = osm.read_osm_xml(spark, osm_file)
    nrows = sorted((r.id, r.lon, r.lat) for r in nodes_x.collect())
    wrows = sorted((r.id, tuple(r.refs), tuple(sorted(r.tags.items())))
                   for r in ways_x.collect())

    pbf = str(tmp_path / "ref_test.osm.pbf")
    write_osm_pbf(pbf,
                  [(i, lo, la) for i, lo, la in nrows],
                  [(i, list(refs), dict(tags)) for i, refs, tags in wrows])

    # raw iterator sanity
    ents = list(iter_osm_pbf(pbf))
    assert sum(1 for e in ents if e["kind"] == "node") == N_NODES
    assert sum(1 for e in ents if e["kind"] == "way") == N_BUILDINGS + N_HIGHWAYS

    # through the distributed reader
    nodes_p, ways_p = osm.read_osm_xml(spark, pbf)  # dispatches on .pbf
    prows = sorted((r.id, r.lon, r.lat) for r in nodes_p.collect())
    assert [i for i, _, _ in prows] == [i for i, _, _ in nrows]
    for (_i, lo1, la1), (_j, lo2, la2) in zip(nrows, prows):
        assert abs(lo1 - lo2) < 1e-7 and abs(la1 - la2) < 1e-7  # 100-nano grid
    pw = sorted((r.id, tuple(r.refs), tuple(sorted(r.tags.items())))
                for r in ways_p.collect())
    assert pw == wrows


def test_osms2split_end_to_end_pbf(spark, osm_file, tmp_path):
    """THE osms2split contract, end to end: reference XML in -> per-cell
    .osm.pbf out with EXACTLY the reference's pinned output filenames
    (/root/reference/test.py:80-83), each file re-readable by the pbf
    reader with complete, deduped contents."""
    from geoutils_spark.sources.sinks import write_s2_split_pbf

    nodes, ways = osm.read_osm(spark, osm_file)
    out = str(tmp_path / "split")
    files = write_s2_split_pbf(nodes, ways, out, level=12)
    assert files == ["s2_48761cb000000000.osm.pbf",
                     "s2_48761cd000000000.osm.pbf"]
    total_ways = 0
    for fn in files:
        n2, w2 = osm.read_osm(spark, out + "/" + fn)
        nrows = n2.collect()
        wrows = w2.collect()
        assert len({r.id for r in nrows}) == len(nrows)  # deduped nodes
        have = {r.id for r in nrows}
        for wr in wrows:
            assert set(wr.refs) <= have  # every way fully resolvable
        total_ways += len(wrows)
    # every way lands in >= 1 cell; ways spanning the cell boundary appear twice
    assert total_ways >= N_BUILDINGS + N_HIGHWAYS


def test_osmsplit_end_to_end_pbf(spark, osm_file, tmp_path):
    """THE osmsplit contract (reference test_OsmSplit, test.py:63-74):
    reference file in -> sampled density histogram -> 4-level weighted-
    median split plan -> exactly 16 files test[01]{4}.osm.pbf out, every
    way fully resolvable in each of its files."""
    import re

    from geoutils_spark.operators.partitioner import (build_split_plan,
                                                      density_histogram)
    from geoutils_spark.sources.sinks import write_leaf_split_pbf

    nodes, ways = osm.read_osm(spark, osm_file)
    rows = nodes.collect()
    bbox = (min(r.lon for r in rows), min(r.lat for r in rows),
            max(r.lon for r in rows) + 1e-9, max(r.lat for r in rows) + 1e-9)
    hist = density_histogram(nodes, bbox, d=256)
    plan = build_split_plan(hist, bbox, levels=4, d=256, name_prefix="test")
    out = str(tmp_path / "leafsplit")
    files = write_leaf_split_pbf(nodes, ways, out, plan)
    assert len(files) == 16
    rx = re.compile(r"test[01]{4}\.osm\.pbf")
    assert all(rx.fullmatch(f) for f in files)
    # leaves are roughly balanced and every way resolvable per file
    for fn in files[:4]:
        n2, w2 = osm.read_osm(spark, out + "/" + fn)
        have = {r.id for r in n2.collect()}
        assert have
        for wr in w2.collect():
            assert set(wr.refs) <= have


def test_pbf_block_split_read(spark, osm_file, tmp_path):
    """Block-level parallel read of ONE pbf == the sequential read, with
    multiple blob spans distributed across tasks."""
    from geoutils_spark.sources.osmpbf import pbf_blob_spans, write_osm_pbf

    nodes_x, ways_x = osm.read_osm(spark, osm_file)
    pbf = str(tmp_path / "blocks.osm.pbf")
    write_osm_pbf(pbf,
                  [(r.id, r.lon, r.lat) for r in nodes_x.collect()],
                  [(r.id, list(r.refs), dict(r.tags)) for r in ways_x.collect()],
                  block_size=200)  # force many blobs
    spans = pbf_blob_spans(pbf)
    assert len(spans) > 5  # genuinely multi-blob
    ents = osm.read_osm_pbf_split(spark, pbf, tasks=4)
    assert ents.rdd.getNumPartitions() == 4
    n = osm.nodes(ents)
    w = osm.ways(ents)
    assert n.count() == N_NODES
    assert w.count() == N_BUILDINGS + N_HIGHWAYS
    assert {r.id for r in n.collect()} == {r.id for r in nodes_x.collect()}
