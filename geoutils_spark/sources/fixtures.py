"""Deterministic synthetic fixtures: pages / polygons / nodes / ways.

Everything is a pure function of row index or grid index — no RNG state, no
clock — mirroring the reference's procedural generator
(/root/reference/create_test_osm_file.py:140-209: `space` x `space` rectangular
buildings every `2*space` over given extents, tagged building=yes/height=30.0,
plus east-west and north-south 'primry' highways through offset road nodes)
so goldens are stable the same way the reference's are
(/root/reference/test.py:63-100).

`pages` is generated *in Spark* (scales to the bench's millions of rows with
no driver materialization); the polygon grid is small and built driver-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoutils_spark.constants import LONDON_EXTENTS
from geoutils_spark.functions.keys import key_lat_col, key_lon_col
from geoutils_spark.functions.textextract import extract_text_udf

WARC_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
LANGS = ["en", "de", "fr", "es", "pt"]
_WORDS = [
    "market", "river", "bridge", "castle", "garden", "station", "museum",
    "harbour", "tower", "abbey", "square", "lane", "court", "bank", "cross",
]


def _words_expr(i, n_words: int, stride: int):
    """Deterministic word sequence from the row index (JVM-side)."""
    parts = []
    arr = F.array(*[F.lit(w) for w in _WORDS])
    for j in range(n_words):
        parts.append(
            F.element_at(arr, (F.pmod(i * stride + j * 7, F.lit(len(_WORDS))) + 1).cast("int"))
        )
    return F.concat_ws(" ", *parts)


def pages_df(spark: SparkSession, n: int, hot_fraction: float = 0.0) -> DataFrame:
    """Common-Crawl-style pages table (FIXTURES.md §1):
    (page_id, url, warc_ts, html, text, lang) + derived geo via key math.

    ``hot_fraction`` > 0 collapses that share of rows onto one page_key so a
    single cell becomes hot (skew-handling testbed).
    """
    df = spark.range(n).withColumnRenamed("id", "page_id")
    i = F.col("page_id")
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), (F.pmod(i, F.lit(5)) + 1).cast("int"))
    url = F.concat(
        F.lit("https://site"), F.pmod(i, F.lit(503)).cast("string"),
        F.lit(".example/"), lang, F.lit("/page"), i.cast("string"),
    )
    title = _words_expr(i, 4, 13)
    para1 = _words_expr(i, 24, 5)
    para2 = _words_expr(i, 18, 11)
    html = F.concat(
        F.lit("<!DOCTYPE html>\n<html><head>\n<title>"), title,
        F.lit(" &amp; page "), i.cast("string"),
        F.lit("</title>\n<style>body { color: #000; }</style>\n"
              "<script type=\"text/javascript\">var x = "),
        i.cast("string"),
        F.lit("; if (x < 2) { x = x & 3; }</script>\n"
              "<!-- generator: fixture v1 -->\n</head>\n<body>\n<h1>"),
        title,
        F.lit("</h1>\n<p>"), para1,
        F.lit(" &#8364;"), F.pmod(i, F.lit(97)).cast("string"),
        F.lit("</p>\n<div class=\"x\"><p>"), para2,
        F.lit(" &lt;tag&gt; &quot;q&quot;</p></div>\n<ul><li>item "),
        F.pmod(i, F.lit(7)).cast("string"),
        F.lit("</li><li>lang "), lang,
        F.lit("</li></ul>\n<a href=\"/page"), i.cast("string"),
        F.lit("\">next&nbsp;link</a>\n</body></html>\n"),
    )
    # Skew knob: hot rows share one key → one hot cell downstream.
    hot_n = int(n * hot_fraction)
    key = F.when(i < F.lit(hot_n), F.lit(0)).otherwise(i) if hot_n else i
    df = (
        df.withColumn("lang", lang)
        .withColumn("url", url)
        .withColumn("warc_ts",
                    F.timestamp_seconds(F.lit(WARC_EPOCH) + F.pmod(i * 9973, F.lit(31536000))))
        .withColumn("html", html.cast("binary"))
        .withColumn("page_key", key)
    )
    # Golden text is the engine's own deterministic extraction, pinned at
    # fixture-gen time (re-extraction must reproduce it byte-for-byte).
    return df.withColumn("text", extract_text_udf(F.col("html")))


def with_page_geo(df: DataFrame, extents=LONDON_EXTENTS) -> DataFrame:
    """Derive (lon, lat) from page_key — derivation itself is under test."""
    return (
        df.withColumn("lon", key_lon_col(F.col("page_key"), extents))
        .withColumn("lat", key_lat_col(F.col("page_key"), extents))
    )


# ---------------------------------------------------------------------------
# Polygon grid (driver-side; mirrors create_test_osm_file.execute)
# ---------------------------------------------------------------------------

POLYGON_SCHEMA = T.StructType([
    T.StructField("way_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    T.StructField("ring", T.ArrayType(T.StructType([
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("lat", T.DoubleType(), False),
    ])), False),
    T.StructField("bbox", T.StructType([
        T.StructField("minx", T.DoubleType(), False),
        T.StructField("miny", T.DoubleType(), False),
        T.StructField("maxx", T.DoubleType(), False),
        T.StructField("maxy", T.DoubleType(), False),
    ]), False),
])


def grid_space(extents=LONDON_EXTENTS, nx: int = 6) -> float:
    lon0, _, lon1, _ = extents
    return (lon1 - lon0) / (2.0 * nx)


def polygon_grid(extents=LONDON_EXTENTS, nx: int = 6, ny: int = 3):
    """Python-side grid build: returns (polygons, nodes, ways) row lists.

    Buildings: `space`x`space` squares every `2*space`
    (create_test_osm_file.py:151-183, reading sw from extents[0] — the
    reference code's extents[2] there is an off-by-index slip its pinned S2
    cell names depend on; tests/conftest.py shifts the extents to match).
    Highways: east-west rows + north-south columns through road
    nodes offset +1.5*space (ibid. :166-205).

    The grid is parameterized by integer counts (nx, ny) rather than a float
    stop condition so a SQL oracle can regenerate the identical geometry with
    no float-boundary ambiguity; ``space = (lon1-lon0)/(2*nx)``.
    Building way_ids are ``yi*nx + xi`` (0..nx*ny-1); highways follow.
    """
    lon0, lat0, lon1, lat1 = extents
    space = grid_space(extents, nx)
    node_id = 0
    way_id = 0
    nodes: list[tuple] = []        # (id, lon, lat)
    ways: list[tuple] = []         # (id, refs, tags)
    polys: list[dict] = []
    road_nodes: list[int] = []
    for yidx in range(ny):
        for xidx in range(nx):
            sw = (lon0 + space * xidx * 2, lat0 + space * yidx * 2)
            ne = (sw[0] + space, sw[1] + space)
            road = (ne[0] + space * 0.5, ne[1] + space * 0.5)
            road_nodes.append(node_id)
            nodes.append((node_id, road[0], road[1]))
            node_id += 1
            corner_ids = []
            ring = [(ne[0], ne[1]), (sw[0], ne[1]), (sw[0], sw[1]), (ne[0], sw[1])]
            for lon, lat in ring:
                nodes.append((node_id, lon, lat))
                corner_ids.append(node_id)
                node_id += 1
            refs = corner_ids + [corner_ids[0]]
            tags = {"building": "yes", **_building_tag_variant(way_id)}
            ways.append((way_id, refs, tags))
            ring_closed = ring + [ring[0]]
            polys.append(_poly_row(way_id, "building", tags, ring_closed))
            way_id += 1
    for i in range(ny):
        ew = road_nodes[i * nx:(i + 1) * nx]
        tags = {"highway": "primry", "direction": "east-west"}
        ways.append((way_id, ew, tags))
        polys.append(_poly_row(way_id, "highway", tags,
                               [(nodes[r][1], nodes[r][2]) for r in ew]))
        way_id += 1
        ns = [road_nodes[j * nx + i] for j in range(ny) if j * nx + i < len(road_nodes)]
        tags = {"highway": "primry", "direction": "north-south"}
        ways.append((way_id, ns, tags))
        polys.append(_poly_row(way_id, "highway", tags,
                               [(nodes[r][1], nodes[r][2]) for r in ns]))
        way_id += 1
    return polys, nodes, ways


def zones_df(spark: SparkSession, extents=LONDON_EXTENTS,
             nx: int = 6, ny: int = 3, nz: int = 6) -> DataFrame:
    """Second polygon layer for polygon⋈polygon overlay queries: ``nz``
    diamond (45°-rotated square) zones centered on building NE corners of
    the grid, radius 1.5·space — every diamond straddles up to four
    buildings with genuinely oblique edge crossings (no axis-aligned or
    collinear degeneracies against the rect grid).

    Deterministic float math (same op order as ``polygon_grid``) so a SQL
    oracle regenerates identical geometry bit-for-bit.
    """
    lon0, lat0, _, _ = extents
    space = grid_space(extents, nx)
    rows = []
    for zi in range(nz):
        xi = zi % (nx - 1)
        yi = zi % ny
        cx = lon0 + space * xi * 2 + space
        cy = lat0 + space * yi * 2 + space
        r = space * 1.5
        ring = [(cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r),
                (cx + r, cy)]
        rows.append({
            "zone_id": zi,
            "ring": [{"lon": x, "lat": y} for x, y in ring],
            "bbox": {"minx": cx - r, "miny": cy - r,
                     "maxx": cx + r, "maxy": cy + r},
        })
    return spark.createDataFrame(rows, T.StructType([
        T.StructField("zone_id", T.LongType(), False),
        T.StructField("ring", T.ArrayType(T.StructType([
            T.StructField("lon", T.DoubleType(), False),
            T.StructField("lat", T.DoubleType(), False),
        ])), False),
        T.StructField("bbox", T.StructType([
            T.StructField("minx", T.DoubleType(), False),
            T.StructField("miny", T.DoubleType(), False),
            T.StructField("maxx", T.DoubleType(), False),
            T.StructField("maxy", T.DoubleType(), False),
        ]), False),
    ]))


def _building_tag_variant(way_id: int) -> dict:
    """Deterministic tag variety so the height/name priority cascades
    (reference F8/F9, osmfeature.cpp:23-86) are all exercised: height tag,
    levels-derived, default, and bad-parse fallback; name tag, addr
    housename, housenumber+street, and id fallback."""
    h = {
        0: {"height": "30.0"},
        1: {"building:levels": "4"},
        2: {},
        3: {"height": "not_a_number", "building:levels": "2"},
    }[way_id % 4]
    n = {
        0: {"name": f"Building {way_id}"},
        1: {"addr:housename": f"House {way_id}"},
        2: {"addr:housenumber": str(way_id), "addr:street": "High Street"},
        3: {},
    }[(way_id + 1) % 4]  # offset decorrelates name variant from height variant
    return {**h, **n}


def _poly_row(way_id: int, kind: str, tags: dict, ring: list[tuple]) -> dict:
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    return {
        "way_id": way_id,
        "kind": kind,
        "tags": tags,
        "ring": [{"lon": x, "lat": y} for x, y in ring],
        "bbox": {"minx": min(xs), "miny": min(ys), "maxx": max(xs), "maxy": max(ys)},
    }


def polygons_df(spark: SparkSession, extents=LONDON_EXTENTS,
                nx: int = 6, ny: int = 3) -> DataFrame:
    polys, _, _ = polygon_grid(extents, nx, ny)
    return spark.createDataFrame(polys, POLYGON_SCHEMA)


POLYGON_RINGS_SCHEMA = T.StructType([
    T.StructField("way_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    T.StructField("rings", T.ArrayType(T.StructType([
        T.StructField("lon", T.ArrayType(T.DoubleType()), False),
        T.StructField("lat", T.ArrayType(T.DoubleType()), False),
    ])), False),
    T.StructField("bbox", T.StructType([
        T.StructField("minx", T.DoubleType(), False),
        T.StructField("miny", T.DoubleType(), False),
        T.StructField("maxx", T.DoubleType(), False),
        T.StructField("maxy", T.DoubleType(), False),
    ]), False),
])

# Interior-ring (hole) inset as a fraction of the building edge: the hole is
# the centered half-size square [0.25, 0.75] x [0.25, 0.75] of each building.
HOLE_LO = 0.25
HOLE_HI = 0.75


def polygons_with_holes_df(spark: SparkSession, extents=LONDON_EXTENTS,
                           nx: int = 6, ny: int = 3) -> DataFrame:
    """Donut variant of the building grid: every building polygon carries an
    interior ring (courtyard) — the multipolygon/even-odd case the reference
    handles via Clipper (/root/reference/osm2assimp/utils.cpp:95-154; donut
    meshes exercised at /root/reference/osm2assimp/test.cpp:26-76).

    Hole coords are derived from the STORED bbox doubles (minx + space*0.25
    etc.), so a SQL oracle regenerating the grid reproduces them bit-for-bit.
    """
    polys, _, _ = polygon_grid(extents, nx, ny)
    space = grid_space(extents, nx)
    out = []
    for p in polys:
        if p["kind"] != "building":
            continue
        outer_lon = [pt["lon"] for pt in p["ring"]]
        outer_lat = [pt["lat"] for pt in p["ring"]]
        b = p["bbox"]
        h0x, h1x = b["minx"] + space * HOLE_LO, b["minx"] + space * HOLE_HI
        h0y, h1y = b["miny"] + space * HOLE_LO, b["miny"] + space * HOLE_HI
        # interior ring wound OPPOSITE to the outer (standard multipolygon
        # convention): signed ring areas then subtract in constructive
        # area ops; the even-odd PIP is orientation-independent either way.
        hole_lon = [h0x, h0x, h1x, h1x, h0x]
        hole_lat = [h0y, h1y, h1y, h0y, h0y]
        out.append({
            "way_id": p["way_id"],
            "kind": p["kind"],
            "tags": p["tags"],
            "rings": [
                {"lon": outer_lon, "lat": outer_lat},
                {"lon": hole_lon, "lat": hole_lat},
            ],
            "bbox": b,
        })
    return spark.createDataFrame(out, POLYGON_RINGS_SCHEMA)


def nodes_ways_df(spark: SparkSession, extents=LONDON_EXTENTS,
                  nx: int = 6, ny: int = 3) -> tuple[DataFrame, DataFrame]:
    """Raw OSM-shaped tables for the nodes⋈ways location-resolution join
    (FIXTURES.md §3; reference J1)."""
    _, nodes, ways = polygon_grid(extents, nx, ny)
    nodes_df = spark.createDataFrame(
        pd.DataFrame(nodes, columns=["id", "lon", "lat"]),
        "id long, lon double, lat double",
    )
    ways_df = spark.createDataFrame(
        [(w, list(r), t) for w, r, t in ways],
        "id long, refs array<long>, tags map<string,string>",
    )
    return nodes_df, ways_df


_CONTAM_PHRASE = "seven silver needles gather beneath willow stones tonight"


def benchmark_docs_df(spark: SparkSession, n_bench: int = 20) -> DataFrame:
    """Tiny eval-suite table (text) for decontamination smoke runs. Every
    row embeds ``_CONTAM_PHRASE`` (8 tokens = one shared 8-gram), padded
    with per-row words so rows are distinct; the vocabulary is disjoint
    from both ``_WORDS`` and the stopword suffix, so only deliberately
    contaminated corpus docs collide."""
    return spark.range(n_bench).select(
        F.concat_ws(
            " ", F.lit("benchmark question"), F.col("id").cast("string"),
            F.lit(_CONTAM_PHRASE),
            F.lit("answer option"), (F.col("id") * 3).cast("string"),
        ).alias("text"))


def corpus_smoke_df(spark: SparkSession, n: int) -> DataFrame:
    """Corpus-prep smoke table (doc_id, text) with one planted defect class
    per pipeline stage (operators/corpus.py):

    - ``doc_id % 11 == 0``  -> short junk (< min_tokens) … quality gate
    - ``doc_id % 13 == 0``  -> embeds the benchmark suite's 8-gram
      (``_CONTAM_PHRASE``)                     … decontamination
    - ``doc_id % 5 == 0``   -> exact copy at id+10n     … exact dedup
    - ``doc_id % 3 == 0``   -> 3-tokens-shorter mutant at id+20n … near dedup

    Body tokens are hash-mixed over a ~1M-word synthetic vocabulary so
    unrelated docs share essentially no shingles (``pages_df`` text cycles
    a 15-word list with period ≤15, which makes *every* doc a near-dup of
    its residue class — useless for a dedup funnel), and every doc ends
    with a stopword suffix so the Gopher gate's stopword_ratio is
    satisfiable. Deterministic in doc_id alone.
    """
    i = F.col("id")
    n_words = (F.lit(48) + F.pmod(i, F.lit(13))).cast("int")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_words - 1),
            # inner pmod keeps the product < 2^52 (ANSI long-overflow);
            # the j*j term prevents shift-aligned token runs between docs
            lambda j: F.concat(
                F.lit("w"),
                F.pmod(
                    F.pmod(i * 524287 + j * j + j, F.lit(1048573))
                    * 2654435761,
                    F.lit(1048573),
                ).cast("string"),
            ),
        ),
        " ",
    )
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 11 == 0, F.lit("zz zz zz")
        ).otherwise(
            F.concat_ws(
                " ", body,
                # concat_ws skips NULLs, so clean docs get no extra token
                F.when(F.col("id") % 13 == 0,
                       F.lit(_CONTAM_PHRASE)).otherwise(F.lit(None)),
                F.lit("the of and in to is it for on a"),
            )
        ).alias("text"),
    )
    toks = F.split(F.col("text"), " ")
    off = n * 10
    exact = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + off).alias("doc_id"), "text")
    mut = base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 2 * off).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(0))), " "
        ).alias("text"))
    return base.unionByName(exact).unionByName(mut)
