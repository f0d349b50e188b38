"""Geodesy kernels vs independent closed-form checks; the reference's own
golden is `Cell Center = 51.473,-0.0468724` (/root/reference/test.bats:81-90)."""

import numpy as np
from pyspark.sql import functions as F

from geoutils_spark.functions import geodesy as G


def test_haversine_known_value(spark):
    # London -> Paris ≈ 343.5 km (6371km sphere)
    df = spark.createDataFrame(
        [(-0.1278, 51.5074, 2.3522, 48.8566)], "lon1 double, lat1 double, lon2 double, lat2 double")
    d = df.select(G.haversine_m_col(
        F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d")).first().d
    assert abs(d - 343.5e3) < 1.5e3


def test_haversine_sql_parity(spark):
    import duckdb
    rows = [(-0.1278, 51.5074, 2.3522, 48.8566), (0.0, 0.0, 1.0, 1.0),
            (-179.9, 10.0, 179.9, 10.2)]
    df = spark.createDataFrame(rows, "lon1 double, lat1 double, lon2 double, lat2 double")
    got = [r.d for r in df.select(G.haversine_m_col(
        F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d")).collect()]
    expr = G.haversine_m_sql("lon1", "lat1", "lon2", "lat2")
    want = [
        duckdb.sql(
            f"SELECT {expr} AS d FROM (SELECT {a} lon1, {b} lat1, {c} lon2, {d} lat2)"
        ).fetchone()[0]
        for a, b, c, d in rows
    ]
    np.testing.assert_allclose(got, want, rtol=1e-12)


def test_bearing(spark):
    df = spark.createDataFrame([(0.0, 0.0, 0.0, 1.0), (0.0, 0.0, 1.0, 0.0)],
                               "lon1 double, lat1 double, lon2 double, lat2 double")
    got = [r.b for r in df.select(G.bearing_deg_col(
        F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("b")).collect()]
    assert abs(got[0] - 0.0) < 1e-9   # due north
    assert abs(got[1] - 90.0) < 1e-9  # due east


def test_ecef_ned_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-85, 85, 500)
    alt = rng.uniform(0, 5000, 500)
    lla = G.ecef_to_lla_np(G.lla_to_ecef_np(lon, lat, alt))
    np.testing.assert_allclose(lla[:, 0], lon, atol=1e-9)
    np.testing.assert_allclose(lla[:, 1], lat, atol=1e-7)
    np.testing.assert_allclose(lla[:, 2], alt, atol=1e-3)
    origin = (-0.1, 51.5, 0.0)
    ned = G.lla_to_ned_np(lon, lat, alt, origin)
    back = G.ned_to_lla_np(ned, origin)
    np.testing.assert_allclose(back[:, 0], lon, atol=1e-9)
    np.testing.assert_allclose(back[:, 1], lat, atol=1e-7)


def test_ned_udf(spark):
    df = spark.createDataFrame([(-0.0468724, 51.473, 0.0)], "lon double, lat double, alt double")
    udf = G.make_lla_to_ned_udf((-0.0468724, 51.473, 0.0))
    r = df.select(udf(F.col("lon"), F.col("lat"), F.col("alt")).alias("ned")).first().ned
    assert abs(r.n) < 1e-6 and abs(r.e) < 1e-6 and abs(r.d) < 1e-6


def test_mercator(spark):
    df = spark.createDataFrame([(0.0, 0.0), (-0.0468724, 51.473)], "lon double, lat double")
    x, y = G.mercator_xy_col(F.col("lon"), F.col("lat"))
    rows = df.select(x.alias("x"), y.alias("y")).collect()
    assert rows[0].x == 0.0 and abs(rows[0].y) < 1e-6
    assert abs(rows[1].x - (-5217.8)) < 1.0  # -0.0468724° at equator radius


def test_spherical_area_rectangle_analytic(spark):
    """For a lon/lat-aligned rectangle the C-D line integral reduces to
    the exact spherical band area R^2 * dlam * (sin(lat2) - sin(lat1));
    orientation flips the sign."""
    import math

    from pyspark.sql import functions as F

    from geoutils_spark.constants import EARTH_RADIUS_M
    from geoutils_spark.functions.geodesy import spherical_area_col

    lon0, lon1, lat0, lat1 = -0.08, -0.02, 51.52, 51.55
    ccw = ([lon0, lon1, lon1, lon0], [lat0, lat0, lat1, lat1])
    cw = (list(reversed(ccw[0])), list(reversed(ccw[1])))
    df = spark.createDataFrame(
        [(1, *ccw), (2, *cw)],
        "i long, xs array<double>, ys array<double>")
    got = {r["i"]: r["a"] for r in df.select(
        "i", spherical_area_col(F.col("xs"), F.col("ys")).alias("a"))
        .collect()}
    exact = (EARTH_RADIUS_M ** 2 * math.radians(lon1 - lon0)
             * (math.sin(math.radians(lat1)) - math.sin(math.radians(lat0))))
    assert abs(got[1] - exact) / exact < 1e-12
    assert abs(got[2] + exact) / exact < 1e-12   # CW = negative
    # sanity scale: ~4.17 km x ~3.34 km patch ~ 1.39e7 m^2
    assert 1e7 < got[1] < 2e7


def test_destination_roundtrip(spark):
    """dest(p, bearing(p->q), haversine(p, q)) == q (direct inverts
    the inverse problem); poles/antimeridian normalization checked via
    an eastbound hop across lon=180."""
    from pyspark.sql import functions as F

    from geoutils_spark.functions.geodesy import (
        bearing_deg_col, destination_col, haversine_m_col)

    df = spark.createDataFrame(
        [(1, -0.1, 51.5, 2.35, 48.85),      # London -> Paris
         (2, 179.95, 10.0, -179.9, 10.2),   # across the antimeridian
         (3, 18.0, 59.3, 18.1, 59.31)],     # short hop
        "i long, lon1 double, lat1 double, lon2 double, lat2 double")
    brg = bearing_deg_col(F.col("lon1"), F.col("lat1"),
                          F.col("lon2"), F.col("lat2"))
    dist = haversine_m_col(F.col("lon1"), F.col("lat1"),
                           F.col("lon2"), F.col("lat2"))
    dlon, dlat = destination_col(F.col("lon1"), F.col("lat1"), brg, dist)
    rows = df.select("lon2", "lat2", dlon.alias("glon"),
                     dlat.alias("glat")).collect()
    for r in rows:
        assert abs(r["glat"] - r["lat2"]) < 1e-9
        assert abs(r["glon"] - r["lon2"]) < 1e-9
    # normalization: destination lon always lands in [-180, 180)
    far = spark.createDataFrame([(179.99, 0.0)], "lon double, lat double")
    glon, _ = destination_col(F.col("lon"), F.col("lat"),
                              F.lit(90.0), F.lit(50000.0))
    v = far.select(glon.alias("g")).collect()[0]["g"]
    assert -180.0 <= v < 180.0 and v < -179.5  # wrapped across the seam


def test_track_segments_hand_replay(spark):
    """geo_track_segments on a hand-built track: a user walks three
    close points (one segment), teleports 5+ km (distance break), walks
    two more, then goes silent past the 4 h gap (time break). Counts,
    durations and integer-mm path lengths must match the hand replay;
    the opening step of each segment contributes 0 path."""
    import math
    import os
    import tempfile

    from pyspark.sql import functions as F

    from geoutils_spark.queries import SPARK_QUERIES
    from geoutils_spark.functions.keys import key_lon_col, key_lat_col
    from geoutils_spark.functions.geodesy import haversine_m_col

    # pick event_ids whose synthesized coords we then read back, so the
    # expectation derives from the SAME kernels (independent replay of
    # the segmentation logic, not of the coordinate synthesis)
    ids = [10, 11, 12, 13, 14, 15]
    base = 1_700_000_000_000_000  # epoch us
    minute = 60_000_000
    rows = [
        (ids[0], base + 0 * minute, 5),
        (ids[1], base + 1 * minute, 5),
        (ids[2], base + 2 * minute, 5),
        (ids[3], base + 3 * minute, 5),
        (ids[4], base + 4 * minute, 5),
        # 5-hour silence -> time break regardless of distance
        (ids[5], base + 4 * minute + 5 * 3600 * 1_000_000, 5),
    ]
    tmp = tempfile.mkdtemp()
    df = spark.createDataFrame(
        [(e, u) for e, t, u in rows], "event_id long, user_id long"
    ).select(
        "event_id", "user_id",
        F.timestamp_micros(
            F.lit(0) + F.element_at(
                F.create_map(*[F.lit(x) for pair in
                               [(e, t) for e, t, _ in rows]
                               for x in pair]),
                F.col("event_id"))).cast("timestamp_ntz").alias("ts"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"), F.lit("{}").alias("props"))
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))

    # hand replay: per-step distances from the same haversine kernel
    pts = spark.createDataFrame([(e,) for e in ids], "event_id long").select(
        "event_id", key_lon_col(F.col("event_id")).alias("lon"),
        key_lat_col(F.col("event_id")).alias("lat")).collect()
    coord = {r["event_id"]: (r["lon"], r["lat"]) for r in pts}
    steps = {}
    for a, b in zip(ids, ids[1:]):
        d = spark.range(1).select(haversine_m_col(
            F.lit(coord[a][0]), F.lit(coord[a][1]),
            F.lit(coord[b][0]), F.lit(coord[b][1])).alias("d")).collect()
        steps[(a, b)] = int(round(d[0]["d"] * 1000))

    out = {(r["user_id"], r["seg_id"]): r for r in
           SPARK_QUERIES["geo_track_segments"](spark, tmp).collect()}
    # replay segmentation: breaks where step > 3km or gap > 4h
    segs, cur = [], [ids[0]]
    for (a, b) in zip(ids, ids[1:]):
        gap_us = dict((e, t) for e, t, _ in rows)[b] - \
            dict((e, t) for e, t, _ in rows)[a]
        if steps[(a, b)] > 3_000_000 or gap_us > 4 * 3600 * 1_000_000:
            segs.append(cur)
            cur = [b]
        else:
            cur.append(b)
    segs.append(cur)
    assert len(out) == len(segs)
    tsof = dict((e, t) for e, t, _ in rows)
    for i, seg in enumerate(segs, start=1):
        r = out[(5, i)]
        assert r["n_points"] == len(seg)
        assert r["dur_us"] == tsof[seg[-1]] - tsof[seg[0]]
        want_path = sum(steps[(a, b)] for a, b in zip(seg, seg[1:]))
        assert r["path_mm"] == want_path


def test_od_matrix_endpoints(spark):
    """geo_od_matrix invariants on sf0.001 events: total trips == total
    segments (every segment contributes exactly one OD pair), n_users
    bounded by n_trips, and each endpoint cell decodes to a coordinate
    inside the synthesis extents."""
    from pyspark.sql import functions as F

    from geoutils_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    od = SPARK_QUERIES["geo_od_matrix"](spark, sf).collect()
    segs = SPARK_QUERIES["geo_track_segments"](spark, sf).count()
    assert sum(r["n_trips"] for r in od) == segs
    assert all(1 <= r["n_users"] <= r["n_trips"] for r in od)
    from geoutils_spark.functions import cells as C
    cells = {r["o_cell"] for r in od} | {r["d_cell"] for r in od}
    dec = spark.createDataFrame([(c,) for c in cells], "cell_id long")
    for r in C.with_cell_center(dec, "cell_id", 15, "clon", "clat").collect():
        assert -0.2 < r["clon"] < 0.1 and 51.4 < r["clat"] < 51.6


def test_geofence_dwell_python_replay(spark):
    """Independent pure-python replay of geo_geofence_dwell at sf0.001:
    derive the same synthesized points, assign zones by half-open bbox,
    find maximal consecutive runs per (user, zone), keep runs with
    >= 2 points and >= 1 h dwell — the result sets must match exactly
    (incl. gaps-and-islands visit boundaries)."""
    from pyspark.sql import functions as F

    from geoutils_spark.queries import SPARK_QUERIES, _DWELL_MIN_US
    from geoutils_spark.functions.keys import key_lon_col, key_lat_col
    from geoutils_spark.sources import fixtures

    sf = "/root/testdata/sf0.001"
    pts = spark.read.parquet(sf + "/events.parquet").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        key_lon_col(F.col("event_id")).alias("lon"),
        key_lat_col(F.col("event_id")).alias("lat")).collect()
    zones = [(r["way_id"], r["bbox"]) for r in
             fixtures.polygons_df(spark)
             .filter(F.col("kind") == "building").collect()]

    by_user = {}
    for r in sorted(pts, key=lambda r: (r["user_id"], r["ts_us"],
                                        r["event_id"])):
        zid = None
        for wid, b in zones:
            if (b["minx"] <= r["lon"] < b["maxx"]
                    and b["miny"] <= r["lat"] < b["maxy"]):
                zid = wid
                break
        by_user.setdefault(r["user_id"], []).append((r["ts_us"], zid))
    want = set()
    for uid, seq in by_user.items():
        run_zone, run = None, []
        for ts, zid in seq + [(None, None)]:
            if zid is not None and zid == run_zone:
                run.append(ts)
                continue
            if run_zone is not None and len(run) >= 2 \
                    and run[-1] - run[0] >= _DWELL_MIN_US:
                want.add((uid, run_zone, len(run), run[0], run[-1]))
            run_zone, run = zid, ([ts] if zid is not None else [])
    got = {(r["user_id"], r["way_id"], r["n_points"],
            r["enter_us"], r["exit_us"])
           for r in SPARK_QUERIES["geo_geofence_dwell"](spark, sf).collect()}
    assert got == want and len(want) > 0


def test_colocation_blocking_and_dedup(spark):
    """geo_colocation_pairs on sf0.001: (a) pair counts never exceed the
    number of distinct (cell, bucket) blocks both users share — the
    per-(user, block) DISTINCT collapses repeat pings; (b) every
    reported pair shares >= 2 blocks in an independent python replay;
    (c) ordering invariant user_a < user_b."""
    from pyspark.sql import functions as F

    from geoutils_spark.queries import (
        SPARK_QUERIES, _COLOC_BUCKET_US, _COLOC_LEVEL)
    from geoutils_spark.functions.keys import key_lon_col, key_lat_col
    from geoutils_spark.functions import cells as C

    sf = "/root/testdata/sf0.001"
    pts = spark.read.parquet(sf + "/events.parquet").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        key_lon_col(F.col("event_id")).alias("lon"),
        key_lat_col(F.col("event_id")).alias("lat"))
    blk = C.with_cell(pts, "lon", "lat", _COLOC_LEVEL, "cell_id").select(
        "user_id", "cell_id",
        F.expr(f"ts_us div {_COLOC_BUCKET_US}").alias("bucket")).collect()
    by_user = {}
    for r in blk:
        by_user.setdefault(r["user_id"], set()).add(
            (r["cell_id"], r["bucket"]))
    want = {}
    users = sorted(by_user)
    for i, ua in enumerate(users):
        for ub in users[i + 1:]:
            shared = len(by_user[ua] & by_user[ub])
            if shared >= 2:
                want[(ua, ub)] = shared
    got = {(r["user_a"], r["user_b"]): r["n_cooccur"] for r in
           SPARK_QUERIES["geo_colocation_pairs"](spark, sf).collect()}
    assert got == want
    assert all(a < b for a, b in got)


def test_st_cube_marginals_consistent(spark):
    """The space-time cube's marginals must re-aggregate exactly from
    the finest granularity: per-cell totals == sum of that cell's
    (cell, hr) rows, per-hour likewise, grand total == sum of all;
    single-pass GROUPING SETS may not drift from what four separate
    GROUP BYs would produce."""
    from geoutils_spark.queries import SPARK_QUERIES

    rows = SPARK_QUERIES["geo_st_cube"](spark, "/root/testdata/sf0.001") \
        .collect()
    fine = [r for r in rows if r["g_cell"] == 0 and r["g_hr"] == 0]
    bycell = {r["cell_id"]: r for r in rows
              if r["g_cell"] == 0 and r["g_hr"] == 1}
    byhr = {r["hr"]: r for r in rows if r["g_cell"] == 1 and r["g_hr"] == 0}
    total = [r for r in rows if r["g_cell"] == 1 and r["g_hr"] == 1]
    assert len(total) == 1
    assert total[0]["n_events"] == sum(r["n_events"] for r in fine)
    from collections import defaultdict
    cs, hs = defaultdict(int), defaultdict(int)
    for r in fine:
        cs[r["cell_id"]] += r["n_events"]
        hs[r["hr"]] += r["n_events"]
    assert {c: r["n_events"] for c, r in bycell.items()} == dict(cs)
    assert {h: r["n_events"] for h, r in byhr.items()} == dict(hs)
    # distinct users: marginal >= max over children, <= sum
    for c, r in bycell.items():
        kids = [x["n_users"] for x in fine if x["cell_id"] == c]
        assert max(kids) <= r["n_users"] <= sum(kids)


def test_st_cube_leaves_temp_views_unchanged(spark):
    """Building geo_st_cube registers no session-global temp view (two
    builds in one session cannot race on a shared name), and the built
    DataFrame still runs after its per-call view is dropped."""
    from geoutils_spark.queries import SPARK_QUERIES

    def temp_views():
        return sorted(t.name for t in spark.catalog.listTables()
                      if t.isTemporary)

    before = temp_views()
    a = SPARK_QUERIES["geo_st_cube"](spark, "/root/testdata/sf0.001")
    b = SPARK_QUERIES["geo_st_cube"](spark, "/root/testdata/sf0.001")
    assert temp_views() == before
    assert sorted(a.collect()) == sorted(b.collect())
    assert temp_views() == before
