"""The benchmark's workloads: inputs, layer prefixes and output checks.

Each workload reads a parquet input that set-up materializes from the
deterministic generators in ``geoutils_spark.sources.fixtures``. The seed
shifts the generated row-id range, so every seed gives other rows of the same
size and shape.

``LADDER`` names the layers in pipeline order. ``Workload.prefix(layer)``
returns the cumulative pipeline up to and including that layer, forced
through an aggregate (a bare ``count()`` would let Catalyst prune the UDF
columns). A layer a workload bypasses repeats the previous prefix, so its
self time is measurement noise around zero: on that workload the layer is
predicted not to move.

The checks compare each output with a computation that does not go through
the code under test: DuckDB SQL over the same parquet input for the join,
``extract_text_series_v1_reference`` for the text, numpy cell math and a
pyarrow read-back for the write.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import zlib

import duckdb
import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geoutils_spark import queries as Q
from geoutils_spark.functions import cells as C
from geoutils_spark.functions import keys as K
from geoutils_spark.functions.textextract import (
    extract_text_series_v1_reference, extract_text_udf)
from geoutils_spark.operators.spatial_join import spatial_join
from geoutils_spark.operators.tiling import with_tiles
from geoutils_spark.plans.manifests import (JOB_FILE, MANIFEST_DIR,
                                            read_manifests,
                                            write_with_manifests)
from geoutils_spark.sources import fixtures

LADDER = (
    "sources.scan",
    "functions.textextract",
    "operators.tiling",
    "operators.spatial_join.probe",
    "operators.spatial_join.refine",
    "plans.manifests.write",
)

# Seeds map onto this many disjoint row-id ranges; the generator enumerates
# the skipped ids, so the bound keeps that cost small.
SEED_RANGES = 64


def _generated(spark, off: int, n: int, hot_fraction: float = 0.0):
    """``pages_df`` rows with ids ``[off, off + n)``. With ``hot_fraction``
    the first ``hot_fraction * n`` of those rows share one key (one hot cell)."""
    total = off + n
    hot = (off + hot_fraction * n) / total if hot_fraction else 0.0
    return fixtures.pages_df(spark, total, hot_fraction=hot) \
        .filter(F.col("page_id") >= off).drop("text")


class Workload:
    """One workload: ``rows`` input rows, the ``LADDER`` layers it
    ``bypassed``, and a polygon side ``polys`` covered at cell ``level``
    (empty where the workload joins nothing)."""

    name = ""
    rows = 0
    level = 0
    bypassed: tuple = ()

    def __init__(self, spark, work_dir: str, seed: int, files: int):
        self.spark = spark
        self.work_dir = work_dir
        self.files = files
        self.off = (seed % SEED_RANGES) * self.rows
        self.input = os.path.join(work_dir, "input")

    def _write_input(self, df) -> None:
        # A fixed file count, so scans run the same number of tasks for
        # every seed.
        df.repartition(self.files, "page_id").write.mode("overwrite").parquet(self.input)

    def _points(self, df):
        return fixtures.with_page_geo(df).select("page_id", "page_key", "lon", "lat")

    def materialize(self) -> None:
        raise NotImplementedError

    def prefix(self, layer: str):
        """A callable that runs the pipeline up to ``layer`` and returns
        its aggregate."""
        i = LADDER.index(layer)
        while LADDER[i] in self.bypassed:
            i -= 1
        return self._prefixes()[LADDER[i]]

    def _prefixes(self) -> dict:
        raise NotImplementedError

    def run(self):
        """The whole pipeline: the timed operation."""
        return self.prefix(LADDER[-1])()

    def before_rep(self) -> None:
        """Untimed preparation before each timed operation."""

    def counts(self, result) -> dict:
        """Per-layer work counts of one full run."""
        return {}

    def checks(self, result) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def _scan(self):
        return self.spark.read.parquet(self.input)

    def _duck(self):
        con = duckdb.connect()
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        return con

    def _input_glob(self) -> str:
        return os.path.join(self.input, "*.parquet")


def _per_way_diff(spark_rows: list, oracle_rows: list) -> str:
    a = {r[0]: tuple(r[1:]) for r in spark_rows}
    b = {r[0]: tuple(r[1:]) for r in oracle_rows}
    bad = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
    if not bad:
        return ""
    return f"{len(bad)} ways differ, e.g. way {bad[0]}: {a.get(bad[0])} != {b.get(bad[0])}"


class Flagship(Workload):
    name = "flagship"
    rows = 25_000
    level = 15
    zoom = 14
    bypassed = ("plans.manifests.write",)
    sample = 256

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.polys = fixtures.polygons_df(self.spark).filter(F.col("kind") == "building")

    def materialize(self) -> None:
        self._write_input(_generated(self.spark, self.off, self.rows))

    def _geo(self):
        return fixtures.with_page_geo(self._scan())

    def _text(self):
        return self._geo().withColumn("text", extract_text_udf(F.col("html")))

    def _tiles(self):
        return with_tiles(self._text(), "lon", "lat", zooms=(self.zoom,))

    def _joined(self, exact: bool):
        tx, ty = f"tile_z{self.zoom}_x", f"tile_z{self.zoom}_y"
        pts = self._tiles().select(
            "page_id", "lon", "lat", tx, ty,
            F.length("text").alias("text_len"),
            F.crc32(F.encode("text", "UTF-8")).alias("text_crc"))
        j = spatial_join(pts, self.polys, level=self.level, exact=exact,
                         point_cols=("page_id", "text_len", "text_crc", tx, ty))
        return sorted(tuple(r) for r in j.groupBy("way_id").agg(
            F.count("*"), F.sum("text_len"), F.sum("text_crc"),
            F.sum(tx), F.sum(ty)).collect())

    def _prefixes(self) -> dict:
        tx, ty = f"tile_z{self.zoom}_x", f"tile_z{self.zoom}_y"
        return {
            "sources.scan": lambda: tuple(self._geo().agg(
                F.count("*"), F.sum("lon"), F.sum("lat"),
                F.sum(F.length("html"))).first()),
            "functions.textextract": lambda: tuple(self._text().agg(
                F.count("*"), F.sum(F.length("text"))).first()),
            "operators.tiling": lambda: tuple(self._tiles().agg(
                F.sum(F.length("text")), F.sum(tx), F.sum(ty)).first()),
            "operators.spatial_join.probe": lambda: self._joined(exact=False),
            "operators.spatial_join.refine": lambda: self._joined(exact=True),
        }

    def checks(self, result):
        sql = f"""
        WITH pts AS (
          SELECT page_id, html,
                 {K.key_lon_sql('page_key')} AS lon,
                 {K.key_lat_sql('page_key')} AS lat
          FROM read_parquet('{self._input_glob()}')),
        grid AS ({Q._grid_sql()})
        SELECT g.way_id, p.html,
               {C.tile_x_sql('p.lon', self.zoom)} AS tx,
               {C.tile_y_sql('p.lat', self.zoom)} AS ty
        FROM pts p JOIN grid g
          ON p.lon >= g.minx AND p.lon < g.maxx
         AND p.lat >= g.miny AND p.lat < g.maxy
        """
        with self._duck() as con:
            pdf = con.execute(sql).df()
        text = extract_text_series_v1_reference(pdf["html"])
        pdf["text_len"] = text.str.len()
        pdf["text_crc"] = [zlib.crc32(t.encode("utf-8")) for t in text]
        oracle = [(int(w), len(g), int(g.text_len.sum()), int(g.text_crc.sum()),
                   int(g.tx.sum()), int(g.ty.sum()))
                  for w, g in pdf.groupby("way_id")]
        diff = _per_way_diff(result, oracle)
        out = [("join_and_text_vs_duckdb", not diff,
                diff or f"{len(pdf)} matches in {len(oracle)} ways")]

        # Row-level text sample: the UDF against the reference formulation.
        step = max(self.rows // self.sample, 1)
        ids = [self.off + i * step for i in range(self.sample)]
        got = dict(self._scan().filter(F.col("page_id").isin(ids)).select(
            "page_id", extract_text_udf(F.col("html")).alias("t")).collect())
        src = pq.read_table(self.input, columns=["page_id", "html"],
                            filters=[("page_id", "in", ids)]).to_pandas()
        want = dict(zip(src.page_id, extract_text_series_v1_reference(src.html)))
        bad = [i for i in ids if got.get(i) != want.get(i)]
        out.append(("text_sample_vs_v1_reference", not bad,
                    f"{len(bad)} of {len(ids)} rows differ" if bad
                    else f"{len(ids)} rows identical"))
        return out


class TileWrite(Workload):
    name = "tile_write"
    rows = 500_000
    hot_fraction = 0.2
    zooms = (10, 14, 16)
    level = 20
    part_level = 17
    bypassed = ("functions.textextract", "operators.spatial_join.probe",
                "operators.spatial_join.refine")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.out = os.path.join(self.work_dir, "out")
        self.polys = self.spark.createDataFrame([], fixtures.POLYGON_SCHEMA)

    def materialize(self) -> None:
        self._write_input(self._points(
            _generated(self.spark, self.off, self.rows, self.hot_fraction)))

    def _tiled(self):
        df = with_tiles(self._scan().drop("page_key"), "lon", "lat", zooms=self.zooms)
        df = C.with_cell(df, "lon", "lat", self.level, "cell_id")
        return df.withColumn("cell_part", F.concat(
            F.lit("s2_"), C.cell_to_hex_col(C.cell_parent_col(F.col("cell_id"),
                                                             self.part_level))))

    def _write(self):
        return write_with_manifests(self._tiled(), self.out, "cell_part",
                                    lineage={"workload": self.name})

    def _prefixes(self) -> dict:
        tiles = [F.sum(f"tile_z{z}_{a}") for z in self.zooms for a in "xy"]
        return {
            "sources.scan": lambda: tuple(self._scan().agg(
                F.count("*"), F.sum("lon"), F.sum("lat")).first()),
            "operators.tiling": lambda: tuple(self._tiled().agg(
                F.sum(F.pmod("cell_id", F.lit(1_000_003))),
                F.sum(F.length("cell_part")), *tiles).first()),
            "plans.manifests.write": self._write,
        }

    def before_rep(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def _written(self) -> tuple[list, int]:
        files = glob.glob(os.path.join(self.out, "cell_part=*", "*.parquet"))
        meta = [os.path.join(self.out, JOB_FILE)] + glob.glob(
            os.path.join(self.out, MANIFEST_DIR, "*.json"))
        return files, sum(os.path.getsize(p) for p in files + meta)

    def counts(self, result) -> dict:
        files, size = self._written()
        return {
            "plans.manifests.partitions": result["partitions_written"],
            "plans.manifests.files": len(files),
            "plans.manifests.bytes": size,
            "plans.manifests.output_bytes_per_row": size / result["rows_written"],
        }

    def checks(self, result):
        out = self.out
        got = pads.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["page_id", "cell_id", "cell_part"]).to_pandas()
        src = pq.read_table(self.input, columns=["page_id", "lon", "lat"]).to_pandas()
        checks = [("rows_read_back", len(got) == self.rows == result["rows_written"],
                   f"read {len(got)}, job summary {result['rows_written']}, input {self.rows}")]

        manifests = {k: m["n_rows"] for k, m in read_manifests(out).items()}
        per_part = got.cell_part.astype(str).value_counts().to_dict()
        checks.append(("partition_counts_vs_manifests", per_part == manifests,
                       f"{len(per_part)} partitions, {len(manifests)} manifests"))

        want = np.sort(np.rec.fromarrays(
            [src.page_id.to_numpy(),
             C.cell_ids_np(src.lon.to_numpy(), src.lat.to_numpy(), self.level)]))
        have = np.sort(np.rec.fromarrays(
            [got.page_id.to_numpy(), got.cell_id.to_numpy()]))
        checks.append(("page_cell_multiset_vs_numpy", np.array_equal(want, have),
                       f"{len(have)} (page_id, cell_id) pairs"))

        parents = C.cell_parent_np(got.cell_id.to_numpy(), self.part_level)
        pairs = set(zip(parents.tolist(), got.cell_part.astype(str)))
        bad = [(p, t) for p, t in pairs if t != f"s2_{p:016x}"]
        checks.append(("partition_token_vs_parent_cell", not bad,
                       f"{len(bad)} of {len(pairs)} (parent, token) pairs differ"))
        with open(os.path.join(out, JOB_FILE)) as f:
            job = json.load(f)
        checks.append(("job_summary", job["rows_written"] == self.rows,
                       f"_job.json rows_written={job['rows_written']}"))
        return checks


WORKLOADS = {w.name: w for w in (Flagship, TileWrite)}
