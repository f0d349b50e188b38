"""Skew-aware balanced spatial partitioning — the ``osmsplit`` analog.

The reference plans a balanced range-partition spec in two passes: sample
nodes into a D×D histogram, then recursively split on the weighted median
along alternating axes, emitting a JSON box-tree manifest
(/root/reference/osmsplit/mapsplit.h:65-132, osmsplitconfig.cpp:82-126).
Spark-first re-expression:

* stats pass      -> ``df.sample(...).groupBy(width-bucket).count()``
                     (hash agg with map-side combine; one small shuffle)
* plan            -> driver-side recursion over the tiny histogram (the
                     same alternating-axis weighted-median, A5)
* execute         -> a leaf-id column from log2(n_leaves) nested midpoint
                     comparisons (pure whole-stage-codegen expression), then
                     ``repartition(n, leaf)`` / ``write.partitionBy(leaf)``
                     — the reference's thread fan-out + mutexed writers
                     (osmsplitwriter.cpp:96-115) vanish into Spark tasks.

``repartition_by_range`` is the built-in alternative (RangePartitioner
reservoir-samples internally — the same sampling job the reference hand
rolls); the explicit plan exists because the north rule requires an
inspectable, persistable partition spec with lineage (S9/P9).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class SplitNode:
    """Box-tree node: inner nodes carry a midpoint + axis, leaves a name —
    the reference's OSMSplitConfig shape (osmsplitconfig.h:25-58)."""

    bbox: tuple[float, float, float, float]  # minx, miny, maxx, maxy
    sort_by_lat: bool = False
    mid: float | None = None
    left: "SplitNode | None" = None
    right: "SplitNode | None" = None
    name: str = ""
    meta: dict = field(default_factory=dict)

    def leaves(self) -> list["SplitNode"]:
        if self.left is None:
            return [self]
        return self.left.leaves() + self.right.leaves()

    def to_dict(self) -> dict:
        d = {"bbox": list(self.bbox), "sortByLat": self.sort_by_lat}
        if self.left is None:
            d["name"] = self.name
            d.update(self.meta)
        else:
            d["midPoint"] = self.mid
            d["children"] = [self.left.to_dict(), self.right.to_dict()]
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "SplitNode":
        node = cls(bbox=tuple(d["bbox"]), sort_by_lat=d.get("sortByLat", False))
        if "children" in d:
            node.mid = d["midPoint"]
            node.left = cls.from_dict(d["children"][0])
            node.right = cls.from_dict(d["children"][1])
        else:
            node.name = d.get("name", "")
        return node


def density_histogram(points: DataFrame, bbox: tuple[float, float, float, float],
                      d: int = 1024, sample_fraction: float | None = None,
                      lon: str = "lon", lat: str = "lat") -> list[tuple[int, int, int]]:
    """Sampled D×D density histogram (reference A2, mapsplit.h:115-132) as a
    small collected list of (xbucket, ybucket, count).

    The collect() is bounded BY DESIGN at <= d*d small rows (d=1024 ⇒ <=1M,
    mirroring the reference's in-memory uint32 grid, mapsplit.h:46); the
    assert keeps an accidental huge ``d`` from turning this into an
    unbounded driver fetch."""
    assert d <= 4096, f"density grid d={d} would collect up to d^2 rows"
    minx, miny, maxx, maxy = bbox
    df = points
    if sample_fraction is not None and sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=7)
    dx = (maxx - minx) / d
    dy = (maxy - miny) / d
    bx = F.least(F.greatest(F.floor((F.col(lon) - minx) / dx), F.lit(0)), F.lit(d - 1))
    by = F.least(F.greatest(F.floor((F.col(lat) - miny) / dy), F.lit(0)), F.lit(d - 1))
    rows = (
        df.select(bx.cast("int").alias("bx"), by.cast("int").alias("by"))
        .groupBy("bx", "by").count().collect()
    )
    return [(r.bx, r.by, r["count"]) for r in rows]


def _weighted_median(marginal: dict[int, int], lo: int, hi: int) -> int:
    """First bucket where the prefix sum reaches half the total (reference
    A5, mapsplit.h:65-88)."""
    total = sum(c for b, c in marginal.items() if lo <= b < hi)
    acc = 0
    for b in range(lo, hi):
        acc += marginal.get(b, 0)
        if acc * 2 >= total:
            return b + 1
    return (lo + hi) // 2


def build_split_plan(hist: list[tuple[int, int, int]],
                     bbox: tuple[float, float, float, float],
                     levels: int, d: int = 1024,
                     name_prefix: str = "part") -> SplitNode:
    """Recursive alternating-axis weighted-median splits over the histogram —
    2^levels leaves named ``{prefix}{binary path}`` exactly like the
    reference's file naming (test.py:63-74: 2^4 files ``test[01]{4}``)."""
    minx, miny, maxx, maxy = bbox

    def rec(cells: list[tuple[int, int, int]], gx0: int, gy0: int, gx1: int, gy1: int,
            by_lat: bool, depth: int, path: str) -> SplitNode:
        box = (
            minx + (maxx - minx) * gx0 / d, miny + (maxy - miny) * gy0 / d,
            minx + (maxx - minx) * gx1 / d, miny + (maxy - miny) * gy1 / d,
        )
        node = SplitNode(bbox=box, sort_by_lat=by_lat)
        if depth == levels:
            node.name = f"{name_prefix}{path}" if path else name_prefix
            node.meta["count"] = sum(c for _, _, c in cells)
            return node
        if by_lat:
            marg: dict[int, int] = {}
            for _, y, c in cells:
                marg[y] = marg.get(y, 0) + c
            split = _weighted_median(marg, gy0, gy1)
            node.mid = miny + (maxy - miny) * split / d
            lo = [(x, y, c) for x, y, c in cells if y < split]
            hi = [(x, y, c) for x, y, c in cells if y >= split]
            node.left = rec(lo, gx0, gy0, gx1, split, False, depth + 1, path + "0")
            node.right = rec(hi, gx0, split, gx1, gy1, False, depth + 1, path + "1")
        else:
            marg = {}
            for x, _, c in cells:
                marg[x] = marg.get(x, 0) + c
            split = _weighted_median(marg, gx0, gx1)
            node.mid = minx + (maxx - minx) * split / d
            lo = [(x, y, c) for x, y, c in cells if x < split]
            hi = [(x, y, c) for x, y, c in cells if x >= split]
            node.left = rec(lo, gx0, gy0, split, gy1, True, depth + 1, path + "0")
            node.right = rec(hi, split, gy0, gx1, gy1, True, depth + 1, path + "1")
        return node

    return rec(hist, 0, 0, d, d, False, 0, "")


def leaf_name_col(plan: SplitNode, lon: str = "lon", lat: str = "lat") -> Column:
    """Route each row down the box tree to its leaf name — log2(leaves)
    nested comparisons, fully codegen'd (the reference's filesForBox descent,
    osmsplitconfig.cpp:128-154, as an expression)."""

    def rec(node: SplitNode) -> Column:
        if node.left is None:
            return F.lit(node.name)
        probe = F.col(lat) if node.sort_by_lat else F.col(lon)
        return F.when(probe < node.mid, rec(node.left)).otherwise(rec(node.right))

    return rec(plan)


def plan_to_json(plan: SplitNode) -> str:
    return json.dumps(plan.to_dict(), indent=1)


def plan_from_json(s: str) -> SplitNode:
    return SplitNode.from_dict(json.loads(s))


def repartition_by_range(df: DataFrame, cols: list[str], n: int) -> DataFrame:
    """Built-in alternative: RangePartitioner's internal reservoir sampling
    replaces the explicit stats pass (SURVEY.md §4)."""
    return df.repartitionByRange(n, *[F.col(c) for c in cols])


def histogram_to_pgm(hist: list[tuple[int, int, int]], d: int, path: str,
                     plan: "SplitNode | None" = None) -> str:
    """Density heatmap as a binary PGM image (reference S10,
    /root/reference/osmsplit/mapsplit.h:140-170: grayscale D×D counts with
    split lines burned in at max intensity). Dependency-free diagnostic —
    grayscale by count/max, split midlines at 255."""
    grid = bytearray(d * d)
    mx = max((c for _, _, c in hist), default=1)
    for x, y, c in hist:
        # y flipped: image row 0 = north/top (max y bucket)
        grid[(d - 1 - y) * d + x] = min(254, int(254 * c / mx))
    if plan is not None:
        minx, miny, maxx, maxy = plan.bbox

        def burn(node: "SplitNode") -> None:
            if node.left is None:
                return
            if node.sort_by_lat:
                row = int((node.mid - miny) / (maxy - miny) * d)
                row = min(max(row, 0), d - 1)
                x0 = int((node.bbox[0] - minx) / (maxx - minx) * d)
                x1 = int((node.bbox[2] - minx) / (maxx - minx) * d)
                for x in range(max(x0, 0), min(x1, d)):
                    grid[(d - 1 - row) * d + x] = 255
            else:
                col = int((node.mid - minx) / (maxx - minx) * d)
                col = min(max(col, 0), d - 1)
                y0 = int((node.bbox[1] - miny) / (maxy - miny) * d)
                y1 = int((node.bbox[3] - miny) / (maxy - miny) * d)
                for y in range(max(y0, 0), min(y1, d)):
                    grid[(d - 1 - y) * d + col] = 255
            burn(node.left)
            burn(node.right)

        burn(plan)
    with open(path, "wb") as f:
        f.write(f"P5\n{d} {d}\n255\n".encode())
        f.write(bytes(grid))
    return path


def leaf_names_for_bbox_col(plan: SplitNode, minx: Column, miny: Column,
                            maxx: Column, maxy: Column) -> Column:
    """ALL leaves a bbox overlaps, as an array column — the reference's
    ``filesForBox`` descent (osmsplitconfig.cpp:128-154): each node rejects
    a bbox that misses its OWN extents (inclusive overlap — reject only on
    strict >/<), so a way spanning a split boundary routes to both sides, a
    bbox touching the mid line (lo == mid) descends both children (their
    extents share the mid coordinate), and a bbox wholly outside the root
    extents yields an EMPTY array, exactly like the reference."""
    empty = F.array().cast("array<string>")

    def rec(node: SplitNode) -> Column:
        ex0, ey0, ex1, ey1 = node.bbox
        miss = (
            (minx > F.lit(ex1)) | (miny > F.lit(ey1))
            | (maxx < F.lit(ex0)) | (maxy < F.lit(ey0))
        )
        if node.left is None:
            hit = F.array(F.lit(node.name))
        else:
            hit = F.concat(rec(node.left), rec(node.right))
        return F.when(miss, empty).otherwise(hit)

    return rec(plan)
