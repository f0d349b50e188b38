"""Content-defined chunking (CDC) — byte-level dedup boundaries that
survive insertions (the gear-hash/FastCDC family used by dedup storage,
artifact caches, and multimodal-blob dedup at crawl scale).

Fixed-size chunking breaks on a 1-byte insertion (every later chunk
shifts); CDC puts boundaries where a ROLLING HASH of the last W bytes
hits a mask, so boundaries re-synchronize right after an edit and
identical sub-streams produce identical chunk hashes wherever they sit.
This is how you dedup the binary tier (images/audio riding the opaque
``binary`` columns, functions/multimodal.py) where whole-blob md5 misses
near-identical payloads.

Hash, pinned so the DuckDB twin is hash-exact:

* gear table ``G[b] = first 8 hex digits of md5(byte value as decimal
  string)`` — deterministic, dependency-free, derivable in SQL;
* window ``W = 16``, ``h(t) = sum_{j=0..W-1} G[byte(t-j)] * 2^j mod
  2^31`` — the shift-out-after-W-steps property of gear as an EXPLICIT
  windowed dot product, which makes it (a) numpy-vectorizable via a
  sliding-window matmul (the scale kernel — no per-byte Python loop) and
  (b) SQL-expressible with BIGINT math (16 terms per position);
* boundary after position t when ``h(t) % 2^k == 0`` (mean chunk
  ~2^k bytes) and at the end of the blob; positions below W never cut
  (the window must be full); a ``min_size`` floor suppresses boundaries
  too close to the previous cut (FastCDC's floor, applied left-to-right).

The engine-side kernel is an Arrow-batched pandas UDF (bytes -> chunk
boundary list, numpy matmul per blob); the Catalyst higher-order twin
computes the identical boundaries for the oracle gate and doubles as the
cross-check in tests. Chunk hashes then feed the ordinary exact-dedup
tier: groupBy(chunk_md5) — map-side combining, key space = distinct
chunks.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

WINDOW = 16
_MOD = 1 << 31

_GEAR = np.array(
    [int(hashlib.md5(str(b).encode()).hexdigest()[:8], 16)
     for b in range(256)], dtype=np.int64)
_POW2 = (1 << np.arange(WINDOW, dtype=np.int64))  # 2^j for j=0..W-1


# ---------------------------------------------------------------------------
# numpy kernel (the scale path)
# ---------------------------------------------------------------------------

def boundaries_np(data: bytes, mask_bits: int, min_size: int = 0) -> list[int]:
    """Cut END offsets (exclusive) of each chunk. Boundary after position
    t (0-based) iff t >= W-1 and h(t) % 2^mask_bits == 0 and the chunk
    would be >= min_size; the blob end always cuts."""
    n = len(data)
    if n == 0:
        return []
    g = _GEAR[np.frombuffer(data, dtype=np.uint8)]
    if n >= WINDOW:
        win = np.lib.stride_tricks.sliding_window_view(g, WINDOW)
        # h(t) for t = W-1 .. n-1; window ordered oldest..newest, newest
        # byte gets 2^0 -> reverse the power vector
        h = (win @ _POW2[::-1]) % _MOD
        cuts = np.nonzero(h % (1 << mask_bits) == 0)[0] + WINDOW - 1
    else:
        cuts = np.array([], dtype=np.int64)
    out: list[int] = []
    prev = 0
    for t in cuts.tolist():
        end = t + 1
        if end - prev >= max(min_size, 1):
            out.append(end)
            prev = end
    if prev < n:
        out.append(n)
    return out


def chunk_blob(data: bytes, mask_bits: int, min_size: int = 0,
               ) -> list[tuple[int, int, str]]:
    """[(offset, length, md5hex)] per chunk."""
    out = []
    prev = 0
    for end in boundaries_np(data, mask_bits, min_size):
        out.append((prev, end - prev,
                    hashlib.md5(data[prev:end]).hexdigest()))
        prev = end
    return out


_CHUNK_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("off", T.IntegerType(), False),
    T.StructField("len", T.IntegerType(), False),
    T.StructField("h", T.StringType(), False),
]))


def make_cdc_udf(mask_bits: int, min_size: int = 0):
    """Arrow-batched blob -> array<struct<off,len,h>> chunker."""
    @F.pandas_udf(_CHUNK_SCHEMA)
    def cdc_udf(blob: pd.Series) -> pd.Series:
        return blob.map(lambda b: chunk_blob(bytes(b), mask_bits, min_size)
                        if b is not None else None)
    return cdc_udf


def chunk_blobs(df: DataFrame, mask_bits: int, min_size: int = 0,
                id_col: str = "doc_id", blob: str = "blob") -> DataFrame:
    """(id, chunk_idx, off, len, h) — CDC chunks of every blob; zero
    exchanges (the chunker is row-local; dedup is the caller's
    groupBy(h))."""
    c = make_cdc_udf(mask_bits, min_size)(F.col(blob))
    return (df.select(F.col(id_col), F.posexplode(c).alias("chunk_idx", "c"))
            .select(id_col, "chunk_idx", F.col("c.off").alias("off"),
                    F.col("c.len").alias("len"), F.col("c.h").alias("h")))


# ---------------------------------------------------------------------------
# Catalyst higher-order twin (oracle gate + kernel cross-check)
# ---------------------------------------------------------------------------

def _gear_array_col() -> Column:
    return F.array(*[F.lit(int(v)) for v in _GEAR.tolist()])


def rolling_hash_col(text: Column) -> Column:
    """h(t) for t = W-1..n-1 over the UTF-8/ASCII code units of ``text``
    (ascii() per char — the twin operates on text blobs so both dialects
    index code points identically; keep blobs ASCII for parity)."""
    g = _gear_array_col()
    codes = F.transform(F.split(text, ""),
                        lambda ch: F.element_at(g, F.ascii(ch) + 1))
    n = F.size(codes)
    idx = F.when(n >= WINDOW, F.sequence(F.lit(WINDOW - 1), n - 1)) \
        .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda t: F.aggregate(
        F.sequence(F.lit(0), F.lit(WINDOW - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc + F.element_at(codes, t - j + 1)
        * F.pow(F.lit(2.0), j.cast("double")).cast("long")) % _MOD)


def gear_codes_sql(text: str) -> str:
    """Per-char gear values (stage this in its own CTE column: the
    256-entry gear literal is re-materialized per evaluation, so it must
    run once per character, not once per (position, j) hash term —
    16x on the oracle's wall clock)."""
    gear = ",".join(str(int(v)) for v in _GEAR.tolist())
    return (f"list_transform(range(1, len({text}) + 1), p -> "
            f"([{gear}])[ascii({text}[p : p]) + 1])")


def rolling_hash_from_codes_sql(codes_col: str) -> str:
    """h(t) over a pre-staged gear-codes list column."""
    return f"""
      list_transform(
        range({WINDOW}, len({codes_col}) + 1), t ->
          list_sum(list_transform(range(0, {WINDOW}), j ->
            {codes_col}[t - j] * CAST(2 ** j AS BIGINT))) % {_MOD})"""
