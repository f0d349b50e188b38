"""Deduplication operators for web-scale training-data pipelines.

Four tiers, cheapest first — the standard corpus-dedup ladder, each expressed
Spark-first so the physical plan is a plain (broadcast-able / AQE-skew-split-
able) equi-join, exactly the same "similarity becomes equality after
indexing" trick the engine's spatial join uses for containment
(operators/spatial_join.py; reference J2/J4 semantics:
/root/reference/osms2split/src/s2splitter.cpp:110-135 dedups node ids per
cell with a per-cell hash set — here the "cell" is an LSH band bucket).

1. exact        — groupBy(md5(text)) (J4 analog).
2. MinHash+LSH  — row-local signature (no shuffle), band keys, equi-join on
                  (band, key); candidate pairs refined by signature agreement.
3. SimHash      — 32-bit weighted bit-vote fingerprint; banded by 4x8-bit
                  chunks (pigeonhole: hamming<=3 pairs always share a chunk).
4. n-gram Jaccard — exact verify on candidate pairs (array_intersect).

Hashing is MD5 end-to-end so the DuckDB oracle evaluates the identical
function: hex→int parity is Spark ``conv(h,16,10)`` ≡ DuckDB
``CAST('0x'||h AS BIGINT)``.

Scale notes: signatures/fingerprints are row-local column expressions — the
only shuffle is the final pair self-join keyed by band bucket, which AQE can
skew-split; est-jaccard refinement happens *before* the exact verify so the
expensive array ops run on candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geoutils_spark.functions.textanalysis import (
    word_shingles_col,
    word_shingles_sql,
)

# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------


def minhash_signature_col(shingles: Column, num_hashes: int = 12) -> Column:
    """num_hashes-wide MinHash signature (array<string> of 32-hex min values).

    Hash family j is md5 of a seed-prefixed shingle; the per-row min over the
    shingle set is order-insensitive and row-local (no explode/shuffle).
    """
    def seeded(j: int):
        # one-arg lambda only: a two-arg lambda would receive the array INDEX
        # as its second argument (pyspark transform convention)
        return lambda s: F.md5(F.concat(F.lit(f"{j}:"), s).cast("binary"))

    return F.array(*[
        F.array_min(F.transform(shingles, seeded(j))) for j in range(num_hashes)
    ])


def minhash_signature_sql(shingles: str, num_hashes: int = 12) -> str:
    parts = ", ".join(
        f"list_aggregate(list_transform({shingles}, s -> md5('{j}:' || s)), 'min')"
        for j in range(num_hashes)
    )
    return f"[{parts}]"


def band_keys_col(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, key:string>> — one LSH bucket key per band."""
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", F.slice(sig, b * rows_per_band + 1, rows_per_band))
                  .cast("binary")).alias("key"),
        )
        for b in range(bands)
    ])


def band_keys_sql(sig: str, bands: int, rows_per_band: int) -> str:
    parts = ", ".join(
        "{'band': %d, 'key': md5(array_to_string((%s)[%d:%d], '|'))}"
        % (b, sig, b * rows_per_band + 1, (b + 1) * rows_per_band)
        for b in range(bands)
    )
    return f"[{parts}]"


def sig_agreement_col(a: Column, b: Column, num_hashes: int) -> Column:
    """Fraction of agreeing signature positions — the MinHash Jaccard
    estimate."""
    eq = F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0))
    return (
        F.aggregate(eq, F.lit(0), lambda acc, x: acc + x).cast("double")
        / F.lit(float(num_hashes))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    min_est_jaccard: float = 0.0,
    payload: str = "survivors",
) -> DataFrame:
    """Near-duplicate candidate pairs: (id_a, id_b, est_jaccard, exact_jaccard).

    ``payload`` picks the join-back strategy for the refine stage (identical
    results either way — only the physical plan differs):

    * ``"survivors"`` (default, the 100-TB path): band keys are derived
      ROW-LOCALLY from the scan, so the ONLY corpus-wide shuffle is the
      ids-only (id, band, key) candidate exchange. The ids that survive the
      candidate join (typically ≪ corpus) are broadcast back as a semi-join
      filter on the source scan, and shingles/signatures are recomputed for
      survivors only — document payloads NEVER cross the wire corpus-wide.
      The survivor payload goes through one tiny by-id exchange shared by
      both pair join-backs (ReusedExchange), keeping the big refine
      expressions out of duplicated-consumer codegen (CLAUDE.md invariant).
    * ``"shared"`` — the high-duplicate-rate fallback: one corpus-wide
      by-id payload exchange shared by the band derivation and both
      join-backs. Cheaper than ``"survivors"`` only when most of the corpus
      survives banding (recompute + extra scans would exceed one payload
      shuffle); e.g. boilerplate-heavy crawls.
    """
    rows_per_band = num_hashes // bands
    base = docs.select(F.col(id_col).alias("__id"),
                       F.col(text_col).alias("__text"))

    def with_payload(df: DataFrame) -> DataFrame:
        # stepwise projections: CollapseProject keeps multi-referenced
        # non-cheap outputs (__sh, __sig) un-inlined, so each is computed
        # once per row even inside one codegen stage
        return df.withColumn(
            "__sh", word_shingles_col(F.col("__text"), k_shingle)
        ).withColumn(
            "__sig", minhash_signature_col(F.col("__sh"), num_hashes)
        )

    if payload == "shared":
        sig = with_payload(base).select("__id", "__sh", "__sig") \
            .repartition(F.col("__id"))
        banded_src = sig
    else:
        sig = None
        banded_src = with_payload(base).select("__id", "__sig")
    banded = banded_src.select(
        "__id",
        F.explode(band_keys_col(F.col("__sig"), bands, rows_per_band)).alias("__bk"),
    ).select("__id",
             F.col("__bk.band").alias("__band"), F.col("__bk.key").alias("__key"))
    banded = banded.repartition(F.col("__band"), F.col("__key"))
    a = banded.select(F.col("__id").alias("id_a"), "__band", "__key")
    b = banded.select(F.col("__id").alias("id_b"), "__band", "__key")
    pairs = (
        a.join(b, on=["__band", "__key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if payload != "shared":
        # materialize the (pair-list-sized, payload-free) candidate pairs
        # ONCE: both the survivor-id broadcast and the output join read the
        # checkpointed rows, so the band self-join never executes twice
        pairs = pairs.localCheckpoint()
        surv = (
            pairs.select(F.col("id_a").alias("__id"))
            .union(pairs.select(F.col("id_b").alias("__id")))
            .distinct()
        )
        sig = (
            with_payload(base.join(F.broadcast(surv), on="__id"))
            .select("__id", "__sh", "__sig")
            .repartition(F.col("__id"))  # tiny: survivors only
        )
    sa = sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a"),
                    F.col("__sh").alias("sh_a"))
    sb = sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b"),
                    F.col("__sh").alias("sh_b"))
    pairs = pairs.join(sa, on="id_a").join(sb, on="id_b")
    pairs = pairs.withColumn(
        "est_jaccard", sig_agreement_col(F.col("sig_a"), F.col("sig_b"), num_hashes)
    ).filter(F.col("est_jaccard") >= min_est_jaccard)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    pairs = pairs.withColumn(
        "exact_jaccard", inter.cast("double") / union.cast("double")
    )
    return pairs.select("id_a", "id_b", "est_jaccard", "exact_jaccard")


def minhash_lsh_pairs_sql(
    docs_cte: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    min_est_jaccard: float = 0.0,
) -> str:
    """DuckDB twin of minhash_lsh_pairs; ``docs_cte`` names a relation with
    (id_col, text_col)."""
    rows_per_band = num_hashes // bands
    sh = word_shingles_sql(text_col, k_shingle)
    sig = minhash_signature_sql("__sh", num_hashes)
    bk = band_keys_sql("__sig", bands, rows_per_band)
    eq_sum = " + ".join(
        f"CASE WHEN sig_a[{i + 1}] = sig_b[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
    WITH sigs AS (
      SELECT {id_col} AS __id, __sh, {sig} AS __sig
      FROM (SELECT {id_col}, {sh} AS __sh FROM {docs_cte})
    ),
    banded AS (
      SELECT __id, __sig, __sh, UNNEST({bk}, recursive := true)
      FROM sigs
    ),
    pairs AS (
      SELECT DISTINCT a.__id AS id_a, b.__id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.__id < b.__id
    ),
    scored AS (
      SELECT p.id_a, p.id_b,
             sa.__sig AS sig_a, sb.__sig AS sig_b,
             sa.__sh AS sh_a, sb.__sh AS sh_b
      FROM pairs p
      JOIN sigs sa ON sa.__id = p.id_a
      JOIN sigs sb ON sb.__id = p.id_b
    )
    SELECT id_a, id_b,
           CAST(({eq_sum}) AS DOUBLE) / {float(num_hashes)!r} AS est_jaccard,
           CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / CAST(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             AS exact_jaccard
    FROM scored
    WHERE CAST(({eq_sum}) AS DOUBLE) / {float(num_hashes)!r} >= {min_est_jaccard!r}
    """


# ---------------------------------------------------------------------------
# SimHash (32-bit, token-frequency weighted)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def _token_hash32_col(t: Column) -> Column:
    """First 8 hex chars of md5 -> 32-bit int (never negative in a long)."""
    return F.conv(F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10).cast("long")


def simhash_col(tokens: Column) -> Column:
    """32-bit SimHash via row-local fold: per bit, sum +-1 votes over tokens;
    bit set iff the vote is positive. No shuffle; whole-stage codegen.

    The per-token hash is computed once into element 0 of a 33-wide
    accumulator-style array (hash, then 32 vote lanes) — shift amounts must be
    Python ints for Catalyst, so the bit loop is unrolled."""
    hashes = F.transform(tokens, _token_hash32_col)
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("long") * 2 - 1
                for i in range(SIMHASH_BITS)
            ]),
            lambda a, v: a + v,
        ),
    )
    out = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        out = out + F.when(F.element_at(votes, i + 1) > 0,
                           F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash_sql(docs_cte: str, id_col: str, tokens: str) -> str:
    """DuckDB twin as a relation: (id, simhash). Formulated relationally
    (explode tokens x bits, two groupBys) — different plan, identical value."""
    return f"""
    SELECT __id AS {id_col}, SUM(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
    FROM (
      SELECT __id, i, SUM(((h >> i) & 1) * 2 - 1) AS vote
      FROM (
        SELECT {id_col} AS __id,
               CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS h
        FROM (SELECT {id_col}, UNNEST({tokens}) AS t FROM {docs_cte})
      ), (SELECT UNNEST(range(0, {SIMHASH_BITS})) AS i)
      GROUP BY __id, i
    )
    GROUP BY __id
    """


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: banded by ``chunks`` bit-chunks (pigeonhole
    guarantees recall for hamming <= chunks-1), verified by bit_count(xor)."""
    from geoutils_spark.functions.textanalysis import tokens_col

    bits_per_chunk = SIMHASH_BITS // chunks
    sh = docs.select(
        F.col(id_col).alias("__id"),
        simhash_col(tokens_col(F.col(text_col))).alias("__sim"),
    )
    chunked = sh.select(
        "__id", "__sim",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("__sim"), c * bits_per_chunk)
                .bitwiseAND(F.lit((1 << bits_per_chunk) - 1)).alias("key"),
            )
            for c in range(chunks)
        ])).alias("__ck"),
    ).select("__id", "__sim", F.col("__ck.chunk").alias("__chunk"),
             F.col("__ck.key").alias("__key"))
    a = chunked.select(F.col("__id").alias("id_a"), F.col("__sim").alias("sim_a"),
                       "__chunk", "__key")
    b = chunked.select(F.col("__id").alias("id_b"), F.col("__sim").alias("sim_b"),
                       "__chunk", "__key")
    pairs = (
        a.join(b, on=["__chunk", "__key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming",
                    F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("id_a", "id_b", "hamming")


def simhash_pairs_sql(docs_cte: str, id_col: str, tokens: str,
                      max_hamming: int = 3, chunks: int = 4) -> str:
    bits_per_chunk = SIMHASH_BITS // chunks
    chunk_structs = ", ".join(
        f"{{'chunk': {c}, 'key': (simhash >> {c * bits_per_chunk}) & {(1 << bits_per_chunk) - 1}}}"
        for c in range(chunks)
    )
    return f"""
    WITH sims AS ({simhash_sql(docs_cte, id_col, tokens)}),
    chunked AS (
      SELECT {id_col} AS __id, simhash, UNNEST([{chunk_structs}], recursive := true)
      FROM sims
    ),
    cand AS (
      SELECT DISTINCT a.__id AS id_a, b.__id AS id_b,
             a.simhash AS sim_a, b.simhash AS sim_b
      FROM chunked a JOIN chunked b
        ON a.chunk = b.chunk AND a.key = b.key AND a.__id < b.__id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine >= threshold)
# ---------------------------------------------------------------------------

def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    threshold: float = 0.9,
    n_tables: int = 4,
    planes_per_table: int = 16,
    payload: str = "survivors",
) -> DataFrame:
    """Cosine near-dup pairs via BANDED multi-table sign-LSH + exact verify.

    The LSH family is coordinate-difference hyperplanes
    ``sign(v[a] - v[b])`` over fixed dimension pairs — pure comparisons, no
    float rounding at the decision boundary to drift between engines, and a
    valid sparse random-projection family. ``n_tables`` independent hash
    tables of ``planes_per_table`` planes each (r1 verdict fix): bucket
    count per table is 2^planes_per_table, so bucket population stays O(n /
    2^p) as the corpus grows instead of the old fixed-256-bucket all-pairs
    blowup; a pair is a candidate if it collides in ANY table (recall-OR,
    exactly MinHash's band construction). Only (id, table, bucket) travels
    through the candidate self-join; vectors join back by id after pair
    dedup. Recall is approximate by design (it's an LSH); the oracle runs
    the identical algorithm.

    ``payload`` (see ``minhash_lsh_pairs``): ``"survivors"`` (default)
    derives bucket keys row-locally — bucket bits are pure element
    comparisons, so no big expression ever shuffles — and broadcast-semi-
    joins the surviving ids back onto the source scan, recomputing vectors/
    norms for survivors only through one tiny shared by-id exchange.
    ``"shared"`` keeps the r2 corpus-wide by-id payload exchange for
    high-duplicate-rate corpora.
    """
    dims = _plane_dims(n_tables * planes_per_table)
    from geoutils_spark.operators.similarity import dot_chain_col

    base = vectors.select(F.col(id_col).alias("__id"),
                          F.col(vec_col).alias("__e"))

    def with_norm(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__n", F.sqrt(dot_chain_col(F.col("__e"), F.col("__e"))))

    if payload == "shared":
        v = with_norm(base).repartition(F.col("__id"))
        keyed_src = v
    else:
        v = None
        keyed_src = base
    k = keyed_src
    for t in range(n_tables):
        k = k.withColumn(
            f"__b{t}",
            _sign_bucket_col(F.col("__e"),
                             dims[t * planes_per_table:(t + 1) * planes_per_table]))
    keys = F.array(*[
        F.struct(F.lit(t).alias("table"), F.col(f"__b{t}").alias("bucket"))
        for t in range(n_tables)
    ])
    keyed = k.select(
        "__id", F.explode(keys).alias("__tb"),
    ).select("__id", F.col("__tb.table").alias("__table"),
             F.col("__tb.bucket").alias("__bucket"))
    keyed = keyed.repartition(F.col("__table"), F.col("__bucket"))
    a = keyed.select(F.col("__id").alias("id_a"), "__table", "__bucket")
    b = keyed.select(F.col("__id").alias("id_b"), "__table", "__bucket")
    pairs = (
        a.join(b, on=["__table", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if payload != "shared":
        # same single-execution guard as minhash_lsh_pairs
        pairs = pairs.localCheckpoint()
        surv = (
            pairs.select(F.col("id_a").alias("__id"))
            .union(pairs.select(F.col("id_b").alias("__id")))
            .distinct()
        )
        v = with_norm(base.join(F.broadcast(surv), on="__id")) \
            .repartition(F.col("__id"))  # tiny: survivors only
    # join-backs read the shared by-id exchange (corpus-wide in "shared",
    # survivors-only otherwise); per-pair work is ONE dot-chain (norms
    # precomputed pre-exchange, bit-identical to the oracle's inline
    # sqrt(dot(a,a))).
    va = v.select(F.col("__id").alias("id_a"), F.col("__e").alias("e_a"),
                  F.col("__n").alias("__na"))
    vb = v.select(F.col("__id").alias("id_b"), F.col("__e").alias("e_b"),
                  F.col("__n").alias("__nb"))
    pairs = (
        pairs.join(va, on="id_a").join(vb, on="id_b")
        # chain-sum dot: bit-identical evaluation order vs the SQL twin
        .withColumn("cosine",
                    dot_chain_col(F.col("e_a"), F.col("e_b"))
                    / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= threshold)
    )
    return pairs.select("id_a", "id_b", "cosine")


def _plane_dims(n_planes: int, dim: int = 64) -> list[tuple[int, int]]:
    """Deterministic dimension pairs for the sign-LSH planes (a != b
    guaranteed: degenerate equal pairs are bumped)."""
    out = []
    for j in range(n_planes):
        a = (7 * j + 1) % dim
        b = (13 * j + 29) % dim
        if a == b:
            b = (b + 1) % dim
        out.append((a, b))
    return out


def _sign_bucket_col(vec: Column, dims: list[tuple[int, int]]) -> Column:
    bits = [
        F.when(F.element_at(vec, a + 1) > F.element_at(vec, b + 1), F.lit(1 << j))
        .otherwise(F.lit(0))
        for j, (a, b) in enumerate(dims)
    ]
    out = bits[0]
    for x in bits[1:]:
        out = out + x
    return out


def embedding_near_dup_sql(vectors_cte: str, id_col: str = "vec_id",
                           vec_col: str = "e", threshold: float = 0.9,
                           n_tables: int = 4, planes_per_table: int = 16) -> str:
    dims = _plane_dims(n_tables * planes_per_table)

    def key_sql(t: int) -> str:
        return " + ".join(
            f"CASE WHEN __e[{a + 1}] > __e[{b + 1}] THEN {1 << j} ELSE 0 END"
            for j, (a, b) in enumerate(
                dims[t * planes_per_table:(t + 1) * planes_per_table])
        )

    tables = ", ".join(
        f"{{'tbl': {t}, 'bucket': ({key_sql(t)})}}" for t in range(n_tables)
    )
    from geoutils_spark.operators.similarity import cosine_chain_sql

    cos = cosine_chain_sql("va.__e", "vb.__e")
    return f"""
    WITH v AS (
      SELECT {id_col} AS __id, {vec_col} AS __e FROM {vectors_cte}
    ),
    keyed AS (
      SELECT __id, UNNEST([{tables}], recursive := true) FROM v
    ),
    pairs AS (
      SELECT DISTINCT a.__id AS id_a, b.__id AS id_b
      FROM keyed a JOIN keyed b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.__id < b.__id
    )
    SELECT p.id_a, p.id_b, {cos} AS cosine
    FROM pairs p
    JOIN v va ON va.__id = p.id_a
    JOIN v vb ON vb.__id = p.id_b
    WHERE {cos} >= {threshold!r}
    """


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 20) -> DataFrame:
    """(node_id, component_id) with component_id = min id reachable —
    iterative min-label propagation PLUS a pointer-doubling shortcut per
    round (comp := label(comp)), so label distance-to-minimum halves every
    iteration and convergence is O(log(diameter)) rounds even for long
    boilerplate near-dup chains (a depth-D chain needs ~log2(D) rounds, not
    D). Iteration count is checked and overrun raises rather than returning
    a wrong clustering.

    Near-dup pairs chain (A~B, B~C but not A~C); keep-one-per-cluster dedup
    needs the transitive closure, not raw pairs. Each iteration is one
    groupBy(min) + two joins.

    Scale shape: edges stay partitioned by node; labels is a (node, long)
    table orders of magnitude smaller than the corpus. This is the standard
    iterative-algorithm escape hatch — deliberately NOT expressible as one
    SQL query (the driver records it as a rows-only check).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for _ in range(max_iter):
        # neighbor minimum, including self
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src").agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp")))
                .alias("comp"),
            )
        )
        # pointer-doubling shortcut: comp := label(comp). Labels are always
        # node ids, so the self-join hits; distance-to-root halves per round.
        hop = new_labels.select(F.col("node").alias("__c"),
                                F.col("comp").alias("__cc"))
        new_labels = (
            new_labels.join(hop, new_labels.comp == hop.__c, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("__cc", F.col("comp")))
                .alias("comp"),
            )
        )
        new_labels = new_labels.localCheckpoint()  # cut the iterative lineage
        changed = (
            labels.alias("o").join(new_labels.alias("n"), "node")
            .filter(F.col("o.comp") != F.col("n.comp")).limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("node"), F.col("comp").alias("component_id"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


def dedup_keepers(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                  max_iter: int = 20) -> DataFrame:
    """(node, component_id, keep) — transitive-closure dedup decision:
    keep exactly the minimum id of every duplicate cluster."""
    cc = connected_components(pairs, id_a, id_b, max_iter)
    return cc.withColumn("keep", F.col("node") == F.col("component_id"))
