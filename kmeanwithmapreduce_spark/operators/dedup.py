"""Deduplication operators over the documents table: exact, n-gram
Jaccard, MinHash-LSH, SimHash — the core of a training-data pipeline.

Cross-engine determinism strategy: every hash is md5-derived (identical
bytes in Spark and DuckDB), so even the MinHash signatures and SimHash
bits hash-match the oracle — no engine-specific hash() anywhere.

Scale notes:
- exact dedup: hash-groupBy on a 128-bit digest — one shuffle keyed by
  digest, no skew (uniform hash keys).
- n-gram Jaccard: explode(shingles) -> self-join on shingle ->
  pair-count. The shingle join is the classic quadratic blow-up risk;
  at 100 TB you bound it by frequency-capping shingles (drop shingles
  appearing in > T docs — they only create useless hot pairs). The cap
  is applied here too.
- MinHash-LSH: signatures via per-seed min over shingle hashes (one
  explode + groupBy), banding -> bucket join. Only same-bucket pairs are
  compared: linear-ish in practice, the standard scale path.
- SimHash: 64-bit fingerprint per doc, near-dups = hamming distance <= t
  grouped by band prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import ensure_min_parallelism, load_table

# Shingles occurring in more than this many docs are dropped from the
# Jaccard pair-join (stopword-shingle frequency cap; see module doc).
_SHINGLE_DOC_CAP = 100
_N_MINHASH = 16  # permutations
_LSH_BANDS = 4  # 4 bands x 4 rows
_JACCARD_THRESHOLD = 0.5


def _shingles(text_col, n: int = 3):
    """Distinct word n-grams as an array column (JVM-side)."""
    toks = F.split(text_col, " ")
    # sequence(1, 0) would yield [1, 0] (descending), so short docs get an
    # explicit empty shingle set.
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )
    )


# --------------------------------------------------------------------------
# d01 — exact dedup by content digest: keep lowest doc_id per digest.
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text")).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


D01_SQL = """
SELECT md5(text) AS digest,
       min(doc_id) AS keep_doc_id,
       count(*)    AS n_copies
FROM documents
GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# d02 — n-gram Jaccard near-dup pairs via shingle inverted index.
def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Inverted-index pair generation WITHOUT a shingle self-join:
    group each shingle's (capped, sorted) posting list once, expand
    doc-id pairs map-side with array expressions, aggregate pair counts.
    Two data shuffles (by shingle, then by pair) instead of the
    self-join's three, and no wide join. The frequency cap bounds both
    posting-list memory and the quadratic pair expansion.

    The cap is applied COUNT-FIRST via ``count(*) OVER (PARTITION BY
    shingle)``: doc frequency is computed inside the shingle-partitioned
    window — whose sort/buffer is an UnsafeExternalSorter that SPILLS, so
    a stop-shingle appearing in millions of docs costs disk, never an
    unbounded aggregation buffer — and rows of hot shingles are dropped
    BEFORE any posting list is collected. ``collect_set`` only ever sees
    shingles at or under the cap, so no aggregation buffer exceeds
    cap-many ids. (Collecting first and filtering on size(docs)
    afterwards would build a posting array for every stop-shingle inside
    one buffer before discarding it.)

    The window and the posting-list groupBy share one
    hashpartitioning(shingle) Exchange, and the per-doc size branch
    consumes the SAME Exchange (AQE ReusedExchange) — the scan + shingle
    explode runs once for the whole query, the size branch re-reads
    shuffle output instead of recomputing it."""
    d = ensure_min_parallelism(docs)
    sh = d.select(
        "doc_id", F.explode(_shingles(F.col("text"))).alias("shingle")
    )
    # (doc_id, shingle) rows are distinct per doc (_shingles is
    # array_distinct), so count(*) per shingle IS the doc frequency
    w = Window.partitionBy("shingle")
    capped_rows = (
        sh.withColumn("df", F.count(F.lit(1)).over(w))
        .where(F.col("df") <= _SHINGLE_DOC_CAP)
        .drop("df")
    )
    capped = capped_rows.groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc_id")).alias("docs")
    )
    sizes = capped_rows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # map-side pair expansion: for sorted docs, all (docs[i], docs[j]), i<j
    pair_arr = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size("docs")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    inter = (
        capped.where(F.size("docs") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    # floor-truncate (not round): floor of an identical double is
    # engine-identical; round is not (see relational._gridsum note).
    jac = F.floor(
        F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")) * 10000.0
    ) / 10000.0
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


def d02_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


D02_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
capped AS (
  SELECT * FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= {_SHINGLE_DOC_CAP})
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       floor(inter * 1.0 / (sa.n_sh + sb.n_sh - inter) * 10000.0) / 10000.0 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE floor(inter * 1.0 / (sa.n_sh + sb.n_sh - inter) * 10000.0) / 10000.0
      >= {_JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# d03 — MinHash signatures + LSH banding.
#
# One md5 per shingle (32-bit base hash), then _N_MINHASH affine
# permutations h_i = (A_i * h + B_i) mod P — the classic universal-hash
# MinHash family. All integer arithmetic (A_i < 2^30 odd, h < 2^32,
# P = 2^61-1: products stay under 2^63), so the DuckDB oracle reproduces
# the signatures bit-for-bit with no engine-specific hashing.
# Scale: cost is one explode + one 16-min-aggregate groupBy (map-side
# combined) + a bucket self-join restricted to band-equal pairs.
_MINHASH_P = (1 << 61) - 1


def _minhash_coeffs() -> list[tuple[int, int]]:
    """Deterministic (A, B) pairs from a fixed LCG (shared by the Spark
    plan and the SQL oracle text)."""
    coeffs = []
    state = 0x5DEECE66D
    for _ in range(_N_MINHASH):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state >> 8) % (1 << 30) | 1  # odd, < 2^30
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MINHASH_P
        coeffs.append((a, b))
    return coeffs


_MINHASH_COEFFS = _minhash_coeffs()


def _shingle_rows(d: DataFrame) -> DataFrame:
    """(doc_id, shingle, h) rows: distinct 3-gram shingles with their
    32-bit md5-derived base hash.

    Unlike d02's posting lists, everything downstream of these rows
    aggregates with O(1) buffers: the signature groupBy keeps 16 running
    mins per doc (no collect_*), so a stop-shingle costs rows, never an
    unbounded aggregation buffer — hence no frequency cap here, which
    also keeps the MinHash signature semantics exact (a cap would
    perturb every signature containing a capped shingle)."""
    sh = d.select("doc_id", F.explode(_shingles(F.col("text"))).alias("shingle"))
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("bigint")
    return sh.withColumn("h", h)


def minhash_bands(d: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band-index rows for each document: the
    16-hash MinHash signature (affine permutations over the md5 base
    hash, O(1) running-min buffers) cut into ``_LSH_BANDS`` bands. Two
    documents are near-dup CANDIDATES iff they share a (band, key) row.

    This is the persistable unit of the incremental ingest path: store
    these rows for the live corpus and new batches join against them
    (incremental_neardup_pairs) without ever rescanning old text."""
    hashed = _shingle_rows(d)
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MINHASH_P)).alias(
                f"s{i}"
            )
            for i, (a, b) in enumerate(_MINHASH_COEFFS)
        ]
    )
    rows_per_band = _N_MINHASH // _LSH_BANDS
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"s{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(_LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidate_pairs(bands: DataFrame, distinct: bool = True) -> DataFrame:
    """Candidate near-dup pairs from a band index: bucket-restricted
    self-join on (band, key) + distinct — the standard sub-quadratic
    LSH path. A HOT bucket (thousands of byte-identical documents
    sharing every band key) is the one place this degrades toward
    quadratic: output is still CORRECT (those docs genuinely are all
    pairwise candidates), but one (band, key) group holds the whole
    blowup. That skew is handled by AQE's skew-join split — the join is
    a plain equi-SMJ on (band, key), exactly the shape
    OptimizeSkewedJoin knows how to split into advisory-sized task
    chunks (pinned under forced-skew configs and a 1 GiB heap in
    tests/test_lsh_skew.py). When the duplicate mass is KNOWN to be
    huge, the cheaper route is dup_clusters' connected components over
    exact-hash pre-grouping, which collapses identical docs before any
    pair expansion (SCALE.md note)."""
    a = bands.alias("a")
    b = bands.alias("b")
    out = (
        a.join(b, ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    # distinct=False lets a caller that already dedups downstream (a
    # terminal distinct, or connected_components' symmetrize) skip an
    # extra exchange+aggregate stage
    return out.distinct() if distinct else out


def d03_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(
        minhash_bands(
            ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
        )
    )


def band_collisions(
    new_bands: DataFrame, index: DataFrame, distinct: bool = True
) -> DataFrame:
    """THE incremental candidate rule, in one place: distinct rows of
    (new_doc, <index columns except band/key>) for every (band, key)
    the new documents' bands share with the stored index. Both
    incremental_neardup_pairs (partner = doc_id) and the incremental
    corpus ingest (partner = resolved cluster canonical) are this join
    — a change to the collision semantics lands once."""
    a = new_bands.alias("a")
    b = index.alias("b")
    keep = [c for c in index.columns if c not in ("band", "key")]
    out = a.join(b, ["band", "key"]).select(
        F.col("a.doc_id").alias("new_doc"), *[F.col(f"b.{c}") for c in keep]
    )
    return out.distinct() if distinct else out


def incremental_neardup_pairs(
    new_docs: DataFrame, band_index: DataFrame
) -> DataFrame:
    """Near-dup candidate pairs for an INCREMENTAL ingest batch: join
    the new documents' band keys against the stored corpus band index
    (``minhash_bands`` rows of everything ingested so far) plus the
    batch's own intra-pairs. Exactly the d03 pairs that touch at least
    one new document, WITHOUT rescanning or re-signing the old corpus —
    per batch this costs O(batch) signature work and a join that prunes
    to matching band keys.

    Contract (pinned by test_incremental_neardup_matches_batch): with
    disjoint doc_id sets, ``d03 pairs over (old ∪ new)`` equals
    ``pairs(old-only index) ∪ incremental_neardup_pairs(new, old index)``.
    To ingest the batch afterwards, append ``minhash_bands(new_docs)``
    to the stored index — the operation is associative, so a stream of
    batches maintains exactness.

    At 100 TB the band index is ~16 small rows per document, stored
    partitioned by (band, key-hash); each batch join touches only the
    buckets its keys hash to."""
    nb = minhash_bands(new_docs)
    # inner distincts skipped: the terminal distinct below dedups once
    # (one exchange+aggregate, the pre-refactor plan shape)
    cross = (
        band_collisions(nb, band_index, distinct=False)
        .where(F.col("new_doc") != F.col("doc_id"))
        .select(
            F.least(F.col("new_doc"), F.col("doc_id")).alias("doc_a"),
            F.greatest(F.col("new_doc"), F.col("doc_id")).alias("doc_b"),
        )
    )
    intra = lsh_candidate_pairs(nb, distinct=False)
    return cross.union(intra).distinct()


def _d03_sql() -> str:
    rows_per_band = _N_MINHASH // _LSH_BANDS
    min_exprs = ", ".join(
        f"min(({a} * h + {b}) % {_MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(_MINHASH_COEFFS)
    )
    band_rows = []
    for b in range(_LSH_BANDS):
        cols = " || ',' || ".join(
            f"CAST(s{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, {cols} AS key FROM sigs")
    bands = " UNION ALL ".join(band_rows)
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM sh
),
sigs AS (SELECT doc_id, {min_exprs} FROM hashed GROUP BY doc_id),
bands AS ({bands})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id
"""


D03_SQL = _d03_sql()


# --------------------------------------------------------------------------
# d04 — SimHash 32-bit fingerprints (md5-derived token hashes; bit b of
# the fingerprint = sign of the sum of +-1 votes from each token).
_SIMHASH_BITS = 32


def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode tokens, hash each ONCE, then take all 32 bit votes in a
    single grouped aggregation (one data pass, map-side combined) —
    rather than 32 array-fold passes per document."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    hashed = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(_SIMHASH_BITS)
    ]
    sig = hashed.groupBy("doc_id").agg(*votes)
    fingerprint = sum(
        (
            F.when(F.col(f"v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
            for b in range(1, _SIMHASH_BITS)
        ),
        F.when(F.col("v0") > 0, F.lit(1)).otherwise(F.lit(0)),
    ).cast("bigint")
    return sig.select("doc_id", fingerprint.alias("simhash"))


def _d04_sql() -> str:
    votes = []
    for b in range(_SIMHASH_BITS):
        votes.append(
            f"CASE WHEN sum(CASE WHEN (h // {2**b}) % 2 = 1 THEN 1 ELSE -1 END) > 0"
            f" THEN {2**b} ELSE 0 END"
        )
    total = " + ".join(votes)
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t AS token
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h
  FROM tok
)
SELECT doc_id, CAST({total} AS BIGINT) AS simhash
FROM hashed
GROUP BY doc_id
"""


D04_SQL = _d04_sql()


# --------------------------------------------------------------------------
# d05 — embedding-cosine near-dup pairs: vectors whose cosine similarity
# exceeds a threshold. Brute-force pair space here (oracle-checkable);
# the scale path is s02's hyperplane-LSH bucketing to collapse N^2.
_COSINE_DUP_THRESHOLD = 0.5


# Block grid for the all-pairs GEMM: each side is split into _GEMM_BLOCKS
# hash blocks and every (left-block, right-block) combination becomes one
# cogroup — the classic communication-optimal distributed all-pairs
# layout. Replication factor is _GEMM_BLOCKS per side; at 100 TB you size
# it so one block pair (2 * N/B * d doubles) fits an executor's memory.
_GEMM_BLOCKS = 4


def d05_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine via a block-pair cogrouped GEMM — fully
    distributed, NOTHING reaches the driver (round 1 collected the whole
    corpus driver-side; a 100 TB corpus would OOM the driver).

    Layout: left rows are replicated across all right-block ids, right
    rows across all left-block ids; cogrouping on (bi, bj) hands each
    task one (left block x right block) pair, multiplied in a single
    NumPy matmul per Arrow group. Each unordered pair (u, v), u < v,
    appears in exactly one group — (u % B, v % B) with u on the left —
    so emitting only left_id < right_id yields each pair once. This is
    the sanctioned Pandas-UDF case: built-in operators cannot express a
    GEMM. Cost: both sides shuffle B-fold replicated (B^2 tasks of
    (N/B)^2 work); exactness over the full N^2 space is inherent to the
    operator — the sub-quadratic scale path is s02's LSH prefilter."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    e = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"))
    base = e.select("vec_id", "embedding")
    blocks = F.sequence(F.lit(0), F.lit(_GEMM_BLOCKS - 1))
    left = base.select(
        "vec_id",
        "embedding",
        F.pmod(F.col("vec_id"), F.lit(_GEMM_BLOCKS)).cast("int").alias("bi"),
        F.explode(blocks).alias("bj"),
    )
    # distinct right-side names: a self-cogroup reuses the left plan's
    # attribute ids, and Spark then delivers the duplicated columns only
    # on the left pdf — aliasing forces fresh attributes on the right.
    right = base.select(
        F.col("vec_id").alias("r_vec_id"),
        F.col("embedding").alias("r_embedding"),
        F.explode(blocks).alias("bi"),
        F.pmod(F.col("vec_id"), F.lit(_GEMM_BLOCKS)).cast("int").alias("bj"),
    )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

    def gemm(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return empty
        a_ids = lpdf["vec_id"].to_numpy(dtype=np.int64)
        a = np.asarray(lpdf["embedding"].tolist(), dtype=np.float64)
        b_ids = rpdf["r_vec_id"].to_numpy(dtype=np.int64)
        b = np.asarray(rpdf["r_embedding"].tolist(), dtype=np.float64)
        a_norms = np.sqrt((a * a).sum(1))
        b_norms = np.sqrt((b * b).sum(1))
        sims = (a @ b.T) / (a_norms[:, None] * b_norms[None, :])
        sims = np.floor(sims * 10000.0) / 10000.0
        ii, jj = np.where(sims >= _COSINE_DUP_THRESHOLD)
        keep = a_ids[ii] < b_ids[jj]  # upper triangle only, no self-pairs
        return pd.DataFrame(
            {
                "id_a": a_ids[ii][keep],
                "id_b": b_ids[jj][keep],
                "cosine": sims[ii, jj][keep],
            }
        )

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(gemm, out_schema)
    )


D05_SQL = f"""
SELECT id_a, id_b, cosine
FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 10000.0)
           / 10000.0 AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
WHERE cosine >= {_COSINE_DUP_THRESHOLD}
"""
