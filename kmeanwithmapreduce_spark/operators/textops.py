"""Text-analysis operators over the documents table — the training-data
pipeline surface (language-ID heuristic, quality scoring, token stats,
fingerprinting). All pure JVM-side expressions (split / array ops /
md5), no Python in the hot path; each is paired with a DuckDB oracle.

Scale: every operator here is embarrassingly parallel per document (no
shuffle except the final small agg), so it scales linearly with input
splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table

# Deterministic marker-word lists for the language-ID heuristic. The
# point is a reproducible n-gram/stopword classifier shape (real marker
# lists would be curated per language); accuracy vs the synthetic lang
# column is reported, not assumed.
_LANG_MARKERS = {
    "en": ("the", "a", "fast"),
    "de": ("der", "und", "nicht"),
    "es": ("el", "la", "que"),
    "fr": ("le", "la", "et"),
    "zh": ("zh", "hanzi", "pinyin"),
}


# --------------------------------------------------------------------------
# t01 — token / char statistics per source: whitespace tokens AND a
# BPE-ish regex pre-tokenization (the GPT-2-style letter-run / digit-run
# / punct-run split, restricted to ASCII classes so Java regex and
# DuckDB's RE2 agree) — the two token-counting conventions a training
# pipeline budgets with.
_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def t01_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return (
        d.select(
            "source",
            "n_chars",
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq_tokens"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), 0))
            .cast("bigint")
            .alias("n_bpe"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # floor-truncated explicit sum/count (engine-identical; see
            # relational._gridavg note on round())
            (
                F.floor(F.sum("n_chars").cast("double") * 100.0 / F.count(F.lit(1)))
                / 100.0
            ).alias("avg_chars"),
            (
                F.floor(F.sum("n_tokens").cast("double") * 100.0 / F.count(F.lit(1)))
                / 100.0
            ).alias("avg_tokens"),
            (
                F.floor(F.sum("n_bpe").cast("double") * 100.0 / F.count(F.lit(1)))
                / 100.0
            ).alias("avg_bpe_pieces"),
            (
                F.floor(
                    F.sum(F.col("n_uniq_tokens") / F.col("n_tokens")) * 10000.0
                    / F.count(F.lit(1))
                )
                / 10000.0
            ).alias("avg_uniq_ratio"),
        )
    )


T01_SQL = f"""
SELECT source,
       count(*) AS n_docs,
       floor(CAST(sum(n_chars) AS DOUBLE) * 100.0 / count(*)) / 100.0  AS avg_chars,
       floor(CAST(sum(n_tokens) AS DOUBLE) * 100.0 / count(*)) / 100.0 AS avg_tokens,
       floor(CAST(sum(n_bpe) AS DOUBLE) * 100.0 / count(*)) / 100.0 AS avg_bpe_pieces,
       floor(sum(n_uniq_tokens * 1.0 / n_tokens) * 10000.0 / count(*)) / 10000.0
         AS avg_uniq_ratio
FROM (
  SELECT source, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
         CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_bpe
  FROM documents
)
GROUP BY source
"""


# --------------------------------------------------------------------------
# t02 — per-document quality score: token-length + uniqueness + length
# heuristics; emit score buckets (the filter a data pipeline applies
# before training).
def t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score_frame(load_table(spark, sf_dir, "documents"))


def quality_score_frame(d: DataFrame) -> DataFrame:
    """t02's per-document quality score over ANY (doc_id, text) frame —
    the frame-level form the incremental corpus ingest shares with the
    registry entry (scores are per-doc, so computing them on a wave
    slice equals computing on the full table and filtering)."""
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)) * 1.0 / n_tokens
    avg_tok_len = (F.length("text") - (n_tokens - 1)) * 1.0 / n_tokens
    raw = (
        0.4 * uniq_ratio
        + 0.3 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * F.least(avg_tok_len / F.lit(8.0), F.lit(1.0))
    )
    # floor-truncation, not round(): engine-identical on identical doubles
    score = F.floor(raw * 10000.0) / 10000.0
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.floor(uniq_ratio * 10000.0) / 10000.0).alias("uniq_ratio"),
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


T02_SQL = """
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       floor(uniq_ratio * 10000.0) / 10000.0 AS uniq_ratio,
       floor(raw * 10000.0) / 10000.0 AS quality_score,
       floor(raw * 10000.0) / 10000.0 >= 0.5 AS keep
FROM (
  SELECT doc_id, n_tokens, uniq_ratio,
         0.4 * uniq_ratio
             + 0.3 * least(n_tokens / 100.0, 1.0)
             + 0.3 * least(((n_chars - (n_tokens - 1)) * 1.0 / n_tokens) / 8.0, 1.0)
           AS raw
  FROM (
    SELECT doc_id, n_chars, n_tokens,
           n_uniq * 1.0 / n_tokens AS uniq_ratio
    FROM (
      SELECT doc_id, length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_uniq
      FROM documents
    )
  )
)
"""


# --------------------------------------------------------------------------
# t03 — language-ID heuristic: count marker-word hits per language,
# argmax with deterministic tie-break on language code; report the
# confusion matrix vs the labeled lang column.
def t03_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.col("text"), " "))
    hit_cols = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        hits = sum(
            (F.array_contains(toks, m).cast("int") for m in markers),
            F.lit(0),
        )
        hit_cols.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max of (hits, lang) structs: max hits, then max lang — make the
    # tie-break deterministic-lowest by negating via sort: use sort_array
    # descending on hits, ascending lang via struct ordering trick below.
    best = F.sort_array(
        F.array(*hit_cols), asc=False
    )  # struct order: hits desc, then lang desc
    # to get lowest-lang tie-break, first filter to max hits then take min lang
    max_hits = F.element_at(best, 1)["hits"]
    cand = F.filter(F.array(*hit_cols), lambda s: s["hits"] == max_hits)
    pred = F.array_min(F.transform(cand, lambda s: s["lang"]))
    return (
        d.select("lang", F.when(max_hits > 0, pred).otherwise(F.lit("und")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _t03_sql() -> str:
    per_lang = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        hits = " + ".join(
            f"CAST(list_contains(toks, '{m}') AS INT)" for m in markers
        )
        per_lang.append(f"({hits}) AS hits_{lang}")
    greatest = "greatest(" + ", ".join(f"hits_{l}" for l in sorted(_LANG_MARKERS)) + ")"
    first_match = "CASE " + " ".join(
        f"WHEN hits_{l} = mx THEN '{l}'" for l in sorted(_LANG_MARKERS)
    ) + " END"
    return f"""
WITH hits AS (
  SELECT lang, {", ".join(per_lang)}
  FROM (SELECT lang, list_distinct(string_split(text, ' ')) AS toks FROM documents)
),
best AS (
  SELECT lang, mx, {first_match} AS pred
  FROM (SELECT *, {greatest} AS mx FROM hits)
)
SELECT lang,
       CASE WHEN mx > 0 THEN pred ELSE 'und' END AS pred_lang,
       count(*) AS n_docs
FROM best
GROUP BY 1, 2
"""


T03_SQL = _t03_sql()


# --------------------------------------------------------------------------
# t04 — document fingerprinting: md5 content hash + bucketed prefix (the
# shard key a dedup pipeline partitions on).
def t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text"))
    bucket = F.conv(F.substring(fp, 1, 4), 16, 10).cast("bigint") % 64
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        bucket.alias("shard"),
    )


T04_SQL = """
SELECT doc_id,
       md5(text) AS fingerprint,
       CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 64 AS shard
FROM documents
"""


# --------------------------------------------------------------------------
# t05 — TF-IDF: top-3 terms per document by tf·idf.
# tf = term count / doc token count; idf = ln(N / df). Scores are
# floor-truncated at 1e-6 (see relational module doc: floor of
# op-identical doubles is engine-identical; ln may differ by an ulp
# between libm implementations — truncation makes that harmless except
# within 1e-12 of a cell edge). Deterministic tie-break: score desc,
# term asc.
def t05_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny scalar, exact in both engines
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tc"))
    doc_len = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = F.floor(
        (F.col("tc") * 1.0 / F.col("dl"))
        * F.log(F.lit(float(n_docs)) / F.col("df"))
        * 1000000.0
    ) / 1000000.0
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(doc_len, "doc_id")
        .join(df_, "term")
        .select("doc_id", "term", score.alias("tfidf"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 3)
    )


def _t05_sql() -> str:
    return """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tc FROM tok GROUP BY doc_id, term),
doc_len AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         floor((tf.tc * 1.0 / doc_len.dl)
               * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 1000000.0) / 1000000.0
           AS tfidf
  FROM tf JOIN doc_len ON tf.doc_id = doc_len.doc_id
          JOIN df ON tf.term = df.term
          CROSS JOIN n
)
SELECT doc_id, term, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS INT) AS rk
FROM scored
QUALIFY rk <= 3
"""


T05_SQL = _t05_sql()


# --------------------------------------------------------------------------
# t07 — TF-IDF -> feature hashing (md5-bucketed hashing trick, 32 dims):
# the oracle-checked feature-assembly stage of the t06 pipeline, in long
# form (doc_id, bucket, w). Per-term tf-idf weights are floor-truncated
# onto the 1e-6 grid and summed as exact BIGINTs per bucket, so the
# bucket weights are accumulation-order independent (same strategy as
# relational._gridsum; ln() ulp caveat as in t05). Scale: two grouped
# aggs + one broadcast-size df join — linear, map-side combined.
_HASH_DIMS = 32


def _bucket_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket, wi) grid-integer weight rows shared by t07/t06."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny scalar, exact in both engines
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tc"))
    doc_len = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("bigint")
        % _HASH_DIMS
    ).cast("int")
    wi = F.floor(
        (F.col("tc") * 1.0 / F.col("dl"))
        * F.log(F.lit(float(n_docs)) / F.col("df"))
        * 1000000.0
    ).cast("long")
    return (
        tf.join(doc_len, "doc_id")
        .join(df_, "term")
        .select("doc_id", bucket.alias("bucket"), wi.alias("wi"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("wi").alias("wi"))
    )


def t07_tfidf_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bucket_weights(spark, sf_dir).select(
        "doc_id",
        "bucket",
        (F.col("wi").cast("double") / 1000000.0).alias("w"),
    )


T07_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tc FROM tok GROUP BY doc_id, term),
doc_len AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, CAST(bucket AS INT) AS bucket,
       CAST(sum(wi) AS DOUBLE) / 1000000.0 AS w
FROM (
  SELECT tf.doc_id,
         CAST(('0x' || substr(md5(tf.term), 1, 8)) AS BIGINT) % {_HASH_DIMS}
           AS bucket,
         CAST(floor((tf.tc * 1.0 / doc_len.dl)
                    * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 1000000.0) AS BIGINT)
           AS wi
  FROM tf JOIN doc_len ON tf.doc_id = doc_len.doc_id
          JOIN df ON tf.term = df.term
          CROSS JOIN n
)
GROUP BY doc_id, bucket
"""


# --------------------------------------------------------------------------
# t06 — document clustering: the t07 hashed-feature assembly -> dense
# 32-dim vectors -> the engine's own K-Means. The composition the
# reference exists for (clustering), applied to the text pipeline.
# Deterministic by construction (the k02 golden-row recipe): init
# centroids are the feature vectors of the k lowest doc_ids (one tiny
# ordered collect) and the Lloyd tail runs in compat mode, whose 5-dp
# float32 mean rounding absorbs aggregation-merge-order ulp noise — so
# the output is a fixed table per corpus and carries a literal VALUES
# oracle (T06_SQL) instead of a rows-only check. The feature stage is
# independently oracle-checked as t07. Scale: one extra groupBy to
# assemble the vectors; everything else is the K-Means core path.
def t06_tfidf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..kmeans import core

    scored = _bucket_weights(spark, sf_dir).select(
        "doc_id", "bucket", (F.col("wi").cast("double") / 1000000.0).alias("w")
    )
    # assemble dense vectors: map buckets into a fixed-arity array
    vec = scored.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("w")))
        ).alias("m")
    )
    feats = vec.select(
        "doc_id",
        F.array(
            *[
                F.coalesce(F.element_at(F.col("m"), i), F.lit(0.0))
                for i in range(_HASH_DIMS)
            ]
        )
        .cast("array<float>")
        .alias("features"),
    )
    init = [
        [float(v) for v in r["features"]]
        for r in feats.orderBy("doc_id").limit(5).collect()
    ]
    res = core.lloyd(
        feats,
        core.KMeansParams(k=5, thresh=1e-2, max_loop=5, mode="compat"),
        init_centroids=init,
    )
    labeled = core.label(feats, res.centroids)
    return labeled.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_docs"))


# Golden-row oracle (see t06 docstring): literal VALUES per corpus,
# discriminated by lineitem count; values computed by running t06 once
# per sf (double-run determinism-checked). Any engine change that
# shifts assignment or mean arithmetic is exactly what this catches.
T06_SQL = """
WITH nrows AS (SELECT count(*) AS c FROM lineitem)
SELECT CAST(cluster AS INT) AS cluster,
       CAST(n_docs AS BIGINT) AS n_docs
FROM (
  SELECT * FROM (VALUES
    (0, 9), (1, 145), (2, 119), (3, 139), (4, 88)
  ) v(cluster, n_docs)
  WHERE (SELECT c FROM nrows) = 6000
  UNION ALL
  SELECT * FROM (VALUES
    (0, 15), (1, 148), (2, 97), (3, 115), (4, 125)
  ) v(cluster, n_docs)
  WHERE (SELECT c FROM nrows) = 60000
  UNION ALL
  SELECT * FROM (VALUES
    (0, 1647), (1, 222), (2, 880), (3, 786), (4, 1465)
  ) v(cluster, n_docs)
  WHERE (SELECT c FROM nrows) = 600000
)
"""
