"""Corpus-curation operators — the mixture / sub-document-dedup /
LM-quality stages a training-data pipeline runs after cleaning and
before sharding:

- ``domain_mixture_sample``: rebalance a multi-source corpus to target
  per-domain TOKEN-share weights (the Pile / LLaMA mixture-table step)
  by deterministically downsampling over-represented domains.
- ``span_dedup``: sub-document deduplication — C4 removes any
  three-sentence span that occurs elsewhere in the corpus; here the
  span unit is a fixed token window and a span survives only in its
  first-occurrence (min doc_id) document.
- ``unigram_logprob``: CCNet-style language-model quality scoring —
  score every document by its mean token log-probability under an
  add-one-smoothed unigram LM fit on a designated reference sub-corpus
  (CCNet uses a 5-gram KenLM; the unigram form keeps the whole thing a
  declarative two-join plan with a cross-engine oracle).

No reference-repo counterpart (the reference is a single K-Means job —
SURVEY §2 Part A); these extend the engine per the training-pipeline
brief. The query wrappers (c06/c07/c08) register AFTER the driver's
frozen 50-entry window and are verified by the in-repo parity sweep
(tests/test_oracle_parity.py + tests/test_curation.py).

Design notes for 100 TB:

- ``domain_mixture_sample`` is one small per-source aggregation
  (#sources rows to the driver) followed by a zero-shuffle filter with
  a broadcast rate table. The keep decision is EXACT INTEGER
  arithmetic — ``u·tok_s·w_m < 2^32·w_s·tok_m`` (see the docstring) —
  so there is no float-rate computation to drift between engines,
  cluster layouts, or reruns.
- ``span_dedup`` is explode → min-owner groupBy → shuffle join →
  per-doc reassembly: partial aggregation collapses repeated spans
  within each input split, and the owner join is AQE-skew-splittable
  (a window over partitionBy(span) would pin each hot "stop span" to
  one task; the groupBy+join shape lets AQE split it).
- ``unigram_logprob`` broadcasts the reference vocabulary (a unigram
  table is vocabulary-sized, ≪ executor memory even for a 100 TB
  corpus) into the exploded token stream; one groupBy(doc) finishes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import ensure_min_parallelism, load_table

_U32 = 4_294_967_296  # 2^32: the md5-prefix draw u is uniform on [0, 2^32)
_ARGMIN_SCALE = 1_000_000  # integer-division scale for the argmin rule


def _u32_draw(key_col, salt: str):
    """Uniform integer draw on [0, 2^32) from md5(salt:key) — the
    shared cross-engine pattern (functions.hashing)."""
    from ..functions.hashing import md5_prefix_u32

    return md5_prefix_u32(
        F.concat_ws(":", F.lit(salt), key_col.cast("string"))
    )


def _token_table(docs, id_col, source_col, text_col, tokenizer):
    """(id, source, n_tokens) for the mixture ops: whitespace-token
    expr by default (oracle-parity path), or Arrow-batched BPE counts
    when a tokenizer is passed — downstream integer keep/copy rules are
    count-source-agnostic."""
    if tokenizer is not None:
        from ..functions.bpe import bpe_count_col

        return bpe_count_col(
            docs.select(id_col, source_col, text_col),
            tokenizer,
            text_col,
            "n_tokens",
        ).select(id_col, source_col, "n_tokens")
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    return docs.select(id_col, source_col, n_tok.alias("n_tokens"))


def domain_mixture_sample(
    docs: DataFrame,
    weights: dict[str, int],
    *,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "c06",
    tokenizer=None,
) -> DataFrame:
    """Deterministic mixture-weighted downsampling: keep a subset of
    ``docs`` whose per-``source_col`` TOKEN totals land in the ratios of
    ``weights`` (relative integer weights, e.g. ``{"web": 3, "code": 1}``
    for a 3:1 token mixture).

    Semantics: let ``tok_s`` be the whitespace-token total of source
    ``s`` and ``w_s`` its weight. The binding (most under-represented
    relative to its weight) source ``m`` — chosen by the exact rule
    ``argmin_s (tok_s·SCALE // w_s, s)`` — is kept in full; every other
    source is downsampled to the matching token share, i.e. document
    keep-rate ``(w_s·tok_m) / (w_m·tok_s)``. Selection is per-document
    via a uniform md5 draw ``u ∈ [0, 2^32)``; a document is kept iff

        u · tok_s · w_m  <  2^32 · w_s · tok_m

    — the rate comparison cross-multiplied into PURE INTEGER arithmetic
    (evaluated in DECIMAL(38,0): u ≤ 10 digits, a 100 TB corpus's token
    total ≤ ~14, weights ≤ 6 → ≤ 30-digit products), so the kept set is
    an exact function of (corpus, weights, salt) with no float rounding
    to diverge between engines. Sources absent from ``weights`` (or
    weighted 0) are dropped — a mixture table is also a domain filter.

    Expected (not exact) per-source token share of the output is
    ``w_s / Σw``; the md5 draw makes each document an independent
    Bernoulli, so realized shares concentrate around the target with
    relative error ~1/sqrt(docs-per-source).

    Returns (source_col, id_col, n_tokens). One small aggregation
    (#sources rows collected) + a zero-shuffle broadcast-joined filter.
    """
    bad = {s: w for s, w in weights.items() if int(w) != w or w < 0}
    if bad:
        raise ValueError(f"weights must be non-negative integers, got {bad}")
    # the exactness bound (docstring: u ≤10 digits · tok ≤~14 · w ≤6
    # stays inside DECIMAL(38,0)) is enforced, not assumed: an
    # over-wide weight would overflow the decimal product to NULL
    # (ANSI off) and silently drop whole sources
    too_big = {s: w for s, w in weights.items() if w > _ARGMIN_SCALE}
    if too_big:
        raise ValueError(
            f"weights must be <= {_ARGMIN_SCALE} (relative integer "
            f"ratios, not token counts), got {too_big}"
        )
    t = _token_table(docs, id_col, source_col, text_col, tokenizer)
    totals = {
        r[source_col]: int(r["_tok"])
        for r in t.groupBy(source_col).agg(F.sum("n_tokens").alias("_tok")).collect()
    }
    present = {s: int(w) for s, w in weights.items() if s in totals and w > 0}
    if not present:
        raise ValueError("no weighted source present in the corpus")
    # binding source: exact integer argmin (ties by source name) — the
    # same rule the SQL twin applies, so both engines agree even when
    # two ratios collide at the integer-division scale.
    m = min(present, key=lambda s: (totals[s] * _ARGMIN_SCALE // present[s], s))
    w_m, tok_m = present[m], totals[m]
    spark = docs.sparkSession
    rates = spark.createDataFrame(
        sorted((s, w, totals[s]) for s, w in present.items()),
        f"{source_col} string, _w long, _tok long",
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    u = _u32_draw(F.col(id_col), salt)
    keep = (dec(u) * dec(F.col("_tok")) * dec(F.lit(w_m))) < (
        dec(F.lit(_U32)) * dec(F.col("_w")) * dec(F.lit(tok_m))
    )
    return (
        t.join(F.broadcast(rates), source_col)
        .where(keep)
        .select(source_col, id_col, "n_tokens")
    )


def domain_mixture_sample_sql(
    table: str,
    weights: dict[str, int],
    *,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "c06",
) -> str:
    """DuckDB twin of domain_mixture_sample — same integer argmin rule,
    same cross-multiplied keep inequality (HUGEINT = exact, like the
    engine's DECIMAL(38,0))."""
    vals = ", ".join(f"('{s}', {int(w)})" for s, w in sorted(weights.items()))
    return f"""
WITH t AS (
  SELECT {id_col}, {source_col},
         CAST(len(string_split({text_col}, ' ')) AS BIGINT) AS n_tokens
  FROM {table}
), w({source_col}, _w) AS (VALUES {vals}),
tot AS (
  SELECT {source_col}, SUM(n_tokens) AS _tok FROM t GROUP BY {source_col}
),
j AS (
  SELECT tot.{source_col}, w._w, tot._tok
  FROM tot JOIN w USING ({source_col}) WHERE w._w > 0
),
m AS (
  -- HUGEINT: at the module's design point (~14-digit per-source token
  -- totals) _tok * 1e6 overflows BIGINT; the Python driver side uses
  -- arbitrary-precision ints, so the twin must not overflow first
  SELECT _w AS w_m, _tok AS tok_m FROM j
  ORDER BY (CAST(_tok AS HUGEINT) * {_ARGMIN_SCALE} // _w), {source_col} LIMIT 1
)
SELECT t.{source_col}, t.{id_col}, t.n_tokens
FROM t JOIN j ON t.{source_col} = j.{source_col}, m
WHERE CAST(CAST(('0x' || substr(md5('{salt}:' || CAST(t.{id_col} AS VARCHAR)), 1, 8))
           AS BIGINT) AS HUGEINT) * j._tok * m.w_m
    < CAST({_U32} AS HUGEINT) * j._w * m.tok_m
"""


def c06_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-rebalance the documents table: even sources get weight 3,
    odd sources weight 1, src19 excluded — exercises downsampling, the
    binding (kept-in-full) source, and the domain-filter path at once."""
    d = load_table(spark, sf_dir, "documents")
    return domain_mixture_sample(d, _C06_WEIGHTS)


_C06_WEIGHTS = {f"src{i}": (3 if i % 2 == 0 else 1) for i in range(19)}

C06_SQL = domain_mixture_sample_sql("documents", _C06_WEIGHTS)


def domain_mixture_upsample(
    docs: DataFrame,
    weights: dict[str, int],
    *,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "c09",
    tokenizer=None,
) -> DataFrame:
    """The UP-sampling dual of :func:`domain_mixture_sample`: hit the
    target token-share ratios by REPEATING under-represented sources
    instead of dropping over-represented ones — how real mixtures
    handle small, high-value domains (epoch multipliers: a 0.3%-of-
    tokens domain weighted to 3% is seen ~10 times per epoch).

    Semantics: the relatively most over-represented source ``M`` —
    exact rule ``argmax_s (tok_s·SCALE // w_s, s)`` — keeps every
    document exactly once; every other source gets repeat factor
    ``r_s = (w_s·tok_M) / (w_M·tok_s) ≥ 1`` per document: ``⌊r_s⌋``
    copies always, plus one more iff the document's uniform draw
    ``u ∈ [0, 2^32)`` satisfies

        u · (w_M · tok_s)  <  2^32 · ((w_s·tok_M) mod (w_M·tok_s))

    — floor and fractional-part both in EXACT integer arithmetic
    (DECIMAL(38,0) / HUGEINT), the c06 discipline, so the emitted
    multiset is a pure function of (corpus, weights, salt). Sources
    absent from ``weights`` (or weighted 0) are dropped.

    Returns (source_col, id_col, n_tokens, copy) — one row per copy,
    ``copy`` = 0-based repeat index (callers vary a training-order
    seed by ``copy`` to shuffle repeats apart). One small aggregation
    + a broadcast join + one generate; zero corpus-side shuffles.
    """
    bad = {s: w for s, w in weights.items() if int(w) != w or w < 0}
    if bad:
        raise ValueError(f"weights must be non-negative integers, got {bad}")
    too_big = {s: w for s, w in weights.items() if w > _ARGMIN_SCALE}
    if too_big:
        raise ValueError(
            f"weights must be <= {_ARGMIN_SCALE} (relative integer "
            f"ratios, not token counts), got {too_big}"
        )
    t = _token_table(docs, id_col, source_col, text_col, tokenizer)
    totals = {
        r[source_col]: int(r["_tok"])
        for r in t.groupBy(source_col).agg(F.sum("n_tokens").alias("_tok")).collect()
    }
    present = {s: int(w) for s, w in weights.items() if s in totals and w > 0}
    if not present:
        raise ValueError("no weighted source present in the corpus")
    M = max(present, key=lambda s: (totals[s] * _ARGMIN_SCALE // present[s], s))
    w_M, tok_M = present[M], totals[M]
    rows = []
    for s, w in sorted(present.items()):
        num, den = w * tok_M, w_M * totals[s]
        rows.append((s, num // den, num % den, den))
    spark = docs.sparkSession
    rates = spark.createDataFrame(
        rows, f"{source_col} string, _base long, _rem long, _den long"
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    u = _u32_draw(F.col(id_col), salt)
    extra = (dec(u) * dec(F.col("_den"))) < (
        dec(F.lit(_U32)) * dec(F.col("_rem"))
    )
    copies = (F.col("_base") + extra.cast("long")).cast("int")
    # copies can be 0 only when the integer-division argmax rule ties
    # two sources whose true ratios differ below the SCALE granularity;
    # the guard keeps sequence() ascending (Spark would otherwise emit
    # a DESCENDING [1, 0] for sequence(1, 0)) and matches the twin's
    # empty range(0, 0).
    return (
        t.join(F.broadcast(rates), source_col)
        .withColumn("_copies", copies)
        .where(F.col("_copies") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("_copies") - 1)))
        .select(source_col, id_col, "n_tokens", "copy")
    )


def domain_mixture_upsample_sql(
    table: str,
    weights: dict[str, int],
    *,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "c09",
) -> str:
    """DuckDB twin of domain_mixture_upsample — same integer argmax
    rule, same exact floor/remainder repeat arithmetic."""
    vals = ", ".join(f"('{s}', {int(w)})" for s, w in sorted(weights.items()))
    return f"""
WITH t AS (
  SELECT {id_col}, {source_col},
         CAST(len(string_split({text_col}, ' ')) AS BIGINT) AS n_tokens
  FROM {table}
), w({source_col}, _w) AS (VALUES {vals}),
tot AS (
  SELECT {source_col}, SUM(n_tokens) AS _tok FROM t GROUP BY {source_col}
),
j AS (
  SELECT tot.{source_col}, w._w, tot._tok
  FROM tot JOIN w USING ({source_col}) WHERE w._w > 0
),
m AS (
  SELECT _w AS w_m, _tok AS tok_m FROM j
  ORDER BY (CAST(_tok AS HUGEINT) * {_ARGMIN_SCALE} // _w) DESC,
           {source_col} DESC LIMIT 1
),
r AS (
  SELECT j.{source_col},
         (CAST(j._w AS HUGEINT) * m.tok_m) // (CAST(m.w_m AS HUGEINT) * j._tok)
           AS _base,
         (CAST(j._w AS HUGEINT) * m.tok_m) % (CAST(m.w_m AS HUGEINT) * j._tok)
           AS _rem,
         CAST(m.w_m AS HUGEINT) * j._tok AS _den
  FROM j, m
),
c AS (
  SELECT t.{source_col}, t.{id_col}, t.n_tokens,
         CAST(r._base + CASE WHEN
             CAST(CAST(('0x' || substr(md5('{salt}:' ||
                 CAST(t.{id_col} AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT)
               * r._den
             < CAST({_U32} AS HUGEINT) * r._rem
           THEN 1 ELSE 0 END AS INT) AS copies
  FROM t JOIN r ON t.{source_col} = r.{source_col}
)
SELECT {source_col}, {id_col}, n_tokens, CAST(g.copy AS INT) AS copy
FROM c, LATERAL (
  SELECT UNNEST(range(0, c.copies)) AS copy
) g
"""


# --------------------------------------------------------------------------
# span-level (sub-document) dedup


def span_dedup(
    docs: DataFrame,
    *,
    span: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style duplicate-SPAN removal: cut every document into
    consecutive non-overlapping ``span``-token windows (the last may be
    shorter), and keep a span only in the document that owns it — the
    minimum ``id_col`` among all documents containing that exact span
    text (repeats inside the owner itself are kept; C4 §2.2 "remove all
    but one"). Surviving spans are re-joined in original order.

    Returns (id_col, n_spans, n_dropped, text_clean) — one row per
    input document; ``text_clean`` is '' when every span was dropped.

    Scale: explode is narrow; the owner table is built by a
    map-side-combinable min-groupBy on span text and joined back with a
    shuffle join (NOT a window over partitionBy(span): AQE can split a
    skewed join partition when a boilerplate "stop span" occurs in
    millions of documents, but cannot split a window partition). The
    final per-document reassembly shuffles doc-keyed rows once.
    """
    toks = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(span)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * span + 1, span)),
    )
    # split the span explode across tasks: a single-file local scan runs
    # the whole tokenize+slice transform in one task otherwise (round-13
    # job census); a multi-split 100 TB layout makes this a no-op
    ex = ensure_min_parallelism(docs).select(
        id_col, F.posexplode(spans).alias("pos", "s")
    )
    owner = ex.groupBy("s").agg(F.min(id_col).alias("_owner"))
    kept = ex.join(owner, "s").withColumn("_keep", F.col(id_col) == F.col("_owner"))
    surviving = F.when(F.col("_keep"), F.struct("pos", "s"))  # null → dropped
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((~F.col("_keep")).cast("bigint")).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(surviving)), lambda x: x["s"]
            ),
            " ",
        ).alias("text_clean"),
    )


def c07_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-dedup the documents table at span=2 (the synthetic corpus's
    ~25-word vocabulary makes 2-token spans collide heavily across
    documents, so ownership actually bites)."""
    d = load_table(spark, sf_dir, "documents")
    return span_dedup(d, span=2)


C07_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), ex AS (
  SELECT doc_id, CAST(g.pos AS INT) AS pos,
         array_to_string(toks[(g.pos * 2 + 1):(g.pos * 2 + 2)], ' ') AS s
  FROM t, LATERAL (
    SELECT UNNEST(range(0, CAST(ceil(len(toks) / 2.0) AS BIGINT))) AS pos
  ) g
), own AS (
  SELECT s, min(doc_id) AS owner FROM ex GROUP BY s
), k AS (
  SELECT ex.doc_id, ex.pos, ex.s, ex.doc_id = own.owner AS keep
  FROM ex JOIN own USING (s)
)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       coalesce(string_agg(CASE WHEN keep THEN s END, ' ' ORDER BY pos, s), '')
         AS text_clean
FROM k GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# unigram-LM quality scoring (CCNet-style)


def unigram_logprob(
    docs: DataFrame,
    reference: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 6,
    max_vocab: int = 1_000_000,
    on_overflow: str = "error",
) -> DataFrame:
    """Per-document mean token log-probability under an add-one-smoothed
    unigram LM fit on ``reference`` (CCNet scores Common Crawl against a
    Wikipedia-trained KenLM and keeps the low-perplexity tail; the
    unigram form keeps the model a broadcastable (token, count) table).

    Model: with reference token counts ``c(t)``, total ``N`` and
    vocabulary size ``V`` (distinct reference tokens),

        p(t) = (c(t) + 1) / (N + V + 1)     c(t) = 0 for OOV tokens

    (the +1 in the denominator reserves mass for the single merged OOV
    event). Score = mean over the document's tokens of ln p(t), rounded
    to ``round_dp`` — higher (closer to 0) ⇒ more reference-like.
    Returns (id_col, n_tokens, mean_logprob).

    Scale: the unigram table is vocabulary-sized → broadcast; scoring is
    explode → broadcast left join → one groupBy(doc). ln() is the only
    non-rational arithmetic in the plan; the rounding absorbs the
    sub-ulp libm differences between engines. ``max_vocab`` guards the
    vocabulary collect (round-10 ADVICE: a caller passing the whole
    corpus as ``reference`` would OOM the driver, not error): the
    collect is a top-N by count (TakeOrdered — the driver never holds
    more than max_vocab+1 rows), and an overflowing vocabulary either
    raises (``on_overflow="error"``, default — loud) or truncates to
    the top ``max_vocab`` tokens by count (``"truncate"`` — the CCNet
    move; N and V then describe the truncated vocabulary, every
    dropped token scores as OOV).
    """
    if on_overflow not in ("error", "truncate"):
        raise ValueError(
            f"on_overflow must be 'error' or 'truncate', got {on_overflow!r}"
        )
    ref_toks = reference.select(
        F.explode(F.split(F.col(text_col), " ")).alias("t")
    )
    # One reference scan: the unigram table is vocabulary-sized — the
    # same bound that justifies broadcasting it — so collecting it once
    # and re-creating a literal frame costs a broadcast's worth of
    # driver memory and avoids re-tokenizing the reference corpus for
    # the (N, V) constants (the lazy two-branch plan evaluated the
    # explode+groupBy twice).
    vocab_rows = [
        (r["t"], int(r["c"]))
        for r in ref_toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(max_vocab + 1)
        .collect()
    ]
    if len(vocab_rows) > max_vocab:
        if on_overflow == "error":
            raise ValueError(
                f"unigram_logprob: reference vocabulary exceeds max_vocab="
                f"{max_vocab} — the unigram table must stay broadcast-"
                "sized. Pass a smaller reference corpus, raise max_vocab "
                "deliberately, or set on_overflow='truncate' to keep the "
                f"top {max_vocab} tokens by count."
            )
        vocab_rows = vocab_rows[:max_vocab]
    if not vocab_rows:
        raise ValueError("unigram_logprob: reference corpus is empty")
    n_total = sum(c for _t, c in vocab_rows)
    v_size = len(vocab_rows)
    denom = float(n_total + v_size + 1)
    spark = docs.sparkSession
    vocab = spark.createDataFrame(vocab_rows, "t string, c bigint")
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("t")
    )
    lp = F.log((F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)) / F.lit(denom))
    return (
        toks.join(F.broadcast(vocab), "t", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(lp), round_dp).alias("mean_logprob"),
        )
    )


def c08_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document against a unigram LM fit on the src0+src1
    sub-corpus (the 'reference quality' domains)."""
    d = load_table(spark, sf_dir, "documents")
    ref = d.where(F.col("source").isin("src0", "src1"))
    return unigram_logprob(d, ref)


C08_SQL = """
WITH ref AS (
  SELECT UNNEST(string_split(text, ' ')) AS t
  FROM documents WHERE source IN ('src0', 'src1')
), vocab AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM ref GROUP BY t
), consts AS (
  SELECT CAST(SUM(c) + COUNT(*) + 1 AS DOUBLE) AS denom FROM vocab
), toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(avg(ln((coalesce(vocab.c, 0) + 1) / consts.denom)), 6)
         AS mean_logprob
FROM toks LEFT JOIN vocab USING (t), consts
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# deterministic training-order shuffle


def shuffle_for_training(
    docs: DataFrame,
    *,
    n_shards: int,
    seed: str = "epoch0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document a deterministic (shard, pos) training
    order: shard = md5 draw mod ``n_shards``, pos = rank of a second,
    independent md5 draw within the shard. Varying ``seed`` (e.g. per
    epoch) produces an independent permutation of the same corpus.

    This is the "globally shuffle the corpus before training" step.
    The naive form — ORDER BY rand() then zipWithIndex — needs a total
    global sort (single-task at 100 TB) and isn't reproducible across
    reruns or partitioning. Here both draws are pure functions of
    (seed, id), so the layout is exactly reproducible, and the only
    wide operation is ONE hash shuffle on the shard key; each shard
    sorts only its own ~1/n_shards slice (the c05 bucket-decomposition
    argument). Writers can feed the result straight to
    ``partitionBy("shard")`` / ``sortWithinPartitions("pos")``.

    Returns the input columns plus (shard, pos); pos is dense 0-based
    within its shard.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    shard = (_u32_draw(F.col(id_col), f"{seed}:shard") % n_shards).cast("int")
    order = _u32_draw(F.col(id_col), f"{seed}:order")
    w = Window.partitionBy("shard").orderBy("_ord", id_col)
    return (
        docs.withColumn("shard", shard)
        .withColumn("_ord", order)
        .withColumn("pos", F.row_number().over(w) - 1)
        .drop("_ord")
    )


# --------------------------------------------------------------------------
# semantic deduplication (SemDeDup)


def semantic_neardup_pairs(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    threshold: float = 0.5,
    blocks: int = 4,
) -> DataFrame:
    """Cosine near-duplicate pairs RESTRICTED to rows sharing
    ``cell_col`` — the d05 block-pair cogrouped GEMM with the cell in
    the group key, so each task multiplies one (cell, left-block,
    right-block) brick and cross-cell pairs are never materialized.
    Returns (id_a, id_b, cosine), id_a < id_b, cosine floored to 1e-4.

    This is the quadratic-cost knob of SemDeDup: total work drops from
    N² to Σ_c N_c² — with balanced cells, a 1/n_cells fraction — which
    is the published recipe's entire scaling argument (they run k=50k
    clusters over LAION). Each side shuffles ``blocks``-fold
    replicated; size blocks so a brick's rows fit one task's memory.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    base = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.col(cell_col).alias("cell"),
    )
    bl = F.sequence(F.lit(0), F.lit(blocks - 1))
    left = base.select(
        "vid",
        "vec",
        "cell",
        F.pmod(F.col("vid"), F.lit(blocks)).cast("int").alias("bi"),
        F.explode(bl).alias("bj"),
    )
    right = base.select(
        F.col("vid").alias("r_vid"),
        F.col("vec").alias("r_vec"),
        F.col("cell").alias("cell"),
        F.explode(bl).alias("bi"),
        F.pmod(F.col("vid"), F.lit(blocks)).cast("int").alias("bj"),
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
        a_ids = lpdf["vid"].to_numpy(dtype=np.int64)
        a = np.asarray(lpdf["vec"].tolist(), dtype=np.float64)
        b_ids = rpdf["r_vid"].to_numpy(dtype=np.int64)
        b = np.asarray(rpdf["r_vec"].tolist(), dtype=np.float64)
        an = np.sqrt((a * a).sum(1))
        bn = np.sqrt((b * b).sum(1))
        sims = (a @ b.T) / (an[:, None] * bn[None, :])
        sims = np.floor(sims * 10000.0) / 10000.0
        ii, jj = np.where(sims >= threshold)
        keep = a_ids[ii] < b_ids[jj]
        return pd.DataFrame(
            {
                "id_a": a_ids[ii][keep],
                "id_b": b_ids[jj][keep],
                "cosine": sims[ii, jj][keep],
            }
        )

    return (
        left.groupBy("cell", "bi", "bj")
        .cogroup(right.groupBy("cell", "bi", "bj"))
        .applyInPandas(gemm, out_schema)
    )


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = 8,
    threshold: float = 0.3,
    blocks: int = 4,
    checkpoint: str = "local",
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster the embedding
    space with the engine's own K-Means, find cosine near-duplicates
    WITHIN each cluster only, resolve pairs to duplicate clusters
    (connected components) and keep one canonical vector per cluster.
    Returns (vec_id, cluster_id, is_canonical) — the keep-list shape of
    corpus.dup_clusters, fed by semantic instead of lexical pairs.

    Compared with d05's exact all-pairs, the cell restriction is the
    whole point: candidate work is Σ_c N_c² (the published recipe
    accepts missing cross-cluster duplicates — borderline vectors land
    near a centroid boundary, and raising n_probe-style recall belongs
    to the ANN layer, not the dedup pass).
    """
    from .corpus import dup_clusters
    from .similarity import _train_ivf

    cells, _centroids = _train_ivf(spark, sf_dir, n_cells)
    vecs = cells.select("vec_id", "features", F.col("cluster").alias("cell"))
    pairs = semantic_neardup_pairs(
        vecs,
        id_col="vec_id",
        vec_col="features",
        cell_col="cell",
        threshold=threshold,
        blocks=blocks,
    )
    out = dup_clusters(
        cells.select("vec_id"),
        pairs,
        id_col="vec_id",
        src="id_a",
        dst="id_b",
        checkpoint=checkpoint,
    )
    # dup_clusters emits the corpus keep-list shape (doc_id, ...);
    # restore the embedding id name, preserving the checkpoint handle
    # release_components expects.
    renamed = out.withColumnRenamed("doc_id", "vec_id")
    renamed._spark_graft_ckpts = getattr(out, "_spark_graft_ckpts", ())
    return renamed


def c09_domain_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsample the documents table to a mixture where every third
    source carries 4x weight — exercises multi-copy emission, the
    kept-once argmax source, and fractional-copy draws at once."""
    d = load_table(spark, sf_dir, "documents")
    return domain_mixture_upsample(d, _C09_WEIGHTS)


_C09_WEIGHTS = {f"src{i}": (4 if i % 3 == 0 else 1) for i in range(20)}

C09_SQL = domain_mixture_upsample_sql("documents", _C09_WEIGHTS)


# --------------------------------------------------------------------------
# c11 — deterministic train/val/test split assignment. Fractions are
# EXACT integer parts-per-million; cut points are exact integers in the
# u32 draw space (floor(2^32 * cum_ppm / 10^6), computed in unbounded
# Python int — no float rates anywhere, the c06 discipline). The
# assignment is therefore a pure function of (key, salt, fractions):
# stable under repartition, rerun, engine, and incremental arrival —
# a document added next month lands in the same split it would have
# landed in today, which is what makes eval sets trustworthy.
# Scale: one narrow projection, zero shuffle until the caller's use.


def split_assign(
    df: DataFrame,
    key_col: str = "doc_id",
    fractions_ppm: dict[str, int] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Add a ``split`` column. ``fractions_ppm`` maps split name ->
    exact parts-per-million; must sum to exactly 1_000_000."""
    fr = fractions_ppm or {"train": 980_000, "val": 10_000, "test": 10_000}
    if sum(fr.values()) != 1_000_000:
        raise ValueError(f"fractions_ppm must sum to 1_000_000, got {sum(fr.values())}")
    u = _u32_draw(F.col(key_col), salt)
    names = list(fr)
    cum = 0
    expr = F.lit(names[-1])  # the last band needs no upper test
    conds = []
    for name in names[:-1]:
        cum += fr[name]
        conds.append((name, (1 << 32) * cum // 1_000_000))
    for name, thr in reversed(conds):
        expr = F.when(u < F.lit(thr), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def split_assign_sql(
    table: str,
    key_col: str = "doc_id",
    fractions_ppm: dict[str, int] | None = None,
    salt: str = "split-v1",
) -> str:
    """DuckDB twin of split_assign's CASE chain (same exact cut points)."""
    fr = fractions_ppm or {"train": 980_000, "val": 10_000, "test": 10_000}
    u = (
        f"CAST(('0x' || substr(md5('{salt}:' || CAST({key_col} AS VARCHAR)), 1, 8)) "
        "AS BIGINT)"
    )
    names = list(fr)
    cum = 0
    whens = []
    for name in names[:-1]:
        cum += fr[name]
        thr = (1 << 32) * cum // 1_000_000
        whens.append(f"WHEN {u} < {thr} THEN '{name}'")
    # a single-split config has zero WHEN branches — 'CASE ELSE..END'
    # is invalid SQL, so degrade to the bare literal (what the Spark
    # twin's expr reduces to)
    case = (
        "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"
        if whens
        else f"'{names[-1]}'"
    )
    return f"SELECT *, {case} AS split FROM {table}"


def c11_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry shape: exact per-(source, split) document counts."""
    d = load_table(spark, sf_dir, "documents")
    return (
        split_assign(d)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


C11_SQL = (
    "SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs FROM ("
    + split_assign_sql("documents")
    + ") GROUP BY source, split"
)


# --------------------------------------------------------------------------
# c12 — deterministic per-group top-k sample: the k hash-smallest
# documents of every language ("give me 20 inspection docs per lang,
# the same 20 every run"). The rank filter plans as WindowGroupLimit
# (partial BEFORE the shuffle, like q09): each map task forwards at
# most k rows per group, so shuffle volume is #groups x k x #tasks-ish,
# never the corpus — the scale answer to "sample per whale group".
_C12_K = 20


def per_group_topk_sample(
    df: DataFrame, group_col: str, key_col: str, k: int, salt: str = "topk-v1"
) -> DataFrame:
    w = Window.partitionBy(group_col).orderBy(
        _u32_draw(F.col(key_col), salt).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def c12_per_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return per_group_topk_sample(d, "lang", "doc_id", _C12_K).select(
        "lang", "doc_id", "rk"
    )


C12_SQL = f"""
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substr(md5('topk-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                    doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= {_C12_K}
"""


# --------------------------------------------------------------------------
# c13 — deterministic weighted sampling without replacement
# (Efraimidis–Spirakis A-ES, Inf. Proc. Letters 97(5), 2006): each row
# draws u in (0,1) from the md5 hash family and ranks by key =
# ln(u)/w, taking the k LARGEST keys (equivalent to u^(1/w) — the
# classic reservoir form — but ln keeps the arithmetic in one libm
# call). Selection probability is proportional to weight, and — unlike
# rand()-based sampling — the draw is a pure function of (key, salt):
# stable under repartition, rerun, engine, and incremental arrival.
#
# Cross-engine determinism: u = (u32 + 0.5) / 2^32 is EXACT double
# arithmetic from an exact integer (power-of-two divisor), so ln() on
# both engines sees the bit-identical argument; CPython's math is not
# involved (both Spark's Math.log and DuckDB's std::log resolve the
# same correctly-rounded-to-1ulp contract). Ranks compare rounded keys
# (6 dp, the c08 discipline) with the id as tie-break, so a last-ulp
# libm disagreement can only flip the selected set if two INDEPENDENT
# md5 draws land within 1e-6 of each other AND straddle the k-th rank
# — the j05-class negligible-probability caveat, documented not hidden.
#
# Scale: one narrow projection + one TakeOrderedAndProject — zero
# shuffles, cluster-size-independent (the stratified_sample shape with
# a weight knob). This is how a 100 TB corpus downsamples "prefer
# longer/higher-quality documents" without a global sort.


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    *,
    key_col: str = "doc_id",
    salt: str = "ws-v1",
) -> DataFrame:
    """k-row weighted sample: the rows with the largest round(ln(u)/w, 6)
    (ties by key). ``weight_col`` must be a positive numeric column —
    nonpositive weights raise at plan build via an ANSI-safe guard."""
    u32 = _u32_draw(F.col(key_col), salt)
    u = (u32 + F.lit(0.5)) / F.lit(4294967296.0)
    # assert_true folds into the row pipeline: any nonpositive weight
    # fails the job loudly instead of sampling garbage
    w_ok = F.when(
        F.col(weight_col) > 0, F.col(weight_col)
    ).otherwise(F.raise_error(F.lit("weighted_sample: nonpositive weight")))
    # + 0.0 canonicalizes IEEE -0.0 (a key in (-5e-7, 0) rounds to the
    # zero whose SIGN the engines disagree on: Spark +0.0, DuckDB -0.0)
    key = F.round(F.log(u) / w_ok, 6) + F.lit(0.0)
    return (
        df.select(F.col(key_col), F.col(weight_col), key.alias("es_key"))
        .orderBy(F.desc("es_key"), key_col)
        .limit(k)
    )


_C13_K = 25


def c13_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted document sample: n_chars-proportional draw —
    the 'prefer longer documents' downsampling a token-budget corpus
    build uses."""
    d = load_table(spark, sf_dir, "documents")
    return weighted_sample(d, _C13_K, "n_chars")


C13_SQL = f"""
SELECT doc_id, n_chars,
       round(ln((CAST(('0x' || substr(md5('ws-v1:' || CAST(doc_id AS VARCHAR)),
                       1, 8)) AS BIGINT) + 0.5) / 4294967296.0)
             / n_chars, 6) + 0.0 AS es_key
FROM documents
ORDER BY es_key DESC, doc_id
LIMIT {_C13_K}
"""
