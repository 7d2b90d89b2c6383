"""t13 — BPE subword tokenization as a first-class registry operator.

The engine's token-denominated operators (c04 chunking, c05 budget
sampling, pack_sequences, c06/c09 domain mixture) default to whitespace
tokens for cross-engine oracle parity; real pipelines budget SUBWORD
tokens, whose counts differ materially on web text and change packing
and mixture results. ``functions/bpe.py`` provides the tokenizer
(deterministic distributed training + Arrow-batched application); this
entry pins the whole path end-to-end with a golden-row VALUES oracle.

Oracle discipline: training is a pure function of corpus content (the
k01 golden-row recipe) — capped word table ordered (count DESC, word
ASC), integer merge loop with lexicographic tie-break — so per-language
(n_docs, whitespace tokens, BPE tokens) is a fixed table per corpus.
Branches key on the corpus's total n_chars (sum over documents), which
distinguishes the sf0.001/0.01 corpora (both 500 docs). Values
double-run + verified identical under a vanilla hostile session
(tests/test_driver_session.py) and against an independent sequential
plain-Python BPE reference (tests/test_bpe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bpe import bpe_count_col, train_bpe
from ..sources.readers import load_table

_N_MERGES = 60
_TOP_WORDS = 20_000


def t13_bpe_subword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE (60 merges) on the documents table, tokenize every
    document, and report per-language doc counts plus whitespace-vs-BPE
    token totals — the compression summary a corpus budget depends on."""
    d = load_table(spark, sf_dir, "documents")
    tok = train_bpe(d, n_merges=_N_MERGES, top_words=_TOP_WORDS)
    counted = bpe_count_col(
        d.select("doc_id", "lang", "text"), tok, "text", "n_bpe"
    )
    return (
        counted.withColumn(
            "n_ws", F.size(F.split(F.col("text"), " ")).cast("bigint")
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_ws").cast("bigint").alias("ws_tokens"),
            F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
        )
    )


# Golden rows per corpus (branch key: total document characters —
# distinguishes the 500-doc sf0.001 and sf0.01 corpora). Regenerate by
# running t13 twice per sf (engine + vanilla session; must agree) after
# any change to word_frequencies ordering, the merge loop tie-break,
# _N_MERGES/_TOP_WORDS, or the encoder.
T13_SQL = """
WITH nchars AS (SELECT sum(n_chars) AS c FROM documents)
SELECT CAST(lang AS VARCHAR) AS lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(ws_tokens AS BIGINT) AS ws_tokens,
       CAST(bpe_tokens AS BIGINT) AS bpe_tokens
FROM (
  SELECT * FROM (VALUES
    ('de', 71, 4070, 10061),
    ('en', 193, 10343, 24961),
    ('es', 80, 4516, 10987),
    ('fr', 82, 4926, 11975),
    ('zh', 74, 4084, 9888)
  ) v(lang, n_docs, ws_tokens, bpe_tokens)
  WHERE (SELECT c FROM nchars) = 153156
  UNION ALL
  SELECT * FROM (VALUES
    ('de', 70, 3549, 8586),
    ('en', 218, 11757, 29284),
    ('es', 73, 3958, 9769),
    ('fr', 64, 3758, 9199),
    ('zh', 75, 4143, 10227)
  ) v(lang, n_docs, ws_tokens, bpe_tokens)
  WHERE (SELECT c FROM nchars) = 149174
  UNION ALL
  SELECT * FROM (VALUES
    ('de', 702, 38406, 96495),
    ('en', 2059, 112006, 283279),
    ('es', 744, 41044, 103293),
    ('fr', 742, 40521, 102117),
    ('zh', 753, 38727, 97646)
  ) v(lang, n_docs, ws_tokens, bpe_tokens)
  WHERE (SELECT c FROM nchars) = 1485576
)
"""


# ---------------------------------------------------------------------------
# t14 — unigram-LM (SentencePiece-style) subword tokenization


def t14_unigram_subword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a unigram-LM tokenizer (functions/unigram.py: distributed
    seed extraction + distributed EM with exact fixed-point
    aggregation + probability-ranked pruning) on the documents table,
    Viterbi-tokenize every document, and report per-language doc
    counts plus whitespace-vs-unigram token totals — t13's compression
    summary for the second subword family. Trained per corpus content
    (partitioning-invariant), so the oracle is a golden-row VALUES
    table keyed on total document characters, double-run under a
    hostile vanilla session before freezing (the t13/k01 protocol)."""
    from ..functions.unigram import train_unigram

    d = load_table(spark, sf_dir, "documents")
    tok = train_unigram(
        d, vocab_size=120, seed_size=2000, max_piece_len=6
    )
    counted = tok.count_col(
        d.select("doc_id", "lang", "text"), "text", "n_uni"
    )
    return (
        counted.withColumn(
            "n_ws", F.size(F.split(F.col("text"), " ")).cast("bigint")
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_ws").cast("bigint").alias("ws_tokens"),
            F.sum("n_uni").cast("bigint").alias("uni_tokens"),
        )
    )


# Golden rows per corpus (branch key: total document characters — the
# t13 discipline). Regenerate with scripts/gen_t14_golden.py (engine +
# vanilla hostile session at 3 sfs; must agree pair-wise) after any
# change to the seed/EM/prune spec, the Viterbi tie-break, or the t14
# training knobs.
T14_SQL = """
WITH nchars AS (SELECT sum(n_chars) AS c FROM documents)
SELECT CAST(lang AS VARCHAR) AS lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(ws_tokens AS BIGINT) AS ws_tokens,
       CAST(uni_tokens AS BIGINT) AS uni_tokens
FROM (
  SELECT * FROM (VALUES
    ('de', 71, 4070, 4846),
    ('en', 193, 10343, 12422),
    ('es', 80, 4516, 5463),
    ('fr', 82, 4926, 5925),
    ('zh', 74, 4084, 4893)
  ) v(lang, n_docs, ws_tokens, uni_tokens)
  WHERE (SELECT c FROM nchars) = 153156
  UNION ALL
  SELECT * FROM (VALUES
    ('de', 70, 3549, 4286),
    ('en', 218, 11757, 14101),
    ('es', 73, 3958, 4751),
    ('fr', 64, 3758, 4516),
    ('zh', 75, 4143, 4998)
  ) v(lang, n_docs, ws_tokens, uni_tokens)
  WHERE (SELECT c FROM nchars) = 149174
  UNION ALL
  SELECT * FROM (VALUES
    ('de', 702, 38406, 46201),
    ('en', 2059, 112006, 134648),
    ('es', 744, 41044, 49152),
    ('fr', 742, 40521, 48702),
    ('zh', 753, 38727, 46603)
  ) v(lang, n_docs, ws_tokens, uni_tokens)
  WHERE (SELECT c FROM nchars) = 1485576
)
"""


# ---------------------------------------------------------------------------
# t15 — unigram-LM with likelihood-loss pruning (Kudo §3.2): the same
# training surface as t14 but prune_by="loss", so the driver's oracle
# harness exercises BOTH prune paths (round-12 verdict: the loss prune
# had unit parity only). t14's golden rows stay frozen; t15's carry a
# vocab_units fingerprint column because the per-language token totals
# alone do not discriminate the paths on the synthetic corpora (see
# the function docstring).


def t15_unigram_loss_prune_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """t14's per-language compression summary with the likelihood-loss
    prune ranking (drop the pieces whose removal costs the corpus
    log-likelihood least — functions/unigram.py:_prune_loss), PLUS a
    ``vocab_units`` fingerprint: the sum of the trained vocabulary's
    fixed-point expected counts over multi-char pieces. On the
    synthetic corpora both prune paths converge to the SAME surviving
    piece set (the 31-word generator vocabulary leaves EM one
    attractor), so per-language token totals alone cannot tell them
    apart — the fingerprint can: the EM counts the loss prune leaves
    behind differ from the count prune's (…592 vs …598 at sf0.001),
    so mis-routing prune_by flips the column and the oracle catches
    it."""
    from ..functions.unigram import train_unigram

    d = load_table(spark, sf_dir, "documents")
    tok = train_unigram(
        d, vocab_size=120, seed_size=2000, max_piece_len=6,
        prune_by="loss",
    )
    vocab_units = sum(c for p, c in tok.pieces_counts if len(p) > 1)
    counted = tok.count_col(
        d.select("doc_id", "lang", "text"), "text", "n_uni"
    )
    return (
        counted.withColumn(
            "n_ws", F.size(F.split(F.col("text"), " ")).cast("bigint")
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_ws").cast("bigint").alias("ws_tokens"),
            F.sum("n_uni").cast("bigint").alias("uni_tokens"),
        )
        .withColumn("vocab_units", F.lit(vocab_units).cast("bigint"))
    )


# Golden rows per corpus (branch key: total document characters — the
# t13/t14 discipline). Regenerate with
# ``python scripts/gen_t14_golden.py t15`` (engine + vanilla hostile
# session at 3 sfs; must agree pair-wise) after any change to the
# seed/EM spec, _prune_loss ranking, the Viterbi tie-break, or the
# training knobs.
T15_SQL = """
WITH nchars AS (SELECT sum(n_chars) AS c FROM documents)
SELECT CAST(lang AS VARCHAR) AS lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(ws_tokens AS BIGINT) AS ws_tokens,
       CAST(uni_tokens AS BIGINT) AS uni_tokens,
       CAST(vocab_units AS BIGINT) AS vocab_units
FROM (
  SELECT * FROM (VALUES
    ('de', 71, 4070, 4846, 30227290592),
    ('en', 193, 10343, 12422, 30227290592),
    ('es', 80, 4516, 5463, 30227290592),
    ('fr', 82, 4926, 5925, 30227290592),
    ('zh', 74, 4084, 4893, 30227290592)
  ) v(lang, n_docs, ws_tokens, uni_tokens, vocab_units)
  WHERE (SELECT c FROM nchars) = 153156
  UNION ALL
  SELECT * FROM (VALUES
    ('de', 70, 3549, 4286, 29462929851),
    ('en', 218, 11757, 14101, 29462929851),
    ('es', 73, 3958, 4751, 29462929851),
    ('fr', 64, 3758, 4516, 29462929851),
    ('zh', 75, 4143, 4998, 29462929851)
  ) v(lang, n_docs, ws_tokens, uni_tokens, vocab_units)
  WHERE (SELECT c FROM nchars) = 149174
  UNION ALL
  SELECT * FROM (VALUES
    ('de', 702, 38406, 46201, 293298415818),
    ('en', 2059, 112006, 134648, 293298415818),
    ('es', 744, 41044, 49152, 293298415818),
    ('fr', 742, 40521, 48702, 293298415818),
    ('zh', 753, 38727, 46603, 293298415818)
  ) v(lang, n_docs, ws_tokens, uni_tokens, vocab_units)
  WHERE (SELECT c FROM nchars) = 1485576
)
"""
