"""Corpus-cleaning operators (operators/cleaning.py): library-level
semantics on constructed inputs, plan shape (broadcast decontamination
join, shuffle-free scrubbing). Their registry position is pinned with
the full order in tests/test_entry_contract.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from kmeanwithmapreduce_spark.operators.cleaning import (
    decontaminate,
    pii_scrub,
    repetition_signals,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# --------------------------------------------------------------------------
# decontaminate


def test_decontaminate_exact_copy_and_disjoint(spark):
    evald = _docs(spark, [(100, "one two three four five six")])
    train = _docs(
        spark,
        [
            (1, "one two three four five six"),  # verbatim eval copy
            (2, "aa bb cc dd ee ff gg"),  # disjoint vocabulary
            # shares a prefix: 4 five-grams total, exactly 1 of them
            # ("one two three four five") appears in the eval doc
            (3, "one two three four five xx yy zz"),
        ],
    )
    got = {
        r["doc_id"]: r
        for r in decontaminate(train, evald, n=5).collect()
    }
    assert got[1]["overlap"] == 1.0
    assert got[2]["overlap"] == 0.0
    assert got[3]["n_sh"] == 4 and got[3]["n_hit"] == 1
    assert got[3]["overlap"] == 0.25


def test_decontaminate_short_docs_excluded(spark):
    evald = _docs(spark, [(100, "one two three four five")])
    train = _docs(spark, [(1, "one two three"), (2, "one two three four five")])
    ids = [r["doc_id"] for r in decontaminate(train, evald, n=5).collect()]
    assert ids == [2]  # 3-token doc carries no 5-gram evidence


def test_decontaminate_counts_distinct_shingles(spark):
    # repeated shingle in one doc must count once (array_distinct)
    evald = _docs(spark, [(100, "a b c d e")])
    train = _docs(spark, [(1, "a b c d e a b c d e a b c d e")])
    row = decontaminate(train, evald, n=5).collect()[0]
    # distinct 5-grams of the tripled text: the 11 window positions
    # collapse to 5 distinct shingles ("a b c d e", "b c d e a", ...)
    assert row["n_sh"] == 5
    assert row["n_hit"] == 1  # only "a b c d e" appears in the eval doc


def test_decontaminate_is_broadcast_join(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.cleaning import c01_decontamination

    plan = c01_decontamination(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


# --------------------------------------------------------------------------
# repetition_signals


def test_repetition_signals_exact_fractions(spark):
    d = _docs(
        spark,
        [
            (1, "a b a b a b"),  # 2-grams: ab ba ab ba ab -> top 3/5, dup 5/5
            (2, "p q r s t"),  # all 2-grams unique -> top 1/4, dup 0
        ],
    )
    got = {r["doc_id"]: r for r in repetition_signals(d, n=2).collect()}
    assert got[1]["top_frac"] == 3 / 5 and got[1]["dup_frac"] == 1.0
    assert got[2]["top_frac"] == 1 / 4 and got[2]["dup_frac"] == 0.0


def test_repetition_signals_ngram_knob(spark):
    # same doc, n=3: "a b a" "b a b" "a b a" "b a b" -> top 2/4, dup 1.0
    d = _docs(spark, [(1, "a b a b a b")])
    row = repetition_signals(d, n=3).collect()[0]
    assert row["top_frac"] == 0.5 and row["dup_frac"] == 1.0


# --------------------------------------------------------------------------
# pii_scrub


def test_pii_scrub_redacts_and_counts(spark):
    d = _docs(
        spark,
        [
            (1, "mail me at jo.na+x@corp.example.org or 10.0.42.7 tel 555-0199"),
            (2, "nothing sensitive here"),
            (3, "two ips 192.168.1.1 and 172.16.254.3"),
        ],
    )
    got = {r["doc_id"]: r for r in pii_scrub(d).collect()}
    assert got[1]["text"] == "mail me at <EMAIL> or <IP> tel <PHONE>"
    assert (got[1]["email_hits"], got[1]["ip_hits"], got[1]["phone_hits"]) == (1, 1, 1)
    assert got[2]["text"] == "nothing sensitive here"
    assert (got[2]["email_hits"], got[2]["ip_hits"], got[2]["phone_hits"]) == (0, 0, 0)
    assert got[3]["text"] == "two ips <IP> and <IP>"
    assert got[3]["ip_hits"] == 2


def test_pii_scrub_is_narrow(spark):
    # per-row regex work must not introduce a shuffle
    d = _docs(spark, [(1, "a@b.co")])
    plan = pii_scrub(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_pii_scrub_streaming_equals_batch(spark, sf_dir):
    """pii_scrub is stateless and narrow, so the SAME expression runs
    unchanged under Structured Streaming (append mode, no watermark, no
    state store) — the form a live ingest pipeline would use. Streaming
    output over the bounded documents corpus must equal the batch scrub
    row-for-row."""
    from kmeanwithmapreduce_spark.streaming.windows import run_stream_to_memory

    salt = F.concat(F.col("text"), F.lit(" mail a.b@x.io ip 10.1.2.3"))

    def scrubbed(df):
        out = pii_scrub(df.withColumn("text", salt))
        return out.select("doc_id", "text", "email_hits", "ip_hits")

    schema = spark.read.option("pathGlobFilter", "documents.parquet").parquet(
        sf_dir
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    got = run_stream_to_memory(
        scrubbed(stream), "t_pii_stream", output_mode="append"
    )
    want = scrubbed(
        spark.read.option("pathGlobFilter", "documents.parquet").parquet(sf_dir)
    )
    key = lambda df: sorted(  # noqa: E731
        (r.doc_id, r.text, r.email_hits, r.ip_hits) for r in df.collect()
    )
    assert key(got) == key(want)
    assert all(r[2] >= 1 and r[3] >= 1 for r in key(got))  # salt was scrubbed


# --------------------------------------------------------------------------
# chunk_documents


def test_chunk_documents_exact_windows(spark):
    from kmeanwithmapreduce_spark.operators.cleaning import chunk_documents

    # 10 tokens, seq_len 4, stride 3 -> window starts 1,4,7,10
    # (floor(9/3)+1 = 4 chunks, last one short)
    d = _docs(spark, [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")])
    got = sorted(
        (r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in chunk_documents(d, seq_len=4, stride=3).collect()
    )
    assert got == [
        (0, "t1 t2 t3 t4", 4),
        (1, "t4 t5 t6 t7", 4),
        (2, "t7 t8 t9 t10", 4),
        (3, "t10", 1),
    ]


def test_chunk_documents_disjoint_and_short(spark):
    from kmeanwithmapreduce_spark.operators.cleaning import chunk_documents

    d = _docs(spark, [(1, "a b c d e"), (2, "only")])
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
        for r in chunk_documents(d, seq_len=2, stride=2).collect()
    }
    # doc 1: [a b] [c d] [e]; doc 2: [only]
    assert got == {
        (1, 0): ("a b", 2),
        (1, 1): ("c d", 2),
        (1, 2): ("e", 1),
        (2, 0): ("only", 1),
    }
    # every token lands in exactly one chunk when stride == seq_len
    assert sum(n for _t, n in got.values()) == 6


def test_chunk_documents_is_narrow(spark):
    from kmeanwithmapreduce_spark.operators.cleaning import chunk_documents

    d = _docs(spark, [(1, "a b c")])
    plan = (
        chunk_documents(d, seq_len=2, stride=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


# --------------------------------------------------------------------------
# pack_sequences


def test_pack_sequences_exact_greedy(spark):
    from kmeanwithmapreduce_spark.operators.cleaning import pack_sequences

    chunks = spark.createDataFrame(
        [(1, 0, 30), (1, 1, 30), (1, 2, 50), (2, 0, 90), (2, 1, 120)],
        "doc_id bigint, chunk_idx bigint, n_tokens bigint",
    )
    # n_buckets=1: one deterministic greedy stream in (doc_id,
    # chunk_idx) order with budget 100:
    #   30+30=60 fits -> pack 0; +50 would be 110 -> pack 1 (50);
    #   +90 would be 140 -> pack 2 (90); +120 would be 210 -> pack 3
    got = {
        (r.doc_id, r.chunk_idx): (r.pack_id, r.pack_pos)
        for r in pack_sequences(chunks, budget=100, n_buckets=1).collect()
    }
    assert got == {
        (1, 0): ("0-0", 0),
        (1, 1): ("0-0", 1),
        (1, 2): ("0-1", 0),
        (2, 0): ("0-2", 0),
        (2, 1): ("0-3", 0),
    }


def test_pack_sequences_invariants_on_real_chunks(spark, sf_dir):
    from kmeanwithmapreduce_spark.operators.cleaning import (
        chunk_documents,
        pack_sequences,
    )
    from kmeanwithmapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, seq_len=64, stride=48)
    packed = pack_sequences(chunks, budget=256, n_buckets=8)
    rows = packed.collect()
    assert len(rows) == chunks.count()  # every chunk packed exactly once
    by_pack: dict = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pid, members in by_pack.items():
        total = sum(r.n_tokens for r in members)
        if len(members) > 1:
            assert total <= 256, (pid, total)
        # contiguous 0-based positions
        assert sorted(r.pack_pos for r in members) == list(range(len(members)))
    # packing is a pure function of the data, not the partition layout
    repart = pack_sequences(
        chunks.repartition(13), budget=256, n_buckets=8
    ).collect()
    key = lambda rs: sorted(  # noqa: E731
        (r.doc_id, r.chunk_idx, r.pack_id, r.pack_pos) for r in rs
    )
    assert key(rows) == key(repart)


def test_pack_sequences_oversize_chunk_gets_own_pack(spark):
    from kmeanwithmapreduce_spark.operators.cleaning import pack_sequences

    chunks = spark.createDataFrame(
        [(1, 0, 500), (1, 1, 10)],
        "doc_id bigint, chunk_idx bigint, n_tokens bigint",
    )
    got = {
        r.chunk_idx: r.pack_id
        for r in pack_sequences(chunks, budget=100, n_buckets=1).collect()
    }
    assert got[0] != got[1]  # the 500-token chunk overflows alone


# --------------------------------------------------------------------------
# token_budget_sample


def test_token_budget_sample_equals_naive_global_window(spark, sf_dir):
    """The bucket-decomposed prefix sum must reproduce the naive
    single-ordering running-sum selection row-for-row (the naive form is
    the SPEC; it is only unusable at scale because Window.orderBy with
    no partition key executes as one partition)."""
    from pyspark.sql import Window

    from kmeanwithmapreduce_spark.operators.cleaning import token_budget_sample
    from kmeanwithmapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    budget = 20_000
    got = sorted(
        (r.doc_id, r.n_tokens, r.cum_tokens)
        for r in token_budget_sample(docs, budget=budget).collect()
    )
    t = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = t.withColumn("cum_tokens", F.sum("n_tokens").over(w)).where(
        F.col("cum_tokens") <= budget
    )
    want = sorted(
        (r.doc_id, r.n_tokens, r.cum_tokens) for r in naive.collect()
    )
    assert got == want
    assert 0 < len(got) < docs.count()  # the budget bites mid-corpus


def test_token_budget_sample_edges(spark):
    from kmeanwithmapreduce_spark.operators.cleaning import token_budget_sample

    d = _docs(spark, [(1, "a b c"), (2, "d e"), (3, "f")])
    # total 6 tokens; huge budget keeps everything with exact cums
    all_rows = token_budget_sample(d, budget=1_000)
    assert sorted(r.n_tokens for r in all_rows.collect()) == [1, 2, 3]
    assert max(r.cum_tokens for r in all_rows.collect()) == 6
    # zero budget keeps nothing
    assert token_budget_sample(d, budget=0).count() == 0


def test_token_budget_sample_no_global_single_partition_sort(spark, sf_dir):
    """Scale pin: the plan must contain NO partition-less global Sort —
    the window sorts within h-prefix buckets only."""
    from kmeanwithmapreduce_spark.operators.cleaning import token_budget_sample
    from kmeanwithmapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        token_budget_sample(docs, budget=20_000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan, plan
