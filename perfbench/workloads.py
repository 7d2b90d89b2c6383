"""The benchmark workloads: set-up, one op, and the op's output check.

Each op draws a fresh seed (``op_seed``), as real fits never reuse
centroids; a repeated seed would let the codegen cache skip compiles.
``op`` is the timed part; ``check`` runs after it, untimed, and raises
``CheckFailed`` when the op's output is wrong.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def noop_action(df: DataFrame) -> None:
    """Run every column of ``df`` without writing anything (a count()
    would let Catalyst prune the columns away)."""
    df.write.format("noop").mode("overwrite").save()


def dir_parquet_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet")
        )
    return total


class Lloyd:
    """Lloyd's loop on a fixed input: exactly ``iters`` iterations of
    assign + per-cluster mean, from a random init drawn with the op seed."""

    layers = ("kmeans", "vector")
    dim = 4  # the lineitem projection

    def __init__(self, name: str, k: int, iters: int, rows: int):
        self.name, self.k, self.iters, self.rows = name, k, iters, rows
        self.feats: DataFrame | None = None

    def setup(self, spark: SparkSession, work_dir: str, seed: int) -> None:
        path = gen.write_lineitem(spark, work_dir, self.rows, seed)
        feats = gen.lineitem_features(spark, path)
        check(feats.count() == self.rows, f"{self.name}: input row count")
        self.feats = feats

    def op(self, spark: SparkSession, op_seed: int, op_dir: str, tr) -> dict:
        from kmeanwithmapreduce_spark.kmeans import core

        # thresh < 0 never counts as converged: every op runs exactly
        # ``iters`` iterations, so op time does not depend on the data
        params = core.KMeansParams(
            k=self.k, thresh=-1.0, max_loop=self.iters, seed=op_seed
        )
        with tr.span("kmeans.lloyd") as s:
            res = core.lloyd(self.feats, params)
            s.info = res.n_iter
        return {"n_iter": res.n_iter, "result": res}

    def check(self, spark: SparkSession, info: dict) -> None:
        res = info.pop("result")
        check(res.n_iter == self.iters, f"{self.name}: n_iter {res.n_iter}")
        check(len(res.centroids) == self.k, f"{self.name}: centroid count")
        check(
            all(len(c) == self.dim and all(math.isfinite(v) for v in c) for c in res.centroids),
            f"{self.name}: non-finite centroid",
        )
        check(sum(res.cluster_sizes.values()) == self.rows, f"{self.name}: sizes")


class TableMerge:
    """A bucketed table made in set-up; each op upserts ``upsert_frac`` of
    the keys with new text, then reads the table as it is now and as it
    was before the upsert (``as_of``), each through a noop action."""

    layers = ("table",)

    def __init__(self, docs: int, buckets: int, upsert_frac: float):
        self.name = "table-merge"
        self.docs, self.buckets, self.upsert_frac = docs, buckets, upsert_frac
        self.create_s: list[float] = []

    def setup(self, spark: SparkSession, work_dir: str, seed: int) -> None:
        from kmeanwithmapreduce_spark.sources import table

        rows = gen.document_rows(self.docs, seed)
        docs = spark.read.parquet(gen.write_documents(spark, work_dir, rows))
        self.path = os.path.join(work_dir, "table")
        t = time.perf_counter()
        self.epoch = table.create_bucketed_table(docs, self.path, "doc_id", self.buckets)
        self.create_s.append(time.perf_counter() - t)
        self.text = {r[0]: r[1] for r in rows}  # what the table holds now
        self.rows = rows
        check(table.read_bucketed_table(spark, self.path).count() == self.docs,
              "table-merge: created row count")

    def op(self, spark: SparkSession, op_seed: int, op_dir: str, tr) -> dict:
        from kmeanwithmapreduce_spark.sources import table

        rng = np.random.default_rng(op_seed)
        n_keys = max(1, int(self.docs * self.upsert_frac))
        keys = sorted(int(x) for x in rng.choice(self.docs, n_keys, replace=False))
        rows = []
        for key in keys:
            _id, _text, lang, src, _n = self.rows[key]
            new = f"upsert {op_seed} {self.text[key]}"
            rows.append((key, new, lang, src, len(new)))
        batch = spark.createDataFrame(rows, gen.DOC_SCHEMA)
        before, prev = dir_parquet_bytes(self.path), self.epoch
        with tr.span("table.upsert") as up:
            self.epoch = table.upsert_table(batch, self.path)
        added = dir_parquet_bytes(self.path) - before
        user_bytes = sum(8 + len(r[1].encode()) + len(r[2]) + len(r[3]) + 8 for r in rows)
        with tr.span("table.read_current") as cur:
            noop_action(table.read_bucketed_table(spark, self.path))
        with tr.span("table.read_asof") as old:
            noop_action(table.read_bucketed_table(spark, self.path, as_of=prev))
        return {
            "upsert_s": up.seconds, "read_s": [cur.seconds, old.seconds],
            "bytes_ratio": added / user_bytes, "epochs": (prev, self.epoch),
            "new_text": {r[0]: r[1] for r in rows},
        }

    def check(self, spark: SparkSession, info: dict) -> None:
        from kmeanwithmapreduce_spark.sources import table

        prev, epoch = info["epochs"]
        new_text = info.pop("new_text")
        check(epoch == prev + 1, "table-merge: upsert made no new epoch")
        keys = list(new_text)
        picked = F.when(F.col("doc_id").isin(keys), F.struct("doc_id", "text"))
        for as_of, want in ((epoch, new_text), (prev, {k: self.text[k] for k in keys})):
            n, got = table.read_bucketed_table(spark, self.path, as_of=as_of).agg(
                F.count("*"), F.collect_list(picked)
            ).first()
            check(n == self.docs, f"table-merge: row count at epoch {as_of}")
            check(dict(got) == want, f"table-merge: wrong text at epoch {as_of}")
        self.text.update(new_text)


class CorpusPrep:
    """``prepare_training_corpus``: MinHash-LSH dedup, connected
    components, quality and language filters, sharded export."""

    layers = ("corpus",)
    lang_rates = {"en": 0.5}

    def __init__(self, docs: int, shards: int):
        self.name = "corpus-prep"
        self.docs, self.shards = docs, shards

    def setup(self, spark: SparkSession, work_dir: str, seed: int) -> None:
        rows = gen.document_rows(self.docs, seed)
        gen.write_documents(spark, work_dir, rows)
        self.sf_dir = work_dir
        self.expected = gen.expected_funnel(rows, self.lang_rates)
        n = spark.read.parquet(os.path.join(work_dir, "documents.parquet")).count()
        check(n == self.docs, "corpus-prep: input row count")

    def op(self, spark: SparkSession, op_seed: int, op_dir: str, tr) -> dict:
        from kmeanwithmapreduce_spark.operators.corpus import prepare_training_corpus

        out = os.path.join(op_dir, "corpus")
        with tr.span("corpus.prepare"):
            stats = prepare_training_corpus(
                spark,
                self.sf_dir,
                out,
                lang_rates=self.lang_rates,
                n_shards=self.shards,
                training_order_seed=f"op{op_seed}",
            )
        return {"funnel": stats, "out": out}

    def check(self, spark: SparkSession, info: dict) -> None:
        stats = info["funnel"]
        check(stats == self.expected, f"corpus-prep: funnel {stats} != {self.expected}")
        shards = spark.read.parquet(info.pop("out"))
        n, ids = shards.select(F.count("*"), F.count_distinct("doc_id")).first()
        check(n == ids == stats["after_sample"], "corpus-prep: shards read back")


def make(name: str):
    return {
        "lloyd-fixedcost": lambda: Lloyd("lloyd-fixedcost", k=8, iters=5, rows=60_000),
        "table-merge": lambda: TableMerge(docs=5_000, buckets=16, upsert_frac=0.02),
    }[name]()


def probe_lloyd() -> Lloyd:
    return Lloyd("probe-lloyd", k=8, iters=3, rows=20_000)


def probes(w) -> list[tuple[str, object]]:
    """Small one-op stand-ins for the layers ``w`` does not exercise, so a
    traced run reports every layer."""
    out = []
    if "kmeans" not in w.layers:
        out.append(("kmeans", probe_lloyd()))
    if "table" not in w.layers:
        out.append(("table", TableMerge(docs=2_000, buckets=16, upsert_frac=0.02)))
    if "corpus" not in w.layers:
        out.append(("corpus", CorpusPrep(docs=1_000, shards=8)))
    return out


class AssignKernel:
    """The assign kernel alone: ``core.assign`` over the cached input of a
    Lloyd workload, run by a noop action."""

    layers = ()

    def __init__(self, lloyd: Lloyd):
        self.lloyd = lloyd

    def op(self, spark: SparkSession, op_seed: int, op_dir: str, tr) -> dict:
        from kmeanwithmapreduce_spark.kmeans import core

        assign = getattr(core.assign, "__wrapped__", core.assign)  # not the traced one
        cached = self.lloyd.feats.cache()
        try:
            rows = cached.count()
            cents = [[float(v) for v in r[0]] for r in cached.limit(self.lloyd.k).collect()]
            with tr.span("vector.assign_exec"):
                noop_action(assign(cached, cents))
        finally:
            cached.unpersist()
        return {"rows": rows}

    def check(self, spark: SparkSession, info: dict) -> None:
        check(info["rows"] == self.lloyd.rows, "assign kernel: cached row count")
