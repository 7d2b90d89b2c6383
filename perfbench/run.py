"""Benchmark entry point: one workload, one process, one result line.

    python3 perfbench/run.py --workload lloyd-fixedcost --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run starts a Spark session at
2 executor threads, sets the workload's inputs up several times (the
median is ``setup_s``), warms the JVM up with ops, then times ops for
``--seconds``. Each op uses a fresh seed derived from ``--seed`` and is
checked; a wrong output counts as failed. The last line of stdout is the
JSON result. ``--trace 1`` reports the per-layer metrics instead (see
README.md). All temporary data lives under ``perfbench/.scratch`` and is
removed at the end; a summary of the run is kept under
``perfbench/results``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
THREADS = 2
# set-ups per run; the first runs in a cold JVM and is left out of setup_s,
# as JVM launch is
SETUPS = 3
# JVM warm-up before the timed window: at least this many ops, and at
# least this many seconds of them (JIT warm-up lasts about ten ops)
WARMUP_OPS = {"lloyd-fixedcost": 3, "table-merge": 3}
WARMUP_S = {"lloyd-fixedcost": 16.0, "table-merge": 6.0}


def op_seed(seed: int, tag) -> int:
    """An op's seed: a hash of the workload seed and the op's tag (its
    index, or a probe's name), so no two ops of a run share one."""
    h = hashlib.sha256(f"perfbench:{seed}:{tag}".encode()).digest()
    return int.from_bytes(h[:4], "big") & 0x7FFFFFFF


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else float("nan")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, run_id: str) -> None:
    """Point every temporary file of Python, Spark and the JVM into
    ``work``; must run before pyspark is imported."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(THREADS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PERFBENCH_RUN"] = run_id  # inherited by every child process


def start_spark(work: str):
    from kmeanwithmapreduce_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            # the status store keeps every job, stage and SQL execution up
            # to these caps, so with the defaults (1000) heap after GC
            # grows with the number of ops a run fits in; small caps fill
            # during warm-up. Each op's stats are read right after it.
            "spark.ui.retainedJobs": "100",
            "spark.ui.retainedStages": "200",
            "spark.sql.ui.retainedExecutions": "50",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def reap_children(run_id: str, timeout: float = 30.0) -> None:
    """Wait for every process this run started (Spark's Python workers
    outlive the JVM by a moment); kill what is left after ``timeout``."""
    marker = f"PERFBENCH_RUN={run_id}".encode()
    me = os.getpid()

    def ours() -> list[int]:
        pids = []
        for p in os.listdir("/proc"):
            if not p.isdigit() or int(p) == me:
                continue
            try:
                with open(f"/proc/{p}/environ", "rb") as f:
                    if marker in f.read().split(b"\0"):
                        pids.append(int(p))
            except OSError:
                pass
        return pids

    deadline = time.monotonic() + timeout
    left = ours()
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = ours()
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


class Bench:
    def __init__(self, args, work: str, run_id: str):
        self.args, self.work, self.run_id = args, work, run_id
        self.ops: list[dict] = []

    # --- one op ----------------------------------------------------------
    def run_op(self, w, phase: str, tr, traced: bool) -> dict:
        i = len(self.ops)
        seed = op_seed(self.args.seed, phase if phase.startswith("probe") else i)
        od = os.path.join(self.work, f"op{i}")
        os.makedirs(od)
        group = f"{self.run_id}:op{i}"
        first_span = len(tr.spans)
        tr.enabled = traced
        tr.set_group(group)
        c0 = self.rt.compiles()
        rec = {"i": i, "phase": phase, "seed": seed, "traced": traced, "ok": False}
        t0 = time.perf_counter()
        info = None
        try:
            info = w.op(self.spark, seed, od, tr)
        except Exception:  # a failed op is counted, the run goes on
            rec["error"] = traceback.format_exc()
        rec["wall_s"] = time.perf_counter() - t0
        c1 = self.rt.compiles()
        tr.set_group(None)
        tr.enabled = False
        if info is not None:
            try:
                w.check(self.spark, info)
                rec["info"], rec["ok"] = info, True
            except Exception:
                rec["error"] = traceback.format_exc()
        rec["compiles"], rec["compile_s"] = c1[0] - c0[0], c1[1] - c0[1]
        rec["groups"] = [group] + [s.group for s in tr.spans[first_span:]]
        rec["spans"] = list(range(first_span, len(tr.spans)))
        rec["persisted_rdds"] = self.rt.persisted_rdds()
        if rec["persisted_rdds"]:
            # a leak is a failure; clear it so later ops are not charged
            rec["ok"] = False
            rec.setdefault("error", f"{rec['persisted_rdds']} persisted RDD(s) leaked")
            for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        shutil.rmtree(od, ignore_errors=True)
        self.read_stats(rec, tr.spans[first_span:], tr)
        self.ops.append(rec)
        return rec

    def read_stats(self, rec: dict, spans: list, tr) -> None:
        """Attach status-store stats to the op and to each of its spans."""
        from sparkstats import busy_seconds, merge

        by_group = self.rt.group_stats(set(rec["groups"]))
        st = merge([by_group[g] for g in rec["groups"] if g in by_group])
        st["driver_s"] = rec["wall_s"] - busy_seconds(st["intervals"])
        rec["stats"] = st
        for s in spans:
            s.stats = merge([by_group[d.group] for d in tr.descendants(s) if d.group in by_group])

    # --- the run -----------------------------------------------------------
    def run(self) -> dict:
        import sparkstats
        import workloads
        from spans import Tracer

        args = self.args
        t0 = time.perf_counter()
        self.spark = start_spark(self.work)
        start_s = time.perf_counter() - t0
        self.rt = sparkstats.Runtime(self.spark)
        stamp = sparkstats.machine_stamp(self.spark, THREADS)
        tr = Tracer(self.spark.sparkContext, self.run_id, False, self.rt)

        w = workloads.make(args.workload)
        setup_s = []
        for i in range(SETUPS):
            d = os.path.join(self.work, f"setup{i}")
            os.makedirs(d)
            t = time.perf_counter()
            w.setup(self.spark, d, args.seed)
            setup_s.append(time.perf_counter() - t)

        traced = bool(args.trace)
        undo = self.install_wrappers(tr) if traced else []
        try:
            t = time.perf_counter()
            k = 0
            while k < WARMUP_OPS[w.name] or time.perf_counter() - t < WARMUP_S[w.name]:
                self.run_op(w, "warmup", tr, traced)
                k += 1
            t = time.perf_counter()
            k = 0
            while k < 3 or time.perf_counter() - t < args.seconds:
                # the traced run alternates traced and untraced ops, so
                # the tracing overhead is measured in the same process
                self.run_op(w, "timed", tr, traced and k % 2 == 0)
                k += 1
            probes = self.run_probes(w, tr) if traced else []
        finally:
            for mod, attr, fn in undo:
                setattr(mod, attr, fn)

        heap_mb = self.rt.heap_after_gc_mb()
        hwm_mb = self.rt.jvm_hwm_mb()
        stamp["loadavg_end"] = os.getloadavg()

        timed = [r for r in self.ops if r["phase"] == "timed"]
        if traced:
            metrics = self.layer_metrics(w, tr, timed, probes, start_s, hwm_mb)
        else:
            metrics = {
                "setup_s": (median(setup_s[1:]), "s"),
                "op_s": (median(r["wall_s"] for r in timed), "s"),
                "exec_mem_peak_mb": (max(r["stats"]["peak_exec_mb"] for r in timed), "MB"),
                "heap_retained_mb": (heap_mb, "MB"),
            }
        failed = sum(not r["ok"] for r in self.ops)
        self.save(stamp, setup_s, start_s, tr, metrics, heap_mb, hwm_mb)
        return {
            "correct": failed == 0,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # --- tracing -----------------------------------------------------------
    def install_wrappers(self, tr) -> list:
        """Spans around the public calls each layer makes into the next."""
        from kmeanwithmapreduce_spark.kmeans import core
        from kmeanwithmapreduce_spark.operators import corpus, dedup

        undo: list = []
        tr.wrap(core, "init_random_centroids", "kmeans.init", undo)
        tr.wrap(core, "assign", "vector.assign", undo)
        tr.wrap(dedup, "d03_minhash_lsh_pairs", "dedup.lsh_pairs", undo)
        tr.wrap(corpus, "dup_clusters", "dedup.dup_clusters", undo)
        tr.wrap(corpus, "write_training_shards", "corpus.export", undo)
        return undo

    def run_probes(self, w, tr) -> list:
        """One traced op of each layer the workload does not exercise, on
        small inputs, plus the assign-kernel probe. Probe ops are checked
        and counted like any other op."""
        import workloads

        out = []
        for name, probe in workloads.probes(w):
            d = os.path.join(self.work, f"probe-{name}")
            os.makedirs(d)
            probe.setup(self.spark, d, self.args.seed)
            self.run_op(probe, f"probe:{name}", tr, True)
            out.append(probe)
        lloyd = next(x for x in [w, *out] if isinstance(x, workloads.Lloyd))
        self.run_op(workloads.AssignKernel(lloyd), "probe:kernel", tr, True)
        return out

    def layer_metrics(self, w, tr, timed, probes, start_s, hwm_mb) -> dict:
        import workloads

        spans = tr.spans

        def named(name):
            return [s for s in spans if s.name == name]

        def span_med(name, f):
            return median(f(s) for s in named(name))

        m: dict[str, tuple[float, str]] = {}
        # kmeans.core: per iteration of each traced Lloyd fit
        from sparkstats import busy_seconds

        it = {s.sid: s.info for s in named("kmeans.lloyd")}
        m["lloyd.codegen_compiles_per_iter"] = (span_med("kmeans.lloyd", lambda s: s.compiles[0] / it[s.sid]), "count")
        m["lloyd.codegen_compile_ms_per_iter"] = (span_med("kmeans.lloyd", lambda s: 1e3 * s.compiles[1] / it[s.sid]), "ms")
        m["lloyd.driver_s_per_iter"] = (span_med("kmeans.lloyd", lambda s: (s.seconds - busy_seconds(s.stats["intervals"])) / it[s.sid]), "s")
        m["lloyd.jobs_per_iter"] = (span_med("kmeans.lloyd", lambda s: s.stats["jobs"] / it[s.sid]), "count")
        m["lloyd.init_s"] = (span_med("kmeans.init", lambda s: s.seconds), "s")
        # functions.vector: the assign kernel
        m["assign.build_ms"] = (span_med("vector.assign", lambda s: 1e3 * s.seconds), "ms")
        lloyd_w = next(x for x in [w, *probes] if isinstance(x, workloads.Lloyd))
        m["assign.exec_cpu_ns_per_row"] = (span_med(
            "vector.assign_exec", lambda s: 1e9 * s.stats["exec_cpu_s"] / lloyd_w.rows), "ns")
        # sources.table
        table_w = next(t for t in [w, *probes] if isinstance(t, workloads.TableMerge))
        m["table.create_s"] = (median(table_w.create_s), "s")
        m["table.upsert_s"] = (span_med("table.upsert", lambda s: s.seconds), "s")
        m["table.jobs_per_upsert"] = (span_med("table.upsert", lambda s: s.stats["jobs"]), "count")
        m["table.bytes_written_per_user_byte"] = (median(
            r["info"]["bytes_ratio"] for r in self.ops
            if r.get("traced") and "bytes_ratio" in r.get("info", {})), "ratio")
        m["table.read_current_s"] = (span_med("table.read_current", lambda s: s.seconds), "s")
        m["table.read_asof_s"] = (span_med("table.read_asof", lambda s: s.seconds), "s")
        # operators.corpus / operators.dedup
        m["corpus.dedup_s"] = (median(
            sum(d.seconds for d in tr.descendants(s) if d.name.startswith("dedup."))
            for s in named("corpus.prepare")), "s")
        m["corpus.export_s"] = (span_med("corpus.export", lambda s: s.seconds), "s")
        m["corpus.jobs"] = (span_med("corpus.prepare", lambda s: s.stats["jobs"]), "count")
        # Spark runtime, per op of the workload itself
        own = [r for r in timed if r["traced"] and r["ok"]]
        for key, unit in (
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("driver_s", "s"),
            ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
        ):
            m[f"spark.{key}"] = (median(r["stats"][key] for r in own), unit)
        # codegen and GC per op are means over all of the workload's ops,
        # warm-up included: a warm op often compiles nothing and meets no
        # GC, and the cold compiles are a cost users pay too
        mine = [r for r in self.ops if r["phase"] in ("warmup", "timed")]
        m["spark.gc_s"] = (statistics.mean(r["stats"]["gc_s"] for r in mine), "s")
        m["spark.codegen_compiles"] = (statistics.mean(r["compiles"] for r in mine), "count")
        m["spark.codegen_compile_s"] = (statistics.mean(r["compile_s"] for r in mine), "s")
        m["spark.leaked_rdds"] = (sum(r["persisted_rdds"] for r in self.ops), "count")
        m["spark.jvm_hwm_mb"] = (hwm_mb, "MB")
        m["spark.cold_op_s"] = (self.ops[0]["wall_s"], "s")
        m["session.start_s"] = (start_s, "s")
        plain = [r["wall_s"] for r in timed if not r["traced"]]
        m["trace.overhead_s"] = (median(r["wall_s"] for r in own) - median(plain), "s")
        return m

    def save(self, stamp, setup_s, start_s, tr, metrics, heap_mb, hwm_mb) -> None:
        """Keep the run's record (seeds, machine stamp, ops, spans)."""
        out_dir = os.path.join(HERE, "results")
        os.makedirs(out_dir, exist_ok=True)
        a = self.args
        path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        ops = [{k: v for k, v in r.items() if k not in ("groups",)} for r in self.ops]
        for r in ops:
            r["stats"] = {k: v for k, v in r["stats"].items() if k != "intervals"}
        with open(path, "w") as f:
            json.dump({
                "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "run_id": self.run_id, "machine": stamp,
                "session_start_s": start_s, "setup_s": setup_s,
                "heap_retained_mb": heap_mb, "jvm_hwm_mb": hwm_mb,
                "metrics": metrics, "ops": ops, "spans": tr.records(),
            }, f, indent=1, default=str)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kmeanwithmapreduce_spark", "__init__.py")):
        print(f"perfbench: no kmeanwithmapreduce_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WARMUP_S:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # a SIGTERM unwinds through the finally below: JVM stopped, scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_id = f"pb{os.getpid()}"
    work = os.path.join(HERE, ".scratch", f"{args.workload}-{args.seed}-{run_id}")
    prepare_env(work, run_id)
    sys.path[:0] = [ROOT, HERE]
    bench = Bench(args, work, run_id)
    try:
        result = bench.run()
    finally:
        try:
            if getattr(bench, "spark", None) is not None:
                stop_spark(bench.spark)
        finally:
            reap_children(run_id)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only if no other run uses it
            except OSError:
                pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
