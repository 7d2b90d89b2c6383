"""Spark runtime readings taken over py4j, with the UI off.

Jobs and stages come from the application status store
(``sc._jsc.sc().statusStore()``), serialised to JSON in the JVM in one
call. Codegen counts come from ``CodegenMetrics``. Nothing here starts a
Spark job.
"""

from __future__ import annotations

import gc
import json
import os
import platform
import time


class Runtime:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jsc = self.sc._jsc.sc()
        mod = getattr(self.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(getattr(mod, "MODULE$"))
        self._compile_hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    # --- status store ------------------------------------------------------
    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just ended."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        store = self.jsc.statusStore()
        return json.loads(self.mapper.writeValueAsString(store.jobsList(None)))

    def stages(self) -> dict[int, dict]:
        store = self.jsc.statusStore()
        quantiles = getattr(store, "stageList$default$4")()
        task_status = getattr(store, "stageList$default$5")()
        stages = store.stageList(None, False, False, quantiles, task_status)
        rows = json.loads(self.mapper.writeValueAsString(stages))
        # keep the latest attempt of each stage
        out: dict[int, dict] = {}
        for s in rows:
            if s["stageId"] not in out or s["attemptId"] > out[s["stageId"]]["attemptId"]:
                out[s["stageId"]] = s
        return out

    def group_stats(self, groups: set[str]) -> dict[str, dict]:
        """Per job group: job count, job intervals and summed stage metrics."""
        self.drain()
        stages = self.stages()
        out: dict[str, dict] = {}
        for j in self.jobs():
            g = j.get("jobGroup")
            if g not in groups:
                continue
            acc = out.setdefault(g, _empty())
            acc["jobs"] += 1
            # Jackson writes the job's dates as epoch milliseconds
            t0, t1 = j.get("submissionTime"), j.get("completionTime")
            if t0 is not None and t1 is not None:
                acc["intervals"].append((t0 / 1000.0, t1 / 1000.0))
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None or s["status"] == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += s["numCompleteTasks"]
                acc["exec_run_s"] += s["executorRunTime"] / 1e3
                acc["exec_cpu_s"] += s["executorCpuTime"] / 1e9
                acc["gc_s"] += s["jvmGcTime"] / 1e3
                acc["shuffle_read_mb"] += (
                    s["shuffleLocalBytesRead"] + s["shuffleRemoteBytesRead"]
                ) / 1e6
                acc["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
                acc["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 1e6
                acc["peak_exec_mb"] = max(acc["peak_exec_mb"], s["peakExecutionMemory"] / 1e6)
        return out

    # --- codegen -----------------------------------------------------------
    def compiles(self) -> tuple[int, float]:
        """(compiles so far, their total compile seconds). The histogram
        keeps every sample until it holds 1028; past that the total is
        count x mean."""
        snap = self._compile_hist.getSnapshot()
        n = self._compile_hist.getCount()
        if n <= 1028:
            total_ms = sum(snap.getValues())
        else:
            total_ms = snap.getMean() * n
        return int(n), total_ms / 1e3

    # --- memory and hygiene -------------------------------------------------
    def persisted_rdds(self) -> int:
        return int(self.jsc.getPersistentRDDs().size())

    def heap_after_gc_mb(self) -> float:
        """JVM heap in use after full GCs, the lowest of three readings. A
        GC hands dead RDDs and broadcasts to Spark's ContextCleaner, whose
        thread then drops their blocks, so the GCs are spaced out to let
        the next one free what the cleaner released."""
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        readings = []
        for i in range(3):
            if i:
                time.sleep(0.5)
            gc.collect()  # frees py4j proxies in cycles, and the JVM objects they pin
            self.jvm.java.lang.System.gc()
            readings.append(mx.getHeapMemoryUsage().getUsed() / 1e6)
        return min(readings)

    def jvm_pid(self) -> int:
        return int(self.sc._gateway.proc.pid)

    def jvm_hwm_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")


def _empty() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "intervals": [],
        "exec_run_s": 0.0, "exec_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "peak_exec_mb": 0.0,
    }


def merge(stats: list[dict]) -> dict:
    acc = _empty()
    for s in stats:
        for k, v in s.items():
            if k == "intervals":
                acc[k] = acc[k] + v
            elif k == "peak_exec_mb":
                acc[k] = max(acc[k], v)
            else:
                acc[k] += v
    return acc


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def machine_stamp(spark, threads: int) -> dict:
    import pyspark

    prop = spark.sparkContext._jvm.java.lang.System.getProperty
    return {
        "nproc": os.cpu_count(),
        "executor_threads": threads,
        "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "java": f"{prop('java.vm.name')} {prop('java.version')}",
        "python": platform.python_version(),
    }
