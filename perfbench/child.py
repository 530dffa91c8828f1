"""One Spark session of a benchmark run (started by ``run.py``).

Usage: ``python3 perfbench/child.py SPEC_JSON OUT_JSON``, with the
repository root on ``PYTHONPATH`` and the spawn time (epoch seconds) in
``PERFBENCH_SPAWNED``.

The spec names the workload, the target directories, the measuring
window and whether to trace.  The child sets up (session plus one
data-independent warm-up job), makes its calls, and writes what it
observed to OUT_JSON; ``run.py`` checks it.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import sys
import time
import traceback

from pgverify_spark import session


def _warm_up(spark) -> None:
    spark.range(0, 1000, 1, 4).selectExpr("sum(id) AS s").collect()


def _stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, per process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> set[int]:
    """``root`` and its descendant processes."""
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, f in stats.items() if int(f[1]) == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _rss_mb(spark) -> float:
    """High-water RSS of the JVM plus its descendant (Python worker)
    processes, from ``/proc/<pid>/status`` ``VmHWM``."""
    kb = 0
    for pid in _tree(jvm_pid(spark), _stats()):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def _ticks(fields: list[str], children: bool = False) -> int:
    """utime + stime (+ cutime + cstime) of a ``/proc/.../stat`` record."""
    return sum(int(x) for x in fields[11 : 15 if children else 13])


def _jit_ticks(jvm: int) -> dict[str, int]:
    """CPU ticks so far of each JIT compiler thread of the JVM."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                out[tid] = _ticks(f.read().rsplit(")", 1)[1].split())
        except OSError:
            continue
    return out


class Runner:
    """Makes workload calls and records what each returned."""

    def __init__(self, spark, spec: dict) -> None:
        from perfbench.workloads import WORKLOADS

        self.spark = spark
        self.w = WORKLOADS[spec["workload"]]
        self.dirs = spec["dirs"]
        self.calls = 0
        self.jvm = jvm_pid(spark)
        if self.w.kind == "curate":
            from pgverify_spark import registry

            self.queries = registry.spark_queries()

    def cpu(self) -> tuple[float, dict[str, int]]:
        """CPU seconds the program has spent so far (this Python driver,
        the JVM and its Python workers), and the CPU ticks of each JIT
        compiler thread."""
        own = time.process_time()
        stats = _stats()
        ticks = _ticks(stats[self.jvm])
        ticks += sum(_ticks(stats[p], True) for p in _tree(self.jvm, stats) - {self.jvm})
        return own + ticks / _TICK, _jit_ticks(self.jvm)

    def call(self) -> dict:
        """One workload call; returns its wall time, CPU time and outputs.

        The call's CPU time leaves out the JIT compiler threads: they
        compile in the background, so how much of their work lands in
        one call depends on timing, and it is reported on its own as
        ``jit_cpu_s``."""
        self.calls += 1
        cpu0 = self.cpu()
        t0 = time.perf_counter()
        try:
            out = self._verify() if self.w.kind == "verify" else self._curate()
        except Exception:  # noqa: BLE001 - a raising call is a failed operation
            out = {"error": traceback.format_exc()[-2000:]}
        out["wall_s"] = time.perf_counter() - t0
        cpu1 = self.cpu()
        # run.py keeps the JIT compiler threads alive for the whole session
        jit = sum(t - cpu0[1].get(tid, 0) for tid, t in cpu1[1].items()) / _TICK
        out["jit_cpu_s"] = jit
        out["cpu_s"] = cpu1[0] - cpu0[0] - jit
        if "rows" in out:
            from tests.oracle_check import table_hash

            out["hashes"] = {e: table_hash(*r) for e, r in out.pop("rows").items()}
        return out

    def _verify(self) -> dict:
        from pgverify_spark.sources.parquet import ParquetTarget
        from perfbench.workloads import flagged_cells

        targets = [ParquetTarget(t, self.dirs[t]) for t in self.w.targets]
        # a fresh verify() per call (plan_cache=None), as one CLI run does
        verify_mod = importlib.import_module("pgverify_spark.plans.verify")
        result = verify_mod.verify(self.spark, targets, self.w.config())
        result.report()
        return {
            "cells": {f"{r[0]}/{r[2]}/{r[3]}": r[4] for r in result.rows},
            "flagged": flagged_cells(result.errors),
        }

    def _curate(self) -> dict:
        results, marks = {}, []
        for entry in self.w.entries:
            group = f"call{self.calls}:{entry}"
            sc = self.spark.sparkContext
            t0 = time.time()
            sc.setJobGroup(group + ":build", entry)
            df = self.queries[entry](self.spark, self.dirs[self.w.targets[0]])
            t_collect = time.time()
            sc.setJobGroup(group + ":collect", entry)
            rows = df.collect()
            t1 = time.time()
            results[entry] = (df.columns, [tuple(r) for r in rows])
            self.spark.catalog.clearCache()
            marks.append((entry, group, t0, t_collect, t1))
        return {"rows": results, "marks": marks}


def main() -> None:
    spec_path, out_path = sys.argv[1], sys.argv[2]
    with open(spec_path) as f:
        spec = json.load(f)
    tracer = None
    if spec["trace"]:
        from perfbench import trace

        tracer = trace.Tracer()
        trace.install(tracer)
        tracer.active = True
    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    _warm_up(spark)
    # set-up counts from the moment run.py started this process
    out = {"setup_s": time.time() - float(os.environ["PERFBENCH_SPAWNED"])}
    if tracer is not None:
        tracer.active = False
    runner = Runner(spark, spec)
    if tracer is None:
        out.update(_measure(runner, spec["seconds"]))
    else:
        from perfbench.traced import measure_traced

        out.update(measure_traced(runner, tracer, spec))
    out["peak_rss_mb"] = _rss_mb(spark)
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(out, f)


def _measure(runner: Runner, seconds: float) -> dict:
    first = runner.call()
    warm_up = [runner.call() for _ in range(runner.w.warm_up_calls)]
    warm = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        warm.append(runner.call())
    return {
        "first": first,
        "warm_up": warm_up,
        "warm": warm,
        "call_cpu_p50_s": statistics.median(c["cpu_s"] for c in warm),
    }


if __name__ == "__main__":
    main()
