"""The traced run: per-layer metrics of each call, plus tracing overhead.

Untraced and traced calls interleave in one session, so the overhead
(traced ``call_p50_s`` minus untraced ``call_p50_s``) is measured under
the same conditions.  Each per-call metric is reported as its median over
the traced calls.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import trace
from perfbench.workloads import CURATE_ENTRIES

_VERIFY_METRICS = (
    "verify.build_s",
    "verify.execute_s",
    "verify.fallback_s",
    "verify.actions",
    "verify.check_s",
    "fingerprint.plan_build_s",
    "fingerprint.plan_build_calls",
    "sources.table_schema_s",
    "sources.table_schema_calls",
    "sources.list_tables_s",
    "canonical.expr_build_s",
    "canonical.expr_build_calls",
    "canonical.expr_build_chars",
)
_PREFIXES = ("scan", "canon_hash", "sort_shuffle", "final_reduce")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    names = list(_VERIFY_METRICS) + ["sources.read_s"]
    names += [f"fingerprint.{p}_s" for p in _PREFIXES]
    names += list(trace.SPARK_METRICS) + ["spark.peak_rss_mb"]
    for e in CURATE_ENTRIES:
        names += [f"ops.{e}.s", f"ops.{e}.jobs", f"ops.{e}.eager_jobs"]
    names += [
        "session.get_spark_s",
        "jvm.jit_cpu_s",
        "trace.first_call_s",
        "trace.call_p50_s",
        "trace.untraced_call_p50_s",
        "trace.overhead_s",
    ]
    return names


def _dur(spans) -> float:
    return sum(s["t1"] - s["t0"] for s in spans)


def _verify_layers(tracer: trace.Tracer, t0: float, t1: float) -> dict:
    spans = {layer: tracer.between(t0, t1, layer) for layer in (
        "verify.verify", "verify.report", "collect", "fingerprint.plan_build",
        "sources.table_schema", "sources.list_tables", "sources.read",
        "canonical.expr_build",
    )}
    v = spans["verify.verify"][0]
    collects = [
        s for s in spans["collect"]
        if v["t0"] <= s["t0"] <= v["t1"] and s["thread"] == v["thread"]
    ]
    canon = spans["canonical.expr_build"]
    return {
        "verify.build_s": (collects[0]["t0"] if collects else v["t1"]) - v["t0"],
        "verify.execute_s": _dur(collects[:1]),
        "verify.fallback_s": _dur(collects[1:]),
        "verify.actions": len(collects),
        "verify.check_s": (v["t1"] - (collects[-1]["t1"] if collects else v["t1"]))
        + _dur(spans["verify.report"]),
        "fingerprint.plan_build_s": _dur(spans["fingerprint.plan_build"]),
        "fingerprint.plan_build_calls": len(spans["fingerprint.plan_build"]),
        "sources.table_schema_s": _dur(spans["sources.table_schema"]),
        "sources.table_schema_calls": len(spans["sources.table_schema"]),
        "sources.list_tables_s": _dur(spans["sources.list_tables"]),
        "sources.read_s": _dur(spans["sources.read"]),
        "canonical.expr_build_s": _dur(canon),
        "canonical.expr_build_calls": len(canon),
        "canonical.expr_build_chars": sum(s.get("chars", 0) for s in canon),
    }


def _curate_layers(tracer: trace.Tracer, spark, out: dict, t0: float, t1: float) -> dict:
    m = {"sources.read_s": _dur(tracer.between(t0, t1, "sources.read"))}
    sc = spark.sparkContext
    for entry, group, e0, _collect, e1 in out["marks"]:
        build = len(sc.statusTracker().getJobIdsForGroup(group + ":build"))
        collect = len(sc.statusTracker().getJobIdsForGroup(group + ":collect"))
        m[f"ops.{entry}.s"] = e1 - e0
        m[f"ops.{entry}.jobs"] = build + collect
        m[f"ops.{entry}.eager_jobs"] = build
    return m


#: Times each fingerprint prefix is run; the layer is the median.
_PREFIX_ROUNDS = 3


def _prefix_layers(runner) -> dict:
    """Noop-sink prefixes of the full fingerprint plan over the largest
    verified table of target ``A``: scan, then canonical cast + row md5,
    then the key sort/shuffle, then the final ordered reduce.  Each layer
    is the median increment over the previous prefix.  Small inputs take
    the single-reduce plan, which has no separate sort: their sort layer
    is 0 and the ordering is part of the final reduce."""
    from pgverify_spark.operators import fingerprint as fp
    from pgverify_spark.sources.parquet import ParquetTarget

    spark, w = runner.spark, runner.w
    table = w.tables[-1]
    target = ParquetTarget("A", runner.dirs["A"])
    config = w.config()
    df = target.read(spark, table)
    schema = target.table_schema(spark, table)
    small = fp._small(df, config)

    def noop(frame):
        return lambda: frame.write.format("noop").mode("overwrite").save()

    kh = fp._kh(df, schema, config)
    steps = [("scan", noop(df)), ("canon_hash", noop(kh))]
    if not small:
        steps.append(("sort_shuffle", noop(kh.sort("k", "h"))))
    steps.append(("final_reduce", lambda: fp.full_fingerprint(df, schema, config).collect()))
    walls = {p: [] for p, _ in steps}
    for _ in range(_PREFIX_ROUNDS):
        for p, step in steps:
            t = time.perf_counter()
            step()
            walls[p].append(time.perf_counter() - t)
    out, prev = {"fingerprint.sort_shuffle_s": 0.0}, 0.0
    for p, _ in steps:
        med = statistics.median(walls[p])
        out[f"fingerprint.{p}_s"] = med - prev
        prev = med
    return out


def measure_traced(runner, tracer: trace.Tracer, spec: dict) -> dict:
    spark = runner.spark
    sc = spark.sparkContext
    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    first = runner.call()  # the cold call is not part of either sample
    warm_up = [runner.call() for _ in range(runner.w.warm_up_calls)]
    untraced, traced, layers = [], [], []
    deadline = time.perf_counter() + spec["seconds"]
    k = 0
    while time.perf_counter() < deadline or not traced or not untraced:
        k += 1
        # untraced, traced, traced, untraced, ...: the calls still get
        # faster as the JIT warms, and this order cancels a linear trend
        if k % 4 in (0, 1):
            untraced.append(runner.call())
            continue
        group = f"traced{k}"
        sc.setJobGroup(group, group)
        tracer.call = group
        tracer.active = True
        t0 = time.time()
        out = runner.call()
        t1 = time.time()
        tracer.active = False
        traced.append(out)
        if runner.w.kind == "verify":
            m = _verify_layers(tracer, t0, t1)
            groups = [group]
        else:
            m = _curate_layers(tracer, spark, out, t0, t1)
            groups = [g + phase for _, g, *_ in out["marks"] for phase in (":build", ":collect")]
        m.update(trace.spark_counters(spark, groups, t0, t1, nproc))
        m["jvm.jit_cpu_s"] = out["jit_cpu_s"]
        layers.append(m)
    if runner.w.kind == "verify":
        layers[0].update(_prefix_layers(runner))
    tracer.dump(spec["trace_path"])
    names = per_layer_names()
    metrics = {}
    for name in names:
        vals = [m[name] for m in layers if name in m]
        metrics[name] = statistics.median(vals) if vals else 0.0
    metrics["session.get_spark_s"] = _dur(tracer.between(0, time.time(), "session.get_spark"))
    metrics["trace.first_call_s"] = first["wall_s"]
    metrics["trace.call_p50_s"] = statistics.median(c["wall_s"] for c in traced)
    metrics["trace.untraced_call_p50_s"] = statistics.median(c["wall_s"] for c in untraced)
    metrics["trace.overhead_s"] = metrics["trace.call_p50_s"] - metrics["trace.untraced_call_p50_s"]
    return {"per_layer": metrics, "first": first, "warm_up": warm_up, "warm": untraced + traced}
