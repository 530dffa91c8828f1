"""In-memory spans and per-call Spark counters for the traced run.

:class:`Tracer` wraps the program's public functions in place (module or
class attributes) and records one span per call while tracing is active.
Nothing is wrapped in an untraced run, so those runs pay nothing.

Spark counters come from the status store.  Every traced call runs
under its own job group, so the store can be read back per call after
the listener bus has drained.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.active = False
        #: identifier shared by the spans of one traced call
        self.call = None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()  # per-thread stack of open span ids

    def wrap(self, owner, attr: str, layer: str, chars: bool = False) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a
        span-recording wrapper.  With ``chars`` the span also records the
        length of the returned SQL."""
        is_dict = isinstance(owner, dict)
        fn = owner[attr] if is_dict else getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            if not hasattr(self._local, "stack"):
                self._local.stack = []
            stack = self._local.stack
            span_id = next(self._ids)
            span = {
                "id": span_id,
                "parent": stack[-1] if stack else None,
                "call": self.call,
                "layer": layer,
                "thread": threading.get_ident(),
                "t0": time.time(),
            }
            stack.append(span_id)
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                stack.pop()
                span["t1"] = time.time()
                if chars and isinstance(out, str):
                    span["chars"] = len(out)
                with self._lock:
                    self.spans.append(span)

        if is_dict:
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)

    def between(self, t0: float, t1: float, layer: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer and t0 <= s["t0"] <= t1]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap the layers the benchmark reports (named after their modules)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from pgverify_spark import session
    from pgverify_spark.operators import fingerprint
    from pgverify_spark.sources import parquet

    # the package re-exports verify(), which shadows the module attribute
    verify = importlib.import_module("pgverify_spark.plans.verify")

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(verify, "verify", "verify.verify")
    tracer.wrap(verify.VerifyResult, "report", "verify.report")
    tracer.wrap(DataFrame, "collect", "collect")
    tracer.wrap(parquet.ParquetTarget, "list_tables", "sources.list_tables")
    tracer.wrap(parquet.ParquetTarget, "table_schema", "sources.table_schema")
    tracer.wrap(parquet.ParquetTarget, "read", "sources.read")
    # verify() looks these up in its own namespace; FINGERPRINT_OPS is a
    # shared dict, so replacing its values reaches every caller.
    tracer.wrap(verify, "fused_fingerprints", "fingerprint.plan_build")
    for mode in list(fingerprint.FINGERPRINT_OPS):
        tracer.wrap(fingerprint.FINGERPRINT_OPS, mode, "fingerprint.plan_build")
    # The canonical expression builders, as fingerprint.py imported them:
    # their calls into each other inside canonical.py are not counted.
    for name in ("canon_sql", "row_concat_sql", "row_hash_sql", "pk_key_sql", "hex_prefix_int_sql"):
        tracer.wrap(fingerprint, name, "canonical.expr_build", chars=True)


SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.input_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.driver_gap_s",
    "spark.core_util",
)


def spark_counters(spark, groups, t0: float, t1: float, nproc: int) -> dict:
    """Status-store counters of the jobs run under ``groups`` during the
    call window [t0, t1] (epoch seconds)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    job_ids = sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))
    intervals = []
    stage_ids = set()
    for jid in job_ids:
        job = store.job(jid)
        sub = job.submissionTime()
        end = job.completionTime()
        if sub.isDefined():
            start_s = sub.get().getTime() / 1000.0
            end_s = end.get().getTime() / 1000.0 if end.isDefined() else t1
            intervals.append((start_s, end_s))
        ids = job.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    stages = tasks = failed = run_ms = cpu_ns = in_b = sr_b = sw_b = 0
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran is not in the store
            continue
        if st.status().toString() == "SKIPPED":
            continue
        stages += 1
        tasks += st.numTasks()
        failed += st.numFailedTasks()
        run_ms += st.executorRunTime()
        cpu_ns += st.executorCpuTime()
        in_b += st.inputBytes()
        sr_b += st.shuffleReadBytes()
        sw_b += st.shuffleWriteBytes()
    wall = t1 - t0
    busy = _covered(intervals, t0, t1)
    run_s = run_ms / 1000.0
    values = (
        len(job_ids),
        stages,
        tasks,
        failed,
        run_s,
        cpu_ns / 1e9,
        in_b,
        sr_b,
        sw_b,
        max(0.0, wall - busy),
        run_s / (wall * nproc) if wall > 0 else 0.0,
    )
    return dict(zip(SPARK_METRICS, values))


def _covered(intervals, t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, t0), min(e, t1)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
