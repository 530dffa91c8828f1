"""Benchmark of the verify and curation workloads, end to end.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload verify_catalog --seed 1 --seconds 22 --trace 0

One run generates the workload's inputs from ``--seed`` with DuckDB,
computes the expected outputs with the DuckDB oracle, then starts a Spark
session in a child process (``child.py``):

- ``--trace 0``: the session makes a cold first call, the workload's
  untimed warm-up calls, and then warm calls for ``--seconds``, and the
  run reports the end-to-end metrics.
- ``--trace 1``: after the same cold and warm-up calls, the session
  interleaves untraced and traced calls for
  ``--seconds`` and reports the per-layer metrics, including the
  tracing overhead; the spans go to ``.perfbench_out/``.

Every call's outputs are checked against the oracle.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  The run exits non-zero without a result when the program
is not in the checkout or a session fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD_TIMEOUT_S = 150

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_call_cpu_s": "s",
    "call_cpu_p50_s": "s",
}


def per_layer_unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("core_util"):
        return "ratio"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    return "count"


def _session_pids(sid: int) -> dict[int, str]:
    """{pid: state} of the processes in session ``sid``."""
    pids = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids[int(d)] = fields[0]
    return pids


def _become_subreaper() -> None:
    """Have the child's orphans (the JVM and its Python workers outlive
    the child process) reparented to this process, so it can reap them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                return
        except ChildProcessError:
            return


def _stop_session(sid: int) -> None:
    """Stop every process left in the child's session and wait until
    each has ended.  The JVM exits by itself once its Python driver is
    gone; what is still running after 10 s is killed."""
    deadline = time.time() + 10
    while True:
        _reap()
        pids = _session_pids(sid)
        live = [p for p, state in pids.items() if state != "Z"]
        if not pids or (not live and time.time() > deadline):
            return
        if time.time() > deadline:
            for pid in live:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


_T0 = time.time()


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``before`` (a noise check: it slows every metric alike)."""
    delta = [b - a for a, b in zip(before, _cpu_times())]
    return delta[7] / max(1, sum(delta))


def _log(msg: str) -> None:
    print(f"perfbench [{time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def run_child(spec: dict, work: str) -> dict:
    """Run ``child.py`` with ``spec`` in its own process session and
    return what it observed."""
    spec_path = os.path.join(work, "spec.json")
    out_path = os.path.join(work, "out.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(spec["nproc"]),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # a fixed set of JIT compiler threads: one that ended mid-call
        # would take its CPU time out of the call's JIT share (child.py)
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("OMP_NUM_THREADS", None)
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        env["PERFBENCH_SPAWNED"] = repr(time.time())
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "child.py"), spec_path, out_path],
            cwd=work,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=log,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_session(proc.pid)
    _log(f"session ended (exit {code})")
    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"the Spark session failed (exit {code}):\n{tail}")
    with open(out_path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--testdata",
        help="directory of the project's testdata (sf<scale>/<table>.parquet); "
        "by default the copies under perfbench/testdata/",
    )
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pgverify_spark")):
        print("perfbench: pgverify_spark/ is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen
    from perfbench.traced import per_layer_names
    from perfbench.workloads import (
        WORKLOADS,
        check_curate,
        check_verify,
        curate_oracle,
        verify_oracle,
    )

    w = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    cpu_before = _cpu_times()
    _become_subreaper()
    try:
        dirs = gen.write_targets(
            os.path.join(work, "data"),
            w.tables,
            w.sf,
            args.seed,
            faulty=w.faulty,
            testdata=args.testdata or gen.TESTDATA,
        )
        _log("inputs written")
        if w.kind == "verify":
            expected, check = verify_oracle(w, dirs), check_verify
        else:
            expected, check = curate_oracle(w, dirs), check_curate
        _log("oracle done")
        spec = {
            "workload": w.name,
            "dirs": dirs,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "nproc": len(os.sched_getaffinity(0)),
            "trace_path": os.path.join(out_dir, f"spans-{w.name}-seed{args.seed}.jsonl"),
        }
        main_out = run_child(spec, work)
        calls = [main_out["first"], *main_out["warm_up"], *main_out["warm"]]
        attempted = failed = 0
        for c in calls:
            a, f = check(expected, c)
            attempted += a
            failed += f
        if args.trace:
            values = {**main_out["per_layer"], "spark.peak_rss_mb": main_out["peak_rss_mb"]}
            metrics = {n: {"value": values[n], "unit": per_layer_unit(n)} for n in per_layer_names()}
        else:
            values = {
                "setup_s": main_out["setup_s"],
                "first_call_cpu_s": main_out["first"]["cpu_s"],
                "call_cpu_p50_s": main_out["call_cpu_p50_s"],
            }
            metrics = {n: {"value": v, "unit": END_TO_END_UNITS[n]} for n, v in values.items()}
        record = {
            "workload": w.name,
            "seed": args.seed,
            "trace": args.trace,
            "setup_s": main_out["setup_s"],
            "call_walls_s": [c["wall_s"] for c in calls],
            "call_cpu_s": [c["cpu_s"] for c in calls],
            "call_jit_cpu_s": [c["jit_cpu_s"] for c in calls],
            "warm_up_calls": len(main_out["warm_up"]),
            "warm_samples": len(main_out["warm"]),
            "peak_rss_mb": main_out["peak_rss_mb"],
            "steal_share": _steal_share(cpu_before),
        }
        with open(os.path.join(out_dir, f"run-{w.name}-seed{args.seed}.json"), "w") as f:
            json.dump(record, f, indent=1)
        _log(f"{record['warm_samples']} warm calls, steal {record['steal_share']:.1%}")
        errors = sorted({c["error"] for c in calls if c.get("error")})
        for e in errors:
            print(f"perfbench: call raised {e}", file=sys.stderr)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
