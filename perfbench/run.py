"""Lakehouse benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. Workloads: ``analytics`` and
``lakehouse_ingest`` (see ``workloads.py``). The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the run's environment stamp.

Each run gets a fresh work directory under ``.perfbench/`` in the
checkout, used as ``TMPDIR``, Spark local dir, warehouse and event-log
directory, and removed when the run ends (the traced run's span file and
event log are copied to ``.perfbench/trace/`` first). Generated input
tables are cached in ``.perfbench/data/``. The measured work runs in a
child process in its own process group, which is killed if it outlives
the time limit.

Other modes:

- ``--selftest``: one short pass per workload at sf0.001, traced and
  untraced, checking that every metric named in BENCHMARK.json is
  emitted with its unit.
- ``--pin``: recompute ``pinned.json`` (row count and digest per analytics
  query at each benchmark scale), cross-checking each digest against the
  query's DuckDB oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("analytics", "lakehouse_ingest")
#: the scale factor of the tables the analytics queries read (the ingest
#: stream generates its own input)
ANALYTICS_SCALE = 0.01
#: the analytics tables' scale in ``--selftest``
SELFTEST_SCALE = 0.001
CHILD_TIMEOUT_S = 170


def driver_heap_mb() -> int:
    """A quarter of the box's memory, at most 4 GiB, in 256 MiB steps."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return max(1024, min(4096, total_kb // 4096 // 256 * 256))


def child_env(work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}") if p
    )
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # python workers are started by the JVM and import the package too
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["SPARK_DRIVER_MEMORY"] = f"{driver_heap_mb()}m"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def run_child(argv: list[str], work: str, timeout: float = CHILD_TIMEOUT_S) -> int:
    """Run ``argv`` in its own process group with the per-run environment;
    its stdout goes to our stderr. The whole group is killed on the way
    out, so no JVM or python worker outlives the run."""
    proc = subprocess.Popen(
        argv, env=child_env(work), cwd=ROOT, stdout=sys.stderr, start_new_session=True,
    )
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: child exceeded {timeout:.0f}s, killed", file=sys.stderr)
        return -1
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def new_work_dir() -> str:
    work = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    return work


def check_checkout() -> None:
    if not os.path.isfile(os.path.join(ROOT, "iceberg_quickstart_iac_spark", "__init__.py")):
        sys.exit(f"perfbench: no engine package under {ROOT}; run from a source checkout")


def one_run(workload: str, seed: int, seconds: float, trace: int,
            scale: float = ANALYTICS_SCALE) -> dict:
    """One run of ``workload``; ``scale`` is the analytics tables' scale."""
    work = new_work_dir()
    try:
        out = os.path.join(work, "result.json")
        argv = [sys.executable, os.path.join(HERE, "worker.py"),
                "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--work", work, "--out", out]
        if workload == "analytics":
            sys.path.insert(0, HERE)
            import gen

            argv += ["--scale", str(scale),
                     "--data", gen.ensure(os.path.join(STATE, "data"), scale)]
        code = run_child(argv, work)
        if code != 0 or not os.path.exists(out):
            sys.exit(f"perfbench: {workload} run failed (exit {code})")
        with open(out) as fh:
            result = json.load(fh)
        if trace:
            keep = os.path.join(STATE, "trace", f"{workload}-seed{seed}")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            shutil.copy(os.path.join(work, "spans.jsonl"), keep)
            shutil.copytree(os.path.join(work, "eventlog"), os.path.join(keep, "eventlog"))
            result["env"]["span_file"] = os.path.relpath(os.path.join(keep, "spans.jsonl"), ROOT)
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = one_run(wl["name"], 1, 1, trace, SELFTEST_SCALE)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{wl['name']} trace={trace}: emitted {got}, expected {want}")
            if not res["correct"] or res["attempted"] < 1:
                problems.append(f"{wl['name']} trace={trace}: correct={res['correct']} "
                                f"attempted={res['attempted']} errors={res['errors']}")
            print(f"selftest {wl['name']} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} ops, {res['failed']} failed", file=sys.stderr)
    for p in problems:
        print("selftest FAIL:", p, file=sys.stderr)
    print(json.dumps({"selftest": "fail" if problems else "ok"}))
    return 1 if problems else 0


def pin() -> int:
    sys.path.insert(0, HERE)
    import gen

    scales = sorted({SELFTEST_SCALE, ANALYTICS_SCALE})
    dirs = [gen.ensure(os.path.join(STATE, "data"), s) for s in scales]
    work = new_work_dir()
    try:
        code = run_child(
            [sys.executable, os.path.join(HERE, "pin.py"), os.path.join(HERE, "pinned.json"),
             *[f"{s:g}={d}" for s, d in zip(scales, dirs)]],
            work, timeout=3600,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


def _terminate(signum, frame):
    # unwind through the finally blocks: kill the child group, remove the
    # work directory
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    check_checkout()
    if args.selftest:
        return selftest()
    if args.pin:
        return pin()
    if not args.workload:
        ap.error("--workload is required")
    res = one_run(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps({"env": res["env"], "setup_s": res["setup_s"], "passes": res["passes"],
                      "traced_passes": res["traced_passes"], "ops": res["ops_by_kind"],
                      "op_s": res["op_s"], "ref_s": res["ref_s"],
                      "errors": res["errors"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
