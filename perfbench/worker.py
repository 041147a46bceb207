"""One benchmark run, started by ``run.py`` inside a prepared environment
(per-run ``TMPDIR``, repo root on ``PYTHONPATH``, sized driver heap).

Set-up is timed once, whole: the driver JVM's launch and the Spark
session's start, the workload's preparation and its warm-up. Short
set-ups repeated in one run (a session restart in a warm JVM, about a
third of a second) moved by a quarter between two sets of ten runs on
a shared 4-vCPU VM, while the whole set-up, most of it compute, moved by
a tenth. Then the workload runs whole passes of its seeded op schedule, one client thread,
closed loop: a pass starts only while the time left still fits the last
pass, and at least one pass runs. A pass's time is the sum of its ops'
times (with several passes, of each op's median time).

Before each op, untimed, the reference task runs ``REF_REPEATS`` times:
a parallel sort of a fixed array in the driver JVM, which runs no engine
code. ``pass_ref_ratio`` is the pass time over the lower quartile of the
run's reference times. A host that runs this JVM slower, because other tenants load
it, slows both alike, so the ratio keeps what the engine's code costs and
drops most of the host's drift; the wall-clock pass time is kept as the
per-layer ``pass.wall_s`` and in the stamp.

Every op's result is checked against its expected value outside
the timed region: checks, model updates and input building run inside
``Run.harness()``, which stops the op clock, suspends tracing and gives
their Spark jobs a job group no op owns.

With ``--trace 1`` the same passes run again with spans recorded around
the calls into each layer, and the per-layer metrics are reported from
that traced phase; the untraced phase of the same run gives the
``trace.overhead_s`` base.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import (  # noqa: E402
    Patches,
    Tracer,
    fold_event_log,
    wrap_function,
    wrap_methods,
    wrap_module,
)

#: the job group of benchmark bookkeeping; the event-log fold counts only
#: the groups of traced ops
HARNESS_GROUP = "harness"
UDF_PROFILER = "spark.sql.pyspark.udf.profiler"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


#: ints in the reference task's array, reference tasks timed before each
#: op, and untimed ones run before the first of them in a session
REF_INTS = 1_000_000
REF_REPEATS = 3
REF_WARM_UP = 10


def pass_time(ops: list[dict]) -> float:
    """Sum over a pass's ops of each op's median time across the passes.
    An op is known by its kind, name and how often that kind and name came
    earlier in its pass, so analytics queries pair up across permuted
    passes and the ingest cycles pair up by position."""
    samples: dict[tuple, list[float]] = {}
    seen: dict[tuple, int] = {}
    last = None
    for o in ops:
        if o["pass"] != last:
            last, seen = o["pass"], {}
        n = seen[(o["kind"], o["name"])] = seen.get((o["kind"], o["name"]), -1) + 1
        samples.setdefault((o["kind"], o["name"], n), []).append(o["s"])
    return sum(median(v) for v in samples.values())


class Run:
    """State of one run: the session, the op log and, when traced, the
    tracer and the installed wrappers."""

    def __init__(self, args):
        self.args = args
        self.spark = None
        self.ops: list[dict] = []
        self.tracer: Tracer | None = None
        self.patches = Patches()
        self.session_start_s = 0.0
        self.errors: dict[str, str] = {}
        self.wrong = 0
        #: the reference task's input array and its sort buffer, in the JVM
        self._ref_src = self._ref_dst = None
        #: the pass the next ops belong to
        self.pass_no = -1
        self._group: str | None = None
        #: seconds spent in ``harness()`` so far
        self.harness_s = 0.0
        #: optional ``() -> {path: size}`` of the files the workload writes;
        #: traced ops diff it to count what each op wrote
        self.probe = None

    # -- session ----------------------------------------------------------

    def start_session(self):
        from iceberg_quickstart_iac_spark.session import get_spark

        cpus = os.environ["SPARK_GRAFT_CPUS"]
        extra = {
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            log_dir = os.path.join(self.args.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cpus}]",
            shuffle_partitions=int(cpus), extra_conf=extra,
        )
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def ref_task_s(self) -> float:
        """Wall time of the reference task: a parallel sort of a fixed
        array in the driver JVM, on all of its cores. It runs no engine
        code, so its time tracks only how fast the host runs this JVM
        at the moment."""
        jvm = self.spark._jvm
        if self._ref_src is None:
            self._ref_src = jvm.java.util.Random(7).ints(REF_INTS).toArray()
            self._ref_dst = jvm.java.util.Arrays.copyOf(self._ref_src, REF_INTS)
            for _ in range(REF_WARM_UP):  # let the JIT compile the sort first
                self._ref_sort()
        return self._ref_sort()

    def _ref_sort(self) -> float:
        jvm = self.spark._jvm
        jvm.java.lang.System.arraycopy(self._ref_src, 0, self._ref_dst, 0, REF_INTS)
        t0 = time.perf_counter()
        jvm.java.util.Arrays.parallelSort(self._ref_dst)
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self._ref_src = None

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this Python process."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")

    def heap_live_mb(self) -> float:
        """Driver JVM heap still in use after full collections. Spark's
        context cleaner frees broadcast and shuffle state only after a
        collection has dropped its references, so collect, wait, repeat."""
        import gc

        gc.collect()  # drop Python-side handles on JVM objects first
        jvm = self.spark._jvm
        self.spark.catalog.clearCache()
        for _ in range(3):
            jvm.java.lang.System.gc()
            time.sleep(0.3)
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    # -- ops ----------------------------------------------------------------

    def group(self, phase: str) -> None:
        """Tag the Spark jobs that follow with the current op and phase."""
        self._set_group(f"op{len(self.ops)}/{phase}")

    def _set_group(self, gid: str | None) -> None:
        self._group = gid
        if gid is not None:
            self.spark.sparkContext.setJobGroup(gid, gid)

    @contextlib.contextmanager
    def harness(self):
        """Benchmark bookkeeping, inside an op or between ops: not part of
        the op's time, not traced, its Spark jobs in ``HARNESS_GROUP``."""
        t0 = time.perf_counter()
        outer = self._group
        if self.tracer is not None:
            self.tracer.paused += 1
        self._set_group(HARNESS_GROUP)
        try:
            yield
        finally:
            self._set_group(outer)
            if self.tracer is not None:
                self.tracer.paused -= 1
            self.harness_s += time.perf_counter() - t0

    def op(self, kind: str, name: str, fn, check) -> None:
        """Run the reference task, then time ``fn()``; then, untimed,
        ``check(result)`` must return True. Any exception or failed check
        makes the op failed."""
        if self.tracer is not None:
            self.tracer.op = f"op{len(self.ops)}"
        self.group("op")
        before = self.probe() if self.tracer is not None and self.probe else None
        ref = [self.ref_task_s() for _ in range(REF_REPEATS)]
        t0, h0 = time.perf_counter(), self.harness_s
        ok, err, secs = False, None, None
        try:
            if self.tracer is not None:
                with self.tracer.span(f"op.{kind}"):
                    out = fn()
            else:
                out = fn()
            secs = time.perf_counter() - t0 - (self.harness_s - h0)
            with self.harness():
                ok = bool(check(out))
            if not ok:
                self.wrong += 1
                err = "result does not match the expected value"
        except Exception as exc:  # an op failure is a measured outcome
            if secs is None:
                secs = time.perf_counter() - t0 - (self.harness_s - h0)
            lines = [ln for ln in str(exc).splitlines() if ln.strip()]
            err = f"{type(exc).__name__}: {lines[0][:300] if lines else ''}"
        if before is not None:
            new = {p: n for p, n in self.probe().items() if p not in before}
            self.tracer.count("snapstore.files_written", len(new))
            self.tracer.count("snapstore.bytes_written", sum(new.values()))
            self.tracer.count(
                "snapstore.commits",
                sum(1 for p in new if os.path.basename(os.path.dirname(p)) == "_log"
                    and p.endswith(".json")),
            )
        if err:
            self.errors.setdefault(f"{kind}:{name}", err)
        self.ops.append({
            "kind": kind, "name": name, "s": secs, "ref": ref, "ok": ok,
            "traced": self.tracer is not None, "pass": self.pass_no,
        })

    def measure(self, workload, seconds: float, first_pass: int) -> list[float]:
        """Run passes while the time left fits the last pass's wall time;
        return each pass's time, the sum of its ops' times."""
        passes: list[float] = []
        t_start = time.perf_counter()
        k = first_pass
        while True:
            p0, n0 = time.perf_counter(), len(self.ops)
            self.pass_no = k
            workload.run_pass(k)
            passes.append(sum(o["s"] for o in self.ops[n0:]))
            k += 1
            now = time.perf_counter()
            if (now - t_start) + (now - p0) > seconds:
                return passes

    # -- tracing --------------------------------------------------------

    def install_tracing(self) -> None:
        import importlib

        from iceberg_quickstart_iac_spark import datasets, pipeline
        from iceberg_quickstart_iac_spark.governance.audit import add_audit_subscriber
        from iceberg_quickstart_iac_spark.operators import dedup, quality, retrieval, similarity
        from iceberg_quickstart_iac_spark.tables.lakehouse import Lakehouse
        from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable

        # the module, not the ``plans.queries`` function that shadows it
        queries = importlib.import_module("iceberg_quickstart_iac_spark.plans.queries")
        tr = self.tracer = Tracer()
        p = self.patches
        wrap_function(p, tr, "datasets.load_table", datasets, "load_table",
                      importers=(queries,), counter="datasets.load_table.calls")
        wrap_function(p, tr, "quality.run_checks", quality, "run_checks",
                      importers=(pipeline,))
        wrap_function(p, tr, "pipeline.materialize", pipeline, "materialize")
        for mod in (dedup, similarity, retrieval):
            wrap_module(p, tr, f"operators.{mod.__name__.rsplit('.', 1)[1]}", mod)
        wrap_methods(p, tr, "snapstore.commit", SnapTable, (
            "append", "overwrite", "delete_where", "update_where", "merge_into",
            "compact", "expire_snapshots",
        ))
        wrap_methods(p, tr, "snapstore.read", SnapTable, ("read", "register"))
        wrap_methods(p, tr, "snapstore.meta", SnapTable, (
            "snapshots", "history", "files", "partitions", "current_snapshot",
            "head_sequence",
        ))
        p.set(Lakehouse, "sql", tr.wrap("sql.front_door", Lakehouse.sql, "sql.statements"))
        self._audit = lambda rec: tr.count("audit.events")
        add_audit_subscriber(self._audit)
        # Spark's own cProfile-based profiler of Python UDFs
        self.spark.conf.set(UDF_PROFILER, "perf")

    def remove_tracing(self) -> None:
        from iceberg_quickstart_iac_spark.governance.audit import remove_audit_subscriber

        self.patches.undo()
        if self.tracer is not None:
            remove_audit_subscriber(self._audit)
            self.spark.conf.unset(UDF_PROFILER)

    def udf_python_s(self) -> float:
        """Seconds spent inside Python UDFs while the profiler was on."""
        import pstats

        out = os.path.join(self.args.work, "udf-profile")
        self.spark.profile.dump(out, type="perf")
        if not os.path.isdir(out):
            return 0.0
        return sum(pstats.Stats(os.path.join(out, f)).total_tt for f in os.listdir(out))


# -- metrics ---------------------------------------------------------------


def ref_time(ops: list[dict]) -> float:
    """Lower quartile of the times of the reference tasks run before
    ``ops``. The engine's own leftovers from the op before (garbage
    collection, cleanup threads) only ever slow a reference task down, so a
    low quantile tracks the host with less of that noise than the median."""
    refs = [r for o in ops for r in o["ref"]]
    return statistics.quantiles(refs, n=4)[0] if len(refs) > 1 else median(refs)


def end_to_end(run: Run, setup_s: float, heap: float) -> dict:
    ops = [o for o in run.ops if not o["traced"]]
    ok = [o["s"] for o in ops if o["ok"]]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_ref_ratio": {"value": pass_time(ops) / ref_time(ops), "unit": "ratio"},
        "heap_live_mb": {"value": heap, "unit": "MB"},
        "op_ok_frac": {"value": len(ok) / max(len(ops), 1), "unit": "ratio"},
    }


def per_layer(run: Run, untraced: list[float], traced: list[float], udf_s: float,
              extra: dict) -> dict:
    tr = run.tracer
    self_s = tr.self_times()
    groups = fold_event_log(os.path.join(run.args.work, "eventlog"))
    traced_ops = {f"op{i}" for i, o in enumerate(run.ops) if o["traced"]}
    untraced_ops = [o for o in run.ops if not o["traced"]]

    def fold(key: str, phase: str | None = None) -> float:
        total = 0.0
        for gid, g in groups.items():
            op, _, ph = gid.partition("/")
            if op in traced_ops and (phase is None or ph == phase):
                total += g.get(key, 0.0)
        return total

    m = {
        "session.start_s": (run.session_start_s, "s"),
        "datasets.load_table.calls": (tr.counts.get("datasets.load_table.calls", 0), "count"),
        "datasets.load_table.s": (self_s.get("datasets.load_table", 0.0), "s"),
        "plans.construct.s": (self_s.get("plans.construct", 0.0), "s"),
        "plans.construct.jobs": (fold("jobs", "construct"), "count"),
        "plans.action.s": (self_s.get("plans.action", 0.0), "s"),
        "catalyst.plan.s": (self_s.get("catalyst.plan", 0.0), "s"),
        "spark.jobs": (fold("jobs"), "count"),
        "spark.stages": (fold("stages"), "count"),
        "spark.tasks": (fold("tasks"), "count"),
        "scheduler.delay.s": (fold("scheduler_delay_s"), "s"),
        "executor.run.s": (fold("run_s"), "s"),
        "executor.cpu.s": (fold("cpu_s"), "s"),
        "executor.gc.s": (fold("gc_s"), "s"),
        "shuffle.read.bytes": (fold("shuffle_read_bytes"), "bytes"),
        "shuffle.write.bytes": (fold("shuffle_write_bytes"), "bytes"),
        "spill.bytes": (fold("spill_bytes"), "bytes"),
        "operators.dedup.s": (self_s.get("operators.dedup", 0.0), "s"),
        "operators.similarity.s": (self_s.get("operators.similarity", 0.0), "s"),
        "operators.retrieval.s": (self_s.get("operators.retrieval", 0.0), "s"),
        "udf.python.s": (udf_s, "s"),
        "pipeline.materialize.s": (self_s.get("pipeline.materialize", 0.0), "s"),
        "quality.run_checks.s": (self_s.get("quality.run_checks", 0.0), "s"),
        "snapstore.commit.s": (self_s.get("snapstore.commit", 0.0), "s"),
        "snapstore.read.s": (self_s.get("snapstore.read", 0.0), "s"),
        "snapstore.meta.s": (self_s.get("snapstore.meta", 0.0), "s"),
        "sql.statements": (tr.counts.get("sql.statements", 0), "count"),
        "sql.front_door.s": (self_s.get("sql.front_door", 0.0), "s"),
        "audit.events": (tr.counts.get("audit.events", 0), "count"),
        "trace.overhead_s": (median(traced) - median(untraced), "s"),
        "pass.wall_s": (pass_time(untraced_ops), "s"),
        "ref_task.s": (ref_time(untraced_ops), "s"),
    }
    for k in ("commits", "bytes_written", "files_written"):
        m[f"snapstore.{k}"] = (tr.counts.get(f"snapstore.{k}", 0), "bytes" if "bytes" in k else "count")
    m.update(extra)
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def source_sha256(root: str) -> str:
    """Digest of the engine package's sources, which identifies the code
    when the checkout carries no git metadata."""
    import hashlib

    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(root, "iceberg_quickstart_iac_spark"))):
        for f in sorted(files):
            if f.endswith((".py", ".yaml")):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def environment(args) -> dict:
    import platform
    import subprocess

    import duckdb
    import pyspark

    root = os.path.dirname(HERE)
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or "not a git checkout"
    except OSError:
        commit = "git unavailable"
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_commit": commit,
        "source_sha256": source_sha256(root),
        "loadavg_at_start": os.getloadavg(),
    }


def main(argv=None) -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="scale factor of --data (analytics)")
    ap.add_argument("--data", help="generated tables the queries read (analytics)")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    from workloads import WORKLOADS

    env = environment(args)
    phases = {"imports_env": time.perf_counter() - t_main}
    run = Run(args)
    workload = WORKLOADS[args.workload](run, args)
    t0 = time.perf_counter()
    run.start_session()
    workload.prepare()
    phases["setup"] = time.perf_counter() - t0
    t = time.perf_counter()
    workload.warm_up()
    phases["warm_up"] = time.perf_counter() - t
    setup_s = time.perf_counter() - t0
    t = time.perf_counter()
    passes = run.measure(workload, args.seconds, 0)
    phases["measure"] = time.perf_counter() - t
    t = time.perf_counter()
    heap = run.heap_live_mb()
    phases["heap_live"] = time.perf_counter() - t
    traced: list[float] = []
    udf_s = 0.0
    if args.trace:
        t = time.perf_counter()
        run.install_tracing()
        try:
            traced = run.measure(workload, args.seconds, len(passes))
        finally:
            run.remove_tracing()
        udf_s = run.udf_python_s()
        phases["traced_measure"] = time.perf_counter() - t
    t = time.perf_counter()
    with run.harness():
        correct = workload.verify_end_state()
        env["peak_rss_mb"] = run.peak_rss_mb()
        extra = workload.layer_metrics() if args.trace else {}
    phases["verify"] = time.perf_counter() - t
    t = time.perf_counter()
    workload.teardown()
    run.stop_session()
    phases["stop"] = time.perf_counter() - t

    if args.trace:
        metrics = per_layer(run, passes, traced, udf_s, extra)
        run.tracer.dump(os.path.join(args.work, "spans.jsonl"))
    else:
        metrics = end_to_end(run, setup_s, heap)
    failed = sum(not o["ok"] for o in run.ops)
    phases["total"] = time.perf_counter() - t_main
    env["phases_s"] = phases
    result = {
        "env": env,
        "setup_s": setup_s,
        "passes": passes,
        "traced_passes": traced,
        "ops_by_kind": workload.op_summary(),
        "op_s": [[o["name"], round(o["s"], 4), o["ok"], o["traced"]] for o in run.ops],
        "ref_s": [round(median(o["ref"]), 4) for o in run.ops],
        "errors": run.errors,
        "correct": bool(correct) and run.wrong == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": metrics,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
