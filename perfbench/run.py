"""Crawl-table benchmark for the validation engine.

    python3 perfbench/run.py --workload crawl_profile --seed 1 --seconds 5 --trace 0

One process, one closed-loop client: after set-up, operations of the chosen
workload run back to back for ``--seconds`` and at least the workload's
``min_ops`` times; every operation's output is checked against DuckDB. The
last line of stdout is the result JSON; the line before it records what ran
(source digest, nproc, Spark version, seed, rows, input bytes, op times).

* ``--trace 0`` reports the end-to-end metrics, in CPU seconds of the
  benchmark's process tree (see ``tree_cpu_s``): ``setup_s`` (the median of
  three set-ups, each a fresh SparkSession on the running context, the table
  opened and the workload prepared, plus the one untimed warm-up operation,
  which pays the workload's JIT warm-up and Python-worker start),
  ``op_cpu_s`` (median over the operations) and ``ok_op_ratio``. Wall times
  are in the record line.
* ``--trace 1`` reports the per-layer metrics. Every other operation runs
  with job tagging on; the jobs it opened are read from Spark's status store
  and attributed to engine layers (see ``jobs.py``). The untagged operations
  give the untraced op time, so the tracing overhead is reported alongside.

The table is generated in every run under ``.bench_build/perfbench``; every
file a run writes stays there, and the run's own directory is removed at the
end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "great_expectations_spark")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SETUPS = 3
DRIVER_MEM = "2g"

PER_LAYER = [
    "sources.session_s", "sources.generate_s", "compiler.compile_ms",
    "validator.agg_s", "validator.agg_jobs", "validator.agg_tasks",
    "validator.agg_input_mb", "validator.agg_cpu_s",
    "validator.eager_s", "validator.eager_jobs", "validator.eager_shuffle_mb",
    "validator.pass2_s", "validator.pass2_jobs", "validator.pass2_shuffle_write_mb",
    "validator.driver_s",
    "checkpoint.chunk_s", "checkpoint.append_s", "checkpoint.resume_s",
    "checkpoint.rollup_s", "checkpoint.samples_s", "checkpoint.results_bytes",
    "checkpoint.jobs",
    "profiler.format_s", "profiler.metrics_s", "profiler.jobs", "profiler.shuffle_mb",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.core_busy_ratio",
    "trace.untraced_op_s", "trace.traced_op_s", "trace.overhead_s",
    "trace.accounting_s", "trace.other_jobs", "trace.workload_drift",
]
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_bytes": "bytes", "_ratio": "ratio"}
E2E_UNITS = {"setup_s": "s", "op_cpu_s": "s", "ok_op_ratio": "ratio"}


def unit_of(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def op_layers(jobs, wall: float, cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced operation."""
    from jobs import union_s

    def pick(*layers):
        return [j for j in jobs if j.layer in layers]

    def span(js):
        return union_s([(j.start_ms, j.end_ms) for j in js])

    def stage_sum(js, key):
        return sum(s[key] for j in js for s in j.stages)

    agg = pick("validator.agg")
    eager = pick("validator.eager")
    pass2 = pick("validator.pass2_fused", "validator.pass2_single")
    prof = pick("profiler.format", "profiler.metrics")
    ckpt = [j for j in jobs if j.layer.startswith("checkpoint.")]
    mb = 1e6
    return {
        "validator.agg_s": span(agg),
        "validator.agg_jobs": len(agg),
        "validator.agg_tasks": stage_sum(agg, "tasks"),
        "validator.agg_input_mb": stage_sum(agg, "input_bytes") / mb,
        "validator.agg_cpu_s": stage_sum(agg, "cpu_ns") / 1e9,
        "validator.eager_s": span(eager),
        "validator.eager_jobs": len(eager),
        "validator.eager_shuffle_mb": stage_sum(eager, "shuffle_write_bytes") / mb,
        "validator.pass2_s": span(pass2),
        "validator.pass2_jobs": len(pass2),
        "validator.pass2_shuffle_write_mb": stage_sum(pass2, "shuffle_write_bytes") / mb,
        "validator.driver_s": wall - span(jobs),
        "checkpoint.append_s": span(pick("checkpoint.append")),
        "checkpoint.resume_s": span(pick("checkpoint.resume")),
        "checkpoint.jobs": len(ckpt),
        "profiler.format_s": span(pick("profiler.format")),
        "profiler.metrics_s": span(pick("profiler.metrics")),
        "profiler.jobs": len(prof),
        "profiler.shuffle_mb": (stage_sum(prof, "shuffle_read_bytes")
                                + stage_sum(prof, "shuffle_write_bytes")) / mb,
        "spark.jobs": len(jobs),
        "spark.stages": sum(len(j.stages) for j in jobs),
        "spark.tasks": stage_sum(jobs, "tasks"),
        "spark.failed_tasks": stage_sum(jobs, "failed_tasks"),
        "spark.shuffle_read_mb": stage_sum(jobs, "shuffle_read_bytes") / mb,
        "spark.shuffle_write_mb": stage_sum(jobs, "shuffle_write_bytes") / mb,
        "spark.core_busy_ratio": stage_sum(jobs, "run_ms") / 1000.0 / (wall * cores),
        "trace.other_jobs": len(pick("other")),
    }


def pass2_plan(jobs) -> str:
    """Which pass-2 plan an operation's jobs ran."""
    layers = {j.layer for j in jobs}
    plan = [name for layer, name in (("validator.pass2_fused", "fused"),
                                      ("validator.pass2_single", "per-expectation"))
            if layer in layers]
    return "+".join(plan) or "none"


def compile_ms(suite) -> float:
    """Median wall of compiling the suite from a cold compile cache."""
    from great_expectations_spark.plans.compiler import (
        Options, compile_expectation, invalidate_cache)

    times = []
    for _ in range(5):
        for c in suite.expectations:
            invalidate_cache(c.expectation_type)
        t0 = time.perf_counter()
        for c in suite.expectations:
            compile_expectation(c, Options())
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def source_digest() -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(ENGINE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file; None once it is gone."""
    try:
        with open(path) as fh:
            st = fh.read()
    except OSError:
        return None
    return st[st.index("(") + 1:st.rindex(")")], st[st.rindex(")") + 2:].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of the process
    tree under ``root`` -- the driver, its JVM and the JVM's Python workers --
    less the JVM's JIT compiler threads.

    Unlike wall time it leaves out steal, the time the host gives this VM's
    CPUs to other guests, which made op wall times of one workload differ up
    to 2x from run to run. JIT compilation goes on in the background for
    dozens of operations and is left out for the same reason. The compiler
    threads are kept alive (``-XX:-UseDynamicNumberOfCompilerThreads``): a
    thread that exits leaves its time in its process's total, where it could
    no longer be subtracted.
    """
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        st = _stat(f"/proc/{d}/stat") if d.isdigit() else None
        if st is not None:
            kids.setdefault(int(st[1][1]), []).append(int(d))
            ticks[int(d)] = sum(int(x) for x in st[1][11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        if pid not in ticks:
            continue
        total += ticks[pid]
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and st[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                total -= int(st[1][11]) + int(st[1][12])
    return total / os.sysconf("SC_CLK_TCK")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3 if xs else []
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return [q1, q2, q3]


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def spark_conf() -> dict[str, str]:
    """Environment and Spark conf that keep every file the run writes under
    WORK (temp files, Spark local dirs, warehouse, no JVM hsperfdata) and
    give the driver JVM a fixed-size heap: a heap that starts small grows
    through frequent collections over the first operations, which then run
    up to 1.7x slower than the later ones."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    return {
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          f"-Xms{DRIVER_MEM} "
                                          "-XX:-UseDynamicNumberOfCompilerThreads"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
        "spark.ui.showConsoleProgress": "false",
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE, "__init__.py")):
        print(f"engine package not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads as W

    from great_expectations_spark.sources.session import get_spark

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2

    conf = spark_conf()
    cores = os.cpu_count() or 1
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(cores=cores, app="perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t0
        # the table is written afresh in every run, never cached: generating
        # it warms the JIT, so a cached table would make set-up slower
        t0 = time.perf_counter()
        W.generate(spark, run_dir, args.seed)
        generate_s = time.perf_counter() - t0
        exp = W.Expected(run_dir)

        # set-up: a fresh SparkSession on the running context, the table
        # opened and the workload prepared, done SETUPS times (median), then
        # one untimed warm-up operation, which pays the workload's own JIT
        # warm-up and the Python-worker start once per process
        pid = os.getpid()
        base, prep_times, prep_cpu, errors = spark, [], [], []
        for _ in range(SETUPS):
            c0, t0 = tree_cpu_s(pid), time.perf_counter()
            spark = base.newSession()
            spark.catalog.clearCache()
            table = W.load_table(spark, run_dir)
            wl = W.WORKLOADS[args.workload](spark, table, exp, run_dir)
            prep_times.append(time.perf_counter() - t0)
            prep_cpu.append(tree_cpu_s(pid) - c0)
        c0, t0 = tree_cpu_s(pid), time.perf_counter()
        out = wl.warmup()
        warmup_s = time.perf_counter() - t0
        warmup_cpu = tree_cpu_s(pid) - c0
        errors += [f"warm-up: {e}" for e in wl.check(out)]

        sc = spark.sparkContext
        tagger = ledger = None
        if args.trace:
            from jobs import JobLedger, JobTagger

            tagger = JobTagger(sc, ENGINE)
            tagger.install()
            wl.tagger = tagger
            ledger = JobLedger(sc)

        walls, cpus, op_times, op_cpu = [], [], [], []
        traced_times, untraced_times, accounting = [], [], []
        per_op: list[dict[str, float]] = []
        unattributed: list[str] = []
        plans: list[str] = []
        attempted = failed = 0
        loop_start = time.perf_counter()
        while True:
            traced = bool(args.trace) and attempted % 2 == 0
            if tagger is not None:
                tagger.enabled = traced
            if traced:
                ledger.start()
            attempted += 1
            c0, t0 = tree_cpu_s(pid), time.perf_counter()
            try:
                out = wl.op()
            except Exception:  # noqa: BLE001 - a failed operation is counted
                wall = time.perf_counter() - t0
                failed += 1
                errors.append(f"op {attempted}: {traceback.format_exc(limit=3)}")
                out = None
            else:
                wall = time.perf_counter() - t0
            cpu = tree_cpu_s(pid) - c0
            walls.append(wall)
            cpus.append(cpu)
            if traced:
                tagger.enabled = False
                ta = time.perf_counter()
                jobs = ledger.collect()
                per_op.append(op_layers(jobs, wall, cores))
                plans.append(pass2_plan(jobs))
                unattributed += [j.name for j in jobs if j.layer == "other"]
                accounting.append(time.perf_counter() - ta)
            if out is not None:
                errs = wl.check(out)
                if errs:
                    failed += 1
                    errors += [f"op {attempted}: {e}" for e in errs]
                else:
                    op_times.append(wall)
                    op_cpu.append(cpu)
                    (traced_times if traced else untraced_times).append(wall)
            elapsed = time.perf_counter() - loop_start
            # traced runs need two operations of each kind
            if elapsed >= args.seconds and attempted >= max(wl.min_ops, 4 * args.trace):
                break

        if args.trace:
            metrics = {k: statistics.median(d[k] for d in per_op) for k in per_op[0]}
            metrics.update({k: statistics.median(v) for k, v in wl.layer.items()})
            drift = []
            if args.workload == "crawl_dirty" and set(plans) != {"fused"}:
                drift.append(f"crawl_dirty left the fused pass-2 plan: {plans}")
            if args.workload == "crawl_clean" and set(plans) != {"none"}:
                drift.append(f"crawl_clean ran pass-2 jobs: {plans}")
            for msg in drift:
                print(f"WARNING: workload drift: {msg}", file=sys.stderr)
            tr, un = median(traced_times), median(untraced_times)
            metrics.update({
                "sources.session_s": session_s,
                "sources.generate_s": generate_s,
                "compiler.compile_ms": compile_ms(wl.suite) if wl.suite is not None else 0.0,
                "trace.untraced_op_s": un,
                "trace.traced_op_s": tr,
                "trace.overhead_s": tr - un,
                "trace.accounting_s": median(accounting),
                "trace.workload_drift": float(len(drift)),
            })
            names = PER_LAYER
        else:
            metrics = {
                "setup_s": median(prep_cpu) + warmup_cpu,
                # with no checked operation (correct is then false) the
                # failed ones are measured
                "op_cpu_s": median(op_cpu or cpus),
                "ok_op_ratio": (attempted - failed) / attempted,
            }
            names = list(metrics)

        from pyspark import __version__ as spark_version

        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "commit": commit(), "source_sha256": source_digest(), "nproc": cores,
            "spark": spark_version, "rows": exp.rows, "rows_per_op": wl.rows_per_op,
            "input_bytes": W.input_bytes(run_dir),
            "prep_s": prep_times, "warmup_s": warmup_s,
            "prep_cpu_s": prep_cpu, "warmup_cpu_s": warmup_cpu,
            "op_cpu_s_quartiles": quartiles(op_cpu),
            "op_cpu_s_each": [round(t, 3) for t in op_cpu],
            "op_s_quartiles": quartiles(op_times),
            "op_s_n": len(op_times), "op_s_each": [round(t, 4) for t in op_times],
            "errors": errors[:10],
            "pass2_plans": plans, "unattributed_jobs": unattributed[:10],
        }
        print(json.dumps({"record": record}))
        for e in errors[:10]:
            print(f"ERROR: {e}", file=sys.stderr)
        print(json.dumps({
            "correct": not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics.get(k, 0.0), "unit": unit_of(k)} for k in names},
        }))
        return 0
    finally:
        stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
