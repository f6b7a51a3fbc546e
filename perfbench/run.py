"""The repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The benchmark generates the workload's
inputs from ``--seed``, starts one Spark session on ``local[<nproc>]``
with one closed-loop client, sets up and warms up (all charged to
``setup_s``), then runs whole passes of operations back to back until
they hold ``--seconds`` of operation time and the workload's
``min_passes``, checks the outputs and prints two JSON lines on stdout:

- a report with every metric by name and unit, including those that
  only some workloads have (``rows_per_s``, ``op_tail_s`` with its
  percentile and sample count, ``stored_bytes_per_input_byte``);
- last, the result: ``{"correct", "attempted", "failed", "metrics"}``,
  whose metrics are the end-to-end metrics of ``BENCHMARK.json`` with
  ``--trace 0`` and its per-layer metrics with ``--trace 1``.

Each op is timed twice: in wall time (``op_p50_s``, ``ops_per_s``) and
in CPU seconds of the whole process tree, the Python driver, the JVM
and its Python workers (``cpu_s_per_op``, what a pay-per-use
deployment is billed for one op). On a shared host the wall time of a
run follows the neighbours' load; the CPU time follows it far less,
which is why ``BENCHMARK.json`` gates on ``cpu_s_per_op``.

Warm-up is a fixed number of untimed passes per workload
(``warm_passes``: one for the ETL, front-door and daily-cycle
workloads, none for the queries, whose oracle check in set-up warms
them). A fresh JVM keeps getting faster for minutes, longer than a
benchmark round (22 runs of every workload in under an hour) allows, so
each run measures a fixed point on the warm-up curve rather than steady
state.

``--trace 1`` is the traced run: the same run with spans around each
call into an engine layer, a ``StreamingQueryListener``, a
``QueryExecutionListener`` (query workloads) and Spark's event log, and
at least two timed passes. The per-layer metrics come from its timed
ops; its ``trace.cpu_s_per_op`` over the untraced runs'
``cpu_s_per_op`` is the tracing overhead (``compare.py`` reports it).
Spans go to ``.perfbench_out/<workload>-seed<seed>.spans.jsonl``.

The exit code is 0 when every operation and check passed, 1 when one
failed, and 2 when the benchmark could not run at all.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every process
    under it (the JVM and its Python workers), exited children
    included."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended meanwhile
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / CLK_TCK


def _worker_probe(_):
    import serverless_etl_spark

    yield os.path.dirname(os.path.abspath(serverless_etl_spark.__file__))


def check_worker_imports(spark) -> None:
    """Fail loudly unless Python workers import the engine from this
    checkout (queries with Python kernels need it there)."""
    want = os.path.join(ROOT, "serverless_etl_spark")
    try:
        got = spark.sparkContext.parallelize([0], 1).mapPartitions(_worker_probe).collect()
    except Exception as e:  # the worker's ImportError arrives wrapped
        raise RuntimeError(f"Python workers cannot import serverless_etl_spark: {e}") from e
    if got != [want]:
        raise RuntimeError(f"Python workers import serverless_etl_spark from {got}, not {want}")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: object
    listener: object = None


@dataclass
class Op:
    index: int
    seconds: float
    cpu_s: float
    ok: bool


def run_ops(wl, ctx, n: int) -> list[Op]:
    """Run the next ``n`` ops back to back, timing each in wall and in
    CPU time of the whole process tree."""
    ops = []
    for _ in range(n):
        i = wl.next_index
        wl.next_index += 1
        wl.prepare_op(i)
        ctx.tracer.op = i
        cpu = tree_cpu_s(os.getpid())
        t = time.perf_counter()
        try:
            ok = wl.op(i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        ops.append(Op(i, time.perf_counter() - t, tree_cpu_s(os.getpid()) - cpu, ok))
    return ops


def timed_phase(wl, ctx, seconds: float, min_passes: int) -> list[Op]:
    """Run whole passes until they hold ``seconds`` of op time and
    ``min_passes`` passes; one closed-loop client, each op starts when
    the last ends."""
    ops: list[Op] = []
    while sum(o.seconds for o in ops) < seconds or len(ops) < min_passes * wl.pass_len:
        ops += run_ops(wl, ctx, wl.pass_len)
    return ops


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def fingerprint(spark) -> dict:
    """nproc, versions and the raw calibration probe, computed once per
    checkout and kept in ``.perfbench_out``."""
    path = os.path.join(OUT_DIR, "fingerprint.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from serverless_etl_spark.calibration import calibration_probe

    fp = {
        "nproc": nproc(),
        "spark": spark.version,
        "python": platform.python_version(),
        "calibration_probe_s": calibration_probe(spark),
    }
    with open(path, "w") as f:
        json.dump(fp, f)
    return fp


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import stats, trace
    from perfbench.workloads import WORKLOADS

    t_setup = time.perf_counter()
    n = nproc()
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file in /tmp; the run writes only in its checkout
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    from serverless_etl_spark.session import get_spark

    ctx = Ctx(None, work, args.seed, None)
    wl = WORKLOADS[args.workload](ctx)
    wl.prestart()
    t = time.perf_counter()
    spark = ctx.spark = get_spark(f"perfbench-{args.workload}", f"local[{n}]", n, conf)
    session_start_s = time.perf_counter() - t
    print(f"# session start: {session_start_s:.2f}s", file=sys.stderr, flush=True)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        check_worker_imports(spark)
        ctx.tracer = trace.Tracer(spark) if args.trace else trace.NullTracer()
        if args.trace:
            ctx.listener = trace.ProgressListener()
            spark.streams.addListener(ctx.listener)
        wl.setup()
        warm = run_ops(wl, ctx, wl.warm_passes * wl.pass_len)
        setup_s = time.perf_counter() - t_setup
        warm_s = " ".join(f"{o.seconds:.2f}" for o in warm)
        print(f"# setup: {setup_s:.2f}s (warm-up ops: {warm_s or 'none'})", file=sys.stderr, flush=True)

        ops = timed_phase(wl, ctx, args.seconds, max(wl.min_passes, 2 if args.trace else 1))
        ctx.tracer.op = -1  # end-of-run checks belong to no op
        timed_s = " ".join(f"{o.seconds:.2f}/{o.cpu_s:.2f}" for o in ops)
        print(f"# timed ops (wall/CPU s): {timed_s}", file=sys.stderr, flush=True)
        t = time.perf_counter()
        failures = wl.finish()
        print(f"# end-of-run checks: {time.perf_counter() - t:.2f}s", file=sys.stderr, flush=True)
        for op in warm + ops:
            op.ok = op.ok and op.index not in wl.late_failed
        bad_warm = [o.index for o in warm if not o.ok]
        if bad_warm:
            failures.append(f"warm-up ops failed: {bad_warm}")
        stored = wl.stored_bytes_per_input_byte()
        measured = {o.index for o in ops}
        spans = [sp for sp in ctx.tracer.spans if sp.op in measured] if args.trace else []
        layer = wl.layer_metrics(spans, measured) if args.trace else {}
        fp = fingerprint(spark) if args.trace else None
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    finally:
        stop_spark(spark)

    durs = [o.seconds for o in ops]
    busy = sum(durs)
    n_failed = sum(not o.ok for o in ops)
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / busy, "1/s"),
        "op_p50_s": (stats.median(durs), "s"),
        "cpu_s_per_op": (sum(o.cpu_s for o in ops) / len(ops), "s"),
        "peak_rss_mb": (rss, "MiB"),
    }
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "ops": len(ops)}
    tl = stats.tail(durs)
    if tl is not None:
        report["op_tail_s"] = {"value": tl[1], "unit": "s", "percentile": tl[0], "n": tl[2]}
    if wl.rows_in:
        report["rows_per_s"] = {"value": sum(wl.rows_in[o.index] for o in ops) / busy, "unit": "rows/s"}
    if stored is not None:
        report["stored_bytes_per_input_byte"] = {"value": stored, "unit": "B/B"}
    report["failed_ops_frac"] = {"value": n_failed / len(ops), "unit": "frac"}
    if failures:
        report["check_failures"] = failures

    per_layer: dict[str, tuple[float, str]] = {}
    if args.trace:
        per_layer = traced_metrics(spans, ops, log_dir, session_start_s, layer)
        report["fingerprint"] = fp
        os.makedirs(OUT_DIR, exist_ok=True)
        ctx.tracer.dump(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}.spans.jsonl"))
    for k, (v, u) in {**e2e, **per_layer}.items():
        if not (stats.valid_name(k) and stats.valid_unit(u)):
            raise ValueError(f"metric {k!r} or its unit {u!r} breaks the metric grammar")
        report[k] = {"value": v, "unit": u}

    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = per_layer if args.trace else e2e
    result = {
        "correct": n_failed == 0 and not failures,
        "attempted": len(ops),
        "failed": n_failed,
        "metrics": {m["name"]: {"value": source[m["name"]][0], "unit": m["unit"]} for m in wanted},
    }
    return report, result


def traced_metrics(spans, ops, log_dir, session_start_s, layer) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the timed ops: the event-log totals per op,
    the builder's share, the workload's own metrics, and how much op
    time the spans leave unattributed."""
    from perfbench import stats, trace

    jobs, stage_sums, task_ms = trace.reduce_event_log(log_dir)
    owner = trace.attribute_jobs(jobs, spans)
    n = len(ops)
    busy = sum(o.seconds for o in ops)
    m: dict[str, tuple[float, str]] = {"session.start_s": (session_start_s, "s")}
    units = {"jobs": "count", "stages": "count", "tasks": "count", "max_task_skew": "ratio",
             "cpu_to_run_ratio": "ratio"}
    for k, v in trace.exec_totals(list(owner), jobs, stage_sums, task_ms).items():
        per_op = k not in ("max_task_skew", "cpu_to_run_ratio")
        unit = units.get(k, "ms" if k.endswith("_ms") else "B")
        m[f"exec.{k}"] = (v / n if per_op else v, unit)
    build = [sp for sp in spans if sp.name == "operators.build"]
    if build:
        build_jobs = sum(1 for i in owner.values() if spans[i].name == "operators.build")
        m["operators.build_jobs"] = (build_jobs / n, "count")
        m["operators.build_share"] = (sum(sp.dur for sp in build) / busy, "frac")
    m.update(layer)
    covered = sum(sp.dur for sp in spans if sp.parent is None)
    m["trace.unattributed_frac"] = ((busy - covered) / busy, "frac")
    m["trace.op_p50_s"] = (stats.median([o.seconds for o in ops]), "s")
    m["trace.cpu_s_per_op"] = (sum(o.cpu_s for o in ops) / n, "s")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "serverless_etl_spark", "__init__.py")):
        print(f"error: no serverless_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # Python workers must import the engine from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(OUT_DIR, exist_ok=True)
    try:
        report, result = run(args, work)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
