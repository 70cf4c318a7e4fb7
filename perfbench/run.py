"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 10 --trace 0

One driver process, one client, closed loop on ``local[nproc]``. The
seeded inputs and their references are generated (or found in the cache)
by ``inputs.py`` run to completion first. Then the Spark session starts
and the workload is set up. The workload's fixed seeded operation sequence then runs in
whole passes until ``--seconds`` have gone by, at least one; each operation starts when the
previous one's result has been delivered. Every operation's output is
checked outside its timed interval.

The last stdout line is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a separate
traced run (Spark's event log on, jobs labelled by span). The lines before
it are a readable report: every end-to-end metric with its unit
(``failed_share`` included), per-operation latencies, and the host record
with the q01 control scan of bench.py at the start and end of the run.

Everything the run writes stays under ``.perfbench/`` in the checkout: the
per-seed input cache and a per-process run directory removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "graph_db_clustering_spark"
CONTROL_REPEATS = 1


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure_env(run_dir: str, traced: bool) -> int:
    """Environment of the driver, its JVM and the Python workers, set
    before the session starts. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # executor-side Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    conf = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf
    ) + " pyspark-shell"
    return cpus


def _stat(pid) -> list | None:
    """The fields of /proc/<pid>/stat after the command name (state,
    parent, ...; [19] is the start time), or None once it has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _process_tree(root: int) -> set:
    """(pid, start time) of every live descendant of ``root``; the start
    time tells a process from a later one given the same pid."""
    parent, start = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(name)) is not None:
            parent[int(name)], start[int(name)] = int(st[1]), st[19]
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        for child, ppid in parent.items():
            if ppid == pid:
                tree.add((child, start[child]))
                todo.append(child)
    return tree


def _alive(proc) -> bool:
    st = _stat(proc[0])
    return st is not None and st[19] == proc[1] and st[0] != "Z"


def _wait_gone(procs, timeout: float) -> set:
    """Wait up to ``timeout`` seconds for ``procs`` to end; the ones still
    running."""
    deadline = time.monotonic() + timeout
    while True:
        procs = {p for p in procs if _alive(p)}
        if not procs or time.monotonic() >= deadline:
            return procs
        time.sleep(0.05)


def _stop_processes() -> None:
    """Stop the Spark session, the JVM pyspark launched and its Python
    workers, and every other process this one started, and wait until
    each has ended: the run leaves nothing behind."""
    from pyspark import SparkContext

    procs = _process_tree(os.getpid())
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            traceback.print_exc()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
    if jvm is not None:
        # the JVM exits when its stdin closes
        try:
            jvm.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    procs |= _process_tree(os.getpid())
    left = _wait_gone(procs, 10)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid, _ in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        for pid, _ in left:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own children
            except OSError:
                pass
        left = _wait_gone(left, 5)
        if not left:
            return
    print(f"perfbench: processes still running: {sorted(p for p, _ in left)}", file=sys.stderr)


def _terminated(signum, frame):
    raise SystemExit(128 + signum)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _control(spark, input_dir: str) -> float:
    """bench.py's q01 control scan, best of CONTROL_REPEATS."""
    from graph_db_clustering_spark.queries import QUERIES

    best = float("inf")
    for _ in range(CONTROL_REPEATS):
        t0 = time.perf_counter()
        QUERIES["q01"](spark, input_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def execute(op, tracer) -> tuple[float, bool]:
    """Time one operation, then check its output outside the timed
    interval. Returns (latency, ok); an exception from the operation or
    a failed check makes ok False and is logged to stderr."""
    t0 = time.perf_counter()
    try:
        with tracer.span(op.name):
            result = op.run()
    except Exception:  # an operation failure is a result, not a crash
        traceback.print_exc()
        return time.perf_counter() - t0, False
    latency = time.perf_counter() - t0
    try:
        op.check(result)
    except Exception:
        traceback.print_exc()
        return latency, False
    return latency, True


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    import inputs

    work = os.path.join(ROOT, ".perfbench")
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), os.path.join(work, "inputs"),
         args.workload, str(args.seed)],
        stdout=subprocess.PIPE, text=True,
    )
    if gen.returncode != 0:
        print("perfbench: generating the inputs failed", file=sys.stderr)
        return 1
    input_dir = gen.stdout.strip().splitlines()[-1]
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    signal.signal(signal.SIGTERM, _terminated)
    try:
        refs = inputs.references(input_dir)
        return _run(args, WORKLOADS[args.workload], input_dir, refs, run_dir)
    finally:
        _stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, workload_cls, input_dir: str, refs, run_dir: str) -> int:
    import inputs
    import params
    import spans
    from workloads import KIND_READ, KIND_WRITE

    traced = bool(args.trace)
    load_before = os.getloadavg()
    cpus = _configure_env(run_dir, traced)
    manifest = inputs.manifest(input_dir)

    from graph_db_clustering_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    tracer = spans.Tracer(sc, traced)
    wl = workload_cls(spark, tracer, input_dir, manifest, refs, os.path.join(run_dir, "state"))
    t0 = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t0
    control_first = _control(spark, input_dir)

    records = []  # (op seq, name, kind, latency, ok, live persistent RDDs)
    stored_ratio = None
    cpu0 = (spans.cpu_seconds(jvm_pid), spans.cpu_seconds("self"))
    loop_start = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - loop_start < args.seconds:
        for op in wl.pass_ops(passes):
            seq = tracer.next_op()
            latency, ok = execute(op, tracer)
            tracer.idle()
            live = len(sc._jsc.getPersistentRDDs())
            records.append((seq, op.name, op.kind, latency, ok, live))
        passes += 1
        if stored_ratio is None:
            # after the first pass: the same commits on every run
            stored_ratio = wl.stored_bytes_ratio()
    cpu1 = (spans.cpu_seconds(jvm_pid), spans.cpu_seconds("self"))
    loop_wall = time.perf_counter() - loop_start

    control_last = _control(spark, input_dir)
    extra = []  # ok flags of the traced-only operations
    peak_rss = spans.peak_rss_bytes(jvm_pid) + spans.peak_rss_bytes("self")
    if traced:
        # outside the pass: not in records, so not in any per-op mean
        for op in wl.traced_ops():
            tracer.next_op()
            extra.append(execute(op, tracer)[1])
            tracer.idle()
        wl.traced_counts()
    spark.stop()

    lat = [r[3] for r in records]
    attempted = len(records) + len(extra)
    failed = sum(1 for r in records if not r[4]) + extra.count(False)
    e2e = {
        "setup_s": (session_s + build_s, "s"),
        "ops_per_s": (len(lat) / sum(lat), "op/s"),
        "latency_tail_s": (statistics.quantiles(lat, n=100, method="inclusive")[params.TAIL_PCT - 1], "s"),
        "write_p50_s": (_median([r[3] for r in records if r[2] == KIND_WRITE]), "s"),
        "read_p50_s": (_median([r[3] for r in records if r[2] == KIND_READ]), "s"),
        "stored_bytes_ratio": (stored_ratio, "ratio"),
    }
    host = {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "control_q01_first_s": round(control_first, 4),
        "control_q01_last_s": round(control_last, 4),
        "session_start_s": round(session_s, 3),
        "build_s": round(build_s, 3),
        "passes": passes,
        "loop_wall_s": round(loop_wall, 3),
        "tail_percentile": params.TAIL_PCT,
    }
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for k, v in host.items():
        print(f"  host {k} = {v}")
    for k, (v, unit) in e2e.items():
        print(f"  {k} = {v:.6g} {unit}")
    print(f"  failed_share = {failed / attempted:.6g} ratio ({failed}/{attempted})")
    # reported, not bounded: on a loaded 4-core host the median sits among
    # sub-second operations whose latency moves 30-40% with host load, and
    # peak memory moves 20-40% between runs with the JVM's own heap sizing
    print(f"  latency_p50_s = {_median(lat):.6g} s")
    print(f"  peak_rss_mb = {peak_rss / 2**20:.6g} MB")
    by_name: dict = {}
    for r in records:
        by_name.setdefault(r[1], []).append(r[3])
    for name, xs in by_name.items():
        print(f"  op {name}: n={len(xs)} median={_median(xs):.3f} s max={max(xs):.3f} s")

    if traced:
        fold = spans.fold_event_log(os.path.join(run_dir, "eventlog"))
        for seq, name, _, latency, _, _ in records:
            o = fold[0].get(seq, {})
            print(f"  trace op {name}: jobs={o.get('jobs', 0):.0f} "
                  f"executor_run={o.get('executor_run_s', 0.0):.2f} s wall={latency:.2f} s")
        layer = spans.per_layer(records, tracer, fold, cpus, cpu1[0] - cpu0[0], cpu1[1] - cpu0[1])
        # the traced run's own end-to-end figures: against an untraced run
        # of the same seed they give the tracing overhead
        layer["mem.peak_rss_mb"] = (peak_rss / 2**20, "MB")
        layer["trace.ops_per_s"] = e2e["ops_per_s"]
        layer["trace.latency_p50_s"] = (_median(lat), "s")
        for k, (v, unit) in layer.items():
            print(f"  {k} = {v:.6g} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
