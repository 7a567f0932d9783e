"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The first run builds the generated
tables and their DuckDB answers under ``.bench_build/perfbench``; every
run then works in a fresh directory there and removes it on exit.  The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The exit
code is 1 when any operation failed or returned a wrong result.
"""

from __future__ import annotations

import argparse
import fcntl
import functools
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")

#: Every metric the benchmark prints, with its unit.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.load_table.calls": "count",
    "sources.load_table_s": "s",
    "sources.exact_scan_rows.calls": "count",
    "sources.spread.calls": "count",
    "sources.read_headerless_csv_s": "s",
    "sources.write_parquet_s": "s",
    "sources.bytes_written": "bytes",
    "sources.bytes_written_per_input_byte": "ratio",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_jobs": "count",
    "operators.pq_s": "s",
    "operators.pq.calls": "count",
    "operators.sketches_s": "s",
    "operators.sketches.calls": "count",
    "operators.etl_s": "s",
    "operators.upsert_s": "s",
    "operators.pipeline_s": "s",
    "streaming.stream_upsert_to_snapshot_s": "s",
    "streaming.batches": "count",
    "dashboard.filter_options_s": "s",
    "dashboard.kpis_s": "s",
    "dashboard.vehicles_by_make_s": "s",
    "dashboard.counts_by_city_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.core_idle_frac": "ratio",
    "spark.cached_rdds_end": "count",
    "spark.cached_bytes_end": "bytes",
    "spark.gc_s": "s",
    "spark.peak_exec_mem_bytes": "bytes",
    "spark.python_rows": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_failures": "count",
    "host.steal_frac": "ratio",
    "bench.pass_s": "s",
    "bench.query_cpu_p50_s": "s",
    "bench.query_p50_s": "s",
    "bench.query_p90_s": "s",
    "bench.peak_rss_mb": "MB",
    "bench.failed_frac": "ratio",
    "bench.traced_pass_s": "s",
    "bench.trace_overhead_s": "s",
    "bench.dashboard_p50_s": "s",
    "bench.load_rows_per_s": "1/s",
    "bench.upsert_batch_p50_s": "s",
    "bench.stored_bytes_per_input_byte": "ratio",
}


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- host sizing and process environment --------------------------------


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory_mb() -> int:
    """A quarter of physical RAM, between 1 GiB and 8 GiB: the JVM is
    the only engine process, and the host is shared."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return max(1024, min(8192, ram_mb // 4))


def _configure_env(run_dir: str) -> None:
    """Point every writer of the driver, JVM and Python workers into
    ``run_dir`` before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = f"{_driver_memory_mb()}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}"
    # the launcher JVM that spark-submit starts first to build the command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"--conf 'spark.driver.extraJavaOptions={java_opts}'",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


# -- build: generated tables and their DuckDB answers -------------------


def _build_key(workloads) -> str:
    """Changes with the generators, the oracle rule and the scales."""
    h = hashlib.sha256(repr(workloads.SCALES).encode())
    for name in ("datagen.py", "oracle.py", "workloads.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _ensure_build(workloads) -> dict:
    """Generate the tables and DuckDB answers once per checkout."""
    from perfbench import datagen, oracle

    os.makedirs(BUILD_DIR, exist_ok=True)
    key = _build_key(workloads)
    done = os.path.join(BUILD_DIR, key, "build.pkl")
    with open(os.path.join(BUILD_DIR, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(done):
            from week4_musemotion_spark.queries import REGISTRY

            build = {"data": {}, "answers": {}}
            for wl, sf in workloads.SCALES.items():
                sf_dir = os.path.join(BUILD_DIR, key, f"sf{sf}")
                datagen.write_tables(sf, sf_dir)
                build["data"][wl] = sf_dir
            queries = {"sql_interactive": workloads.SQL_QUERIES, "curation_batch": workloads.CURATION_QUERIES}
            for wl, names in queries.items():
                oracles = {n: REGISTRY[n].oracle for n in names}
                build["answers"].update(oracle.answers(build["data"][wl], oracles))
            with open(done + ".part", "wb") as fh:
                pickle.dump(build, fh)
            os.replace(done + ".part", done)
    with open(done, "rb") as fh:
        return pickle.load(fh)


# -- measurements from the host -----------------------------------------


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def _quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _proc_cpu_s(pid: int | str) -> float:
    """CPU seconds of a process plus its reaped children, from /proc."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(f) for f in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def _engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and every Python
    worker below it: the work a pass costs, whatever the host's steal."""
    return sum(_proc_cpu_s(p) for p in ("self", jvm_pid, *_descendants(jvm_pid)))


def _storage(spark) -> tuple[int, int]:
    """(persistent RDD count, bytes held in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return jsc.getPersistentRDDs().size(), sum(i.memSize() + i.diskSize() for i in infos)


# -- the run ------------------------------------------------------------


def _descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.add(child)
            todo.append(child)
    return out


def _shutdown_jvm() -> None:
    """Close the gateway, wait for the JVM to exit, then for the Python
    workers it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else set()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)


def _setup(wl, cycles: int) -> tuple[object, list[float]]:
    """Start the session and register inputs ``cycles`` times; returns the
    last session, for the passes, and each cycle's seconds."""
    from pyspark import SparkContext

    from week4_musemotion_spark import session

    spark, times = None, []
    for _ in range(cycles):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        wl.register(spark)
        times.append(time.perf_counter() - t0)
        wl.ctx.cpu = functools.partial(_engine_cpu_s, SparkContext._gateway.proc.pid)
    return spark, times


def _passes(wl, spark, k: int, label: str, history: list) -> tuple[list[float], list[float], list, list]:
    """``k`` timed passes: (wall seconds, CPU seconds, operations,
    epoch-ms windows)."""
    secs, cpus, ops, windows = [], [], [], []
    for i in range(k):
        w0 = time.time() * 1e3
        t0, c0 = wl.ctx.now()
        got = wl.run_pass(spark, f"{label}{i}", check=False)
        t1, c1 = wl.ctx.now()
        secs.append(t1 - t0)
        cpus.append(c1 - c0)
        windows.append((w0, time.time() * 1e3))
        ops += got
        history.append((f"{label}{i}", *_storage(spark)))
    return secs, cpus, ops, windows


def run(args, build: dict, run_dir: str, tracer) -> dict:
    from perfbench import workloads

    wl = workloads.WORKLOADS[args.workload](workloads.Context(args.seed, build, run_dir))
    t0 = time.perf_counter()
    wl.make_inputs()
    t1 = time.perf_counter()
    spark, setup_times = _setup(wl, workloads.SETUP_CYCLES)
    history: list = []
    t2 = time.perf_counter()
    warm = wl.run_pass(spark, "warm", check=True)
    history.append(("warm", *_storage(spark)))
    print(f"perfbench: inputs {t1 - t0:.2f}s, setups {[round(t, 2) for t in setup_times]}, "
          f"warm pass {time.perf_counter() - t2:.2f}s", file=sys.stderr)
    k = max(1, round(args.seconds / workloads.NOMINAL_PASS_S))
    ticks0 = _cpu_ticks()
    secs, cpus, ops, _ = _passes(wl, spark, k, "timed", history)
    ticks1 = _cpu_ticks()
    print(f"perfbench: timed passes {[round(t, 2) for t in secs]}; "
          + ", ".join(f"{o.name} {o.seconds:.2f}" for o in ops), file=sys.stderr)
    latencies = [o.seconds for o in ops if o.kind in workloads.QUERY_KINDS]
    metrics = {
        "setup_s": statistics.median(setup_times),
        "pass_cpu_s": statistics.median(cpus),
    }
    all_ops = warm + ops
    if args.trace:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        layers, traced_ops, spans = _traced(wl, spark, tracer, k, history, run_dir)
        all_ops += traced_ops
        metrics = {
            **layers,
            **wl.extra(ops),
            "host.steal_frac": steal,
            "bench.pass_s": statistics.median(secs),
            "bench.query_cpu_p50_s": statistics.median(o.cpu_s for o in ops if o.kind in workloads.CPU_KINDS),
            "bench.query_p50_s": statistics.median(latencies),
            "bench.query_p90_s": _quantile(latencies, 0.9),
            "bench.peak_rss_mb": (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024,
            "bench.trace_overhead_s": layers["bench.traced_pass_s"] - statistics.median(secs),
        }
    else:
        spark.stop()
    failed = sum(not o.ok for o in all_ops)
    print("history " + json.dumps({"workload": args.workload, "passes": [
        {"pass": p, "persistent_rdds": n, "storage_bytes": b} for p, n, b in history]}))
    units = PER_LAYER if args.trace else END_TO_END
    if args.trace:
        metrics["bench.failed_frac"] = failed / len(all_ops)
        values = {n: float(metrics.get(n, 0.0)) for n in units}
        _write_trace(args.workload, values, history, spans)
    else:
        values = {n: float(metrics[n]) for n in units}
    return {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }


def _traced(wl, spark, tracer, k, history, run_dir) -> tuple[dict, list, list]:
    """Restart with the event log on and spans recording, time ``k``
    traced passes; return (per-layer metrics, operations, spans)."""
    from perfbench import eventlog
    from perfbench.spans import layer_metrics

    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    jvm = spark.sparkContext._jvm
    spark.stop()
    # read by the SparkConf of the next context in this JVM
    for key, value in (("spark.eventLog.enabled", "true"), ("spark.eventLog.dir", "file://" + log_dir),
                       ("spark.eventLog.compress", "false"), ("spark.eventLog.rolling.enabled", "false")):
        jvm.java.lang.System.setProperty(key, value)
    tracer.enabled = True
    spark, _ = _setup(wl, 1)
    tracer.enabled = False
    wl.prime(spark)
    get_spark_s = sum(e - s for n, s, e, _ in tracer.spans if n == "session.get_spark")
    tracer.spans.clear()
    tracer.enabled = wl.ctx.traced = True
    secs, _, ops, windows = _passes(wl, spark, k, "traced", history)
    tracer.enabled = wl.ctx.traced = False
    rdds, cached = _storage(spark)
    spark.stop()
    (log,) = os.listdir(log_dir)
    events = eventlog.read_events(os.path.join(log_dir, log))
    shutil.copy(os.path.join(log_dir, log), os.path.join(BUILD_DIR, f"trace-{wl.name}.eventlog"))
    m, group_jobs = eventlog.summarize(events, windows, _cores())
    per = 1.0 / k
    out = {key: v if key in ("spark.core_idle_frac", "spark.peak_exec_mem_bytes") else v * per
           for key, v in m.items()}
    out.update(layer_metrics(tracer.spans, k))
    input_bytes = wl.input_bytes()
    out.update({
        "session.get_spark_s": get_spark_s,
        "sources.bytes_written": out["spark.output_bytes"],
        "sources.bytes_written_per_input_byte": out["spark.output_bytes"] / input_bytes if input_bytes else 0.0,
        "queries.build_s": wl.ctx.build_s * per,
        "queries.exec_s": wl.ctx.exec_s * per,
        "queries.build_jobs": group_jobs.get("build", 0) * per,
        "queries.exec_jobs": group_jobs.get("exec", 0) * per,
        "streaming.stream_upsert_to_snapshot_s": sum(o.seconds for o in ops if o.kind == "stream") * per,
        "streaming.batches": sum(1 for o in ops if o.kind == "merge") * per,
        "spark.cached_rdds_end": rdds,
        "spark.cached_bytes_end": cached,
        "bench.traced_pass_s": statistics.median(secs),
    })
    return out, ops, list(tracer.spans)


def _write_trace(workload: str, metrics: dict, history: list, spans: list) -> None:
    """Keep the traced run's spans and metrics beside its event log."""
    t0 = min((s for _, s, _, _ in spans), default=0.0)
    doc = {
        "workload": workload,
        "metrics": metrics,
        "history": history,
        "spans": [{"name": n, "start_s": s - t0, "duration_s": e - s, "parents": list(p)}
                  for n, s, e, p in spans],
    }
    with open(os.path.join(BUILD_DIR, f"trace-{workload}.json"), "w") as fh:
        json.dump(doc, fh, indent=1)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    from importlib.util import find_spec

    if find_spec("week4_musemotion_spark") is None or find_spec("tools.check_correctness") is None:
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tracer = None
    if args.trace:
        from perfbench.spans import Tracer

        tracer = Tracer()
        tracer.install()
    build = _ensure_build(workloads)
    run_dir = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        _configure_env(run_dir)
        result = run(args, build, run_dir, tracer)
    finally:
        _shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
