#!/usr/bin/env python3
"""icepack benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_churn --seed 1 --seconds 30 --trace 0

Run from the repository root. The run renders its inputs from the seed into
parquet, starts a Spark session sized to this host, builds the starting
tables, then runs the workload's fixed number of units of work (``UNITS``
in ``workloads.py``) in a closed loop: one client, the next unit after the
previous one returns. ``--seconds`` is part of the benchmark interface; the
unit count does not follow it, so that every run measures the same work,
about ``run_seconds`` of BENCHMARK.json on a 4-core host. The run checks every
result against a plain-Python model and prints each metric with its unit.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

The exit code is 0 when every check passed, 1 when a check failed and 2
when the engine package is not next to this directory.

Everything the run writes goes under ``.perfbench_work/`` in the working
directory; a JSON report of each run (host context, every metric, the
per-workload figures, failures) stays in
``.perfbench_work/reports/``, the spans of a traced run beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datastream_deltalake_connector_spark"
WORKLOAD_NAMES = ("cdc_churn", "bulk_maintenance")  # see workloads.py


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_probe() -> dict:
    """A fixed single-thread numpy probe and a 64 MB first-touch probe
    (page-fault cost, which moves with the VM's memory grant)."""
    import numpy as np

    a = np.random.default_rng(0).random((192, 192))
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = a
        for _ in range(30):
            x = np.tanh(x @ a / 192)
        walls.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    np.ones(2**23)  # 64 MB, touched once
    return {"numpy_s": statistics.median(walls), "touch_64mb_s": time.perf_counter() - t0}


def host_context() -> dict:
    """nproc, RAM, load and probes: context for reading a run's numbers on
    a shared host, not a gated metric."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": mem_kb / 2**20,
        "load1": load1,
        "probe_start": host_probe(),
        "cpu_times_start": _cpu_times(),
    }


def close_host_context(host: dict) -> None:
    """Add the end-of-run probe and the share of CPU time the hypervisor
    stole during the run (the 8th field of /proc/stat's cpu line)."""
    host["probe_end"] = host_probe()
    delta = [b - a for a, b in zip(host.pop("cpu_times_start"), _cpu_times())]
    host["steal_share"] = delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0


def start_session(work: str, cores: int, mem_total_gb: float, trace: bool):
    from datastream_deltalake_connector_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers are forked by the JVM and import the engine by module
    # path (mapInPandas, UDFs): sys.path alone does not reach them.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the short-lived JVM spark-submit starts to build the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # a quarter of the machine's RAM, at most 8 GB: the session's 24 GB
    # default overcommits small hosts
    heap_mb = min(8192, int(mem_total_gb * 1024 / 4))
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # The whole heap up front: with a growing heap, peak RSS follows
        # when G1 happens to expand it and varies by 20% between runs.
        # -UsePerfData: no hsperfdata file in the system temp directory.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # the zstd default needs a module this host does not have
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    return get_spark(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=cores,
        driver_memory=f"{heap_mb}m",
        extra_conf=conf,
    )


def peak_rss_mb(spark) -> dict:
    """High-water resident set of this driver process and of the JVM."""

    def hwm_mb(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024

    return {"driver": hwm_mb("self"), "jvm": hwm_mb(spark.sparkContext._gateway.proc.pid)}


def _process_tree(root: int) -> dict[int, str]:
    """Every process below ``root``, by pid, with its start time (field 22
    of /proc/<pid>/stat), which tells a pid apart from a later reuse."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while we looked
        children.setdefault(int(fields[1]), []).append((int(d), fields[19]))
    tree: dict[int, str] = {}
    todo = [root]
    while todo:
        for pid, start in children.get(todo.pop(), []):
            if pid not in tree:
                tree[pid] = start
                todo.append(pid)
    return tree


def _running(pid: int, start: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[19] == start and fields[0] not in ("Z", "X")


def stop_processes(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM behind it, then wait until every
    process this run started (the JVM, Python workers and their daemon)
    has ended, killing what is still there after ``timeout_s``. Called on
    every way out of a run, ``spark`` is None when the session never
    started."""
    tree = _process_tree(os.getpid())
    if spark is not None:
        gateway = spark.sparkContext._gateway
        try:
            spark.stop()
        except Exception as exc:  # e.g. a call cut by SIGTERM; the JVM still goes below
            print(f"spark.stop() failed: {exc!r}", file=sys.stderr)
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + timeout_s
    killed = False
    while alive := [pid for pid, start in tree.items() if _running(pid, start)]:
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} outlived SIGKILL")
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.05)


def run(args) -> dict:
    from tracing import UNIT, NullTracer, Tracer, instrument, layer_metrics, read_event_log
    from workloads import WORKLOADS

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = host_context()
    cores = host["nproc"]

    out: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host}
    e2e: dict = {}
    layer: dict = {}
    details: dict = {}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores, host["mem_total_gb"], args.trace)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark) if args.trace else NullTracer()
        if args.trace:
            instrument(tracer)
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, cores)

        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0

        build_s = []
        for k in range(wl.BUILDS):
            t0 = time.perf_counter()
            wl.build(k)
            build_s.append(time.perf_counter() - t0)
            shutil.rmtree(wl.path("tables", f"b{k - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0

        unit_s: list[float] = []
        failed = 0
        for _ in range(wl.UNITS):  # closed loop: one client, back to back
            wl.before_unit()
            t0 = time.perf_counter()
            try:
                with tracer.span(UNIT, workload=args.workload):
                    wl.unit()
            except Exception as exc:  # an op that raises counts as failed
                unit_s.append(time.perf_counter() - t0)
                failed += 1
                wl.fail(f"unit {len(unit_s)} raised {type(exc).__name__}: {exc}")
                break
            unit_s.append(time.perf_counter() - t0)
            failed += not wl.after_unit()
        e2e["setup_s"] = (session_s + statistics.median(build_s) + warm_s, "s")
        if failed == 0:
            wl.check()
            e2e.update(wl.metrics())
        rss = peak_rss_mb(spark)
        e2e["peak_rss_mb"] = (sum(rss.values()), "MB")
        if args.trace and failed == 0:
            us = wl.kernel_us_per_image()
            layer["functions.decode_phash.us_per_image"] = us
            layer["functions.udf_boundary_s"] = wl.udf_boundary_s(wl.probe_table(), us)
    finally:
        stop_processes(spark)

    if args.trace:
        spans = tracer.spans
        m, details = layer_metrics(spans, read_event_log(os.path.join(work, "eventlog")))
        layer.update(m)
        if details["tiling_error_s"] > 1e-6:
            wl.fail(f"self times do not tile the unit wall time: {details['tiling_error_s']} s off")
        with open(_report_path(args, "spans"), "w") as f:
            json.dump(spans, f)
    shutil.rmtree(work, ignore_errors=True)
    close_host_context(host)

    out.update(
        attempted=len(unit_s),
        failed=failed,
        correct=not wl.failures,
        failures=wl.failures[:20],
        gen_s=gen_s,
        session_s=session_s,
        build_s=build_s,
        warm_s=warm_s,
        rss_mb=rss,
        unit_s=unit_s,
        end_to_end={k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        figures={k: {"value": v, "unit": u} for k, (v, u) in wl.figures.items()},
        per_layer=layer,
        trace_details=details,
    )
    return out


def _report_path(args, kind: str) -> str:
    d = os.path.join(ROOT, ".perfbench_work", "reports")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}-seed{args.seed}-trace{args.trace}-{kind}.json")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE}/ not found next to {HERE}", file=sys.stderr)
        return 2
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"  # before numpy loads: one BLAS thread per process
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still unwinds through stop_processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    out = run(args)
    with open(_report_path(args, "report"), "w") as f:
        json.dump(out, f, indent=1, default=str)

    h = out["host"]
    print(
        f"# {out['workload']} seed={out['seed']} trace={out['trace']} "
        f"nproc={h['nproc']} mem_gb={h['mem_total_gb']:.1f} load1={h['load1']:.2f} "
        f"steal={h['steal_share']:.3f} probe_start={h['probe_start']} probe_end={h['probe_end']}"
    )
    print(
        f"# gen_s={out['gen_s']:.3f} (not in setup_s)  session_s={out['session_s']:.3f}  "
        f"build_s={out['build_s']} warm_s={out['warm_s']:.3f}  "
        f"units={out['attempted']} failed={out['failed']} unit_s={out['unit_s']}"
    )
    for section in ("end_to_end", "figures"):
        for k, v in out[section].items():
            print(f"{section:10s} {k:28s} {v['value']:.6g} {v['unit']}")
    for k, v in out["per_layer"].items():
        print(f"per_layer  {k:40s} {v:.6g}")
    for msg in out["failures"]:
        print(f"# FAILED: {msg}")

    if args.trace:
        from tracing import layer_unit

        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in out["per_layer"].items()}
    else:
        metrics = out["end_to_end"]
    print(
        json.dumps(
            {
                "correct": out["correct"],
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
