"""Spans around the engine's public entry points, and the per-layer numbers
derived from them and from Spark's event log.

Everything here works from outside the engine: ``instrument`` replaces the
public operator functions at every module that imported them, and the
``IcepackTable`` / ``IcepackSQL`` methods on their classes, with wrappers
that record a span (name, start, end, parent). Spans stay in memory until
the run ends. Root spans opened by the benchmark itself (one per timed
unit of work) also add a Spark job tag, so the event log can be split per
unit.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "datastream_deltalake_connector_spark"

# (function, module under the package) for each operator entry point.
OPERATORS = [
    ("merge_into_table", "operators.table_merge"),
    ("merge_into_table_mor", "operators.mor"),
    ("maybe_apply_deletes", "operators.mor"),
    ("apply_deletes", "operators.mor"),
    ("compact", "operators.compaction"),
    ("cluster", "operators.clustering"),
    ("table_changes", "operators.changes"),
    ("latest_by_keys", "operators.dedup"),
    ("prune_candidates", "operators.table_merge"),
]
TABLE_METHODS = ["files", "commit", "scan", "write_data_files", "collect_file_entries"]

UNIT = "unit"  # name of the benchmark's root span around one timed unit


class Tracer:
    """In-memory span recorder. Spans opened on threads other than the one
    that created the tracer (the engine's own thread pools) hang under the
    client thread's open span and are marked ``side``: they overlap their
    siblings, so they count towards a layer's busy time but not towards the
    client's self-time tiling."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._client = threading.get_ident()
        self._client_stack: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._units = 0

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._client:
            return self._client_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        side = threading.get_ident() != self._client
        if stack:
            parent = stack[-1]["id"]
        elif side and self._client_stack:
            parent = self._client_stack[-1]["id"]
        else:
            parent = None
        rec = {"name": name, "parent": parent, "side": side, "attrs": attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        tag = None
        if name == UNIT:
            self._units += 1
            tag = f"perfbench-u{self._units}x"
            rec["tag"] = tag
            self.spark.addTag(tag)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if tag is not None:
                self.spark.removeTag(tag)


class NullTracer:
    """Stand-in when tracing is off: the same ``span`` interface, no records."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield {"attrs": attrs}


def _wrap(tracer: Tracer, name: str, fn, record=None):
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            if record is None:
                return fn(*args, **kwargs)
            bound = sig.bind(*args, **kwargs)
            for k in ("added", "removed_paths"):  # commit takes iterables
                if k in bound.arguments:
                    bound.arguments[k] = list(bound.arguments[k])
            out = fn(*bound.args, **bound.kwargs)
            record(rec["attrs"], bound.arguments, out)
            return out

    return wrapper


def _record_files(attrs, _args, out):
    attrs["entries"] = len(out)
    attrs["deletes"] = sum(1 for e in out if e.content != "data")


def _record_commit(attrs, args, _out):
    attrs["added_bytes"] = sum(e.bytes for e in args.get("added", ()))
    attrs["rewritten"] = (args.get("summary") or {}).get("rewritten_files", 0)


def _record_prune(attrs, args, out):
    attrs["considered"] = len(args["entries"])
    attrs["kept"] = len(out[0])


def instrument(tracer: Tracer) -> None:
    """Wrap every operator entry point at each of its import sites, the
    ``IcepackTable`` methods and ``IcepackSQL.execute``."""
    import importlib

    from datastream_deltalake_connector_spark.sql import IcepackSQL
    from datastream_deltalake_connector_spark.table.icepack import IcepackTable

    wrappers = {}  # id(original function) -> its wrapper
    for op, mod in OPERATORS:
        fn = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), op)
        record = _record_prune if op == "prune_candidates" else None
        wrappers[id(fn)] = _wrap(tracer, f"operators.{op}", fn, record)
    for name, module in list(sys.modules.items()):
        if module is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, value in list(vars(module).items()):
            if callable(value) and id(value) in wrappers:
                setattr(module, attr, wrappers[id(value)])

    recorders = {"files": _record_files, "commit": _record_commit}
    for meth in TABLE_METHODS:
        fn = getattr(IcepackTable, meth)
        setattr(IcepackTable, meth, _wrap(tracer, f"table.{meth}", fn, recorders.get(meth)))
    IcepackSQL.execute = _wrap(tracer, "sql.execute", IcepackSQL.execute)


def layer_unit(metric: str) -> str:
    """Unit of a per-layer metric, from its name's last part."""
    last = metric.rsplit(".", 1)[1]
    if last == "s" or last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "B"
    return {"kept_frac": "ratio", "us_per_image": "us"}.get(last, "count")


# ------------------------------------------------------------ span algebra
def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SpanTree:
    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    def dur(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children.get(s["id"], ()) if not c["side"]]
        return self.dur(s) - _union(kids)

    def descendants(self, s: dict):
        for c in self.children.get(s["id"], ()):
            yield c
            yield from self.descendants(c)

    def tiling_error(self, root: dict) -> float:
        """|root wall − Σ self time over the client-thread subtree|. Zero when
        every child span lies inside its parent and siblings do not
        overlap, i.e. when the self times tile the wall time."""
        total = self.self_time(root)
        for d in self.descendants(root):
            if d["side"]:
                continue
            parent = self.spans[d["parent"]]
            if d["start"] < parent["start"] - 1e-6 or d["end"] > parent["end"] + 1e-6:
                return float("inf")
            total += self.self_time(d)
        return abs(self.dur(root) - total)


# ------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the (uncompressed, non-rolling) event log, each with its
    tags, interval and summed task metrics."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "tags": tags,
                    "tasks": 0,
                    "run_s": 0.0,
                    "cpu_s": 0.0,
                    "gc_s": 0.0,
                    "shuffle_bytes": 0,
                    "spill_bytes": 0,
                    "input_bytes": 0,
                    "output_bytes": 0,
                }
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["run_s"] += m.get("Executor Run Time", 0) / 1e3
                j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                j["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                j["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for j in jobs.values():
        if j["end"] is None:  # job still open when the log closed
            j["end"] = j["start"]
    return list(jobs.values())


def jobs_by_unit(units: list[dict], jobs: list[dict]) -> tuple[dict[int, list[dict]], int]:
    """Assign each job to the unit whose tag it carries; a job without a
    unit tag (submitted from an engine thread the tag did not follow) goes
    to the unit whose interval holds its submission time. Returns the
    assignment and the number of jobs placed by time."""
    out: dict[int, list[dict]] = {u["id"]: [] for u in units}
    by_time = 0
    for j in jobs:
        owner = next((u for u in units if u["tag"] in j["tags"]), None)
        if owner is None:
            owner = next((u for u in units if u["start"] <= j["start"] <= u["end"]), None)
            if owner is not None:
                by_time += 1
        if owner is not None:
            out[owner["id"]].append(j)
    return out, by_time


# --------------------------------------------------------- layer metrics
def layer_metrics(spans: list[dict], jobs: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics over the timed units, normalised per unit where a
    count or a time accumulates, as a median per call for operator spans.
    Returns (metrics, details) where details holds what the check and the
    report need (tiling error, jobs placed by time)."""
    tree = SpanTree(spans)
    units = [s for s in spans if s["name"] == UNIT and s["parent"] is None]
    n = max(len(units), 1)
    under = [d for u in units for d in tree.descendants(u)]

    def named(name: str) -> list[dict]:
        return [s for s in under if s["name"] == name]

    def per_unit_s(name: str) -> float:
        return sum(tree.dur(s) for s in named(name)) / n

    def median(xs) -> float:
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    m: dict[str, float] = {}
    files = named("table.files")
    m["table.files.calls"] = len(files) / n
    m["table.files.s"] = per_unit_s("table.files")
    m["table.commit.calls"] = len(named("table.commit")) / n
    m["table.commit.s"] = per_unit_s("table.commit")
    m["table.manifest_entries"] = (
        sum(s["attrs"]["entries"] for s in files) / len(files) if files else 0.0
    )
    scans = named("table.scan")
    m["table.scan.s"] = per_unit_s("table.scan")
    # delete files each scan had to resolve, averaged over the unit's scans
    pending = [
        max(
            (d["attrs"]["deletes"] for d in tree.descendants(s) if d["name"] == "table.files"),
            default=0,
        )
        for s in scans
    ]
    m["table.pending_delete_files"] = statistics.mean(pending) if pending else 0.0
    m["table.write_data_files.s"] = per_unit_s("table.write_data_files")
    m["table.collect_file_entries.s"] = per_unit_s("table.collect_file_entries")
    m["table.bytes_written"] = sum(s["attrs"]["added_bytes"] for s in named("table.commit")) / n
    for op, _mod in OPERATORS:
        calls = named(f"operators.{op}")
        m[f"operators.{op}.s"] = median(tree.dur(s) for s in calls)
        m[f"operators.{op}.self_s"] = median(tree.self_time(s) for s in calls)
    prunes = named("operators.prune_candidates")
    considered = sum(s["attrs"]["considered"] for s in prunes)
    m["operators.prune.kept_frac"] = (
        sum(s["attrs"]["kept"] for s in prunes) / considered if considered else 0.0
    )
    applies = named("operators.apply_deletes")
    m["operators.apply_deletes.rewritten_files"] = median(
        sum(d["attrs"]["rewritten"] for d in tree.descendants(a) if d["name"] == "table.commit")
        for a in applies
    )
    m["sql.execute.s"] = median(tree.dur(s) for s in named("sql.execute"))
    m["sql.execute.self_s"] = median(tree.self_time(s) for s in named("sql.execute"))

    assigned, by_time = jobs_by_unit(units, jobs)
    all_jobs = [j for js in assigned.values() for j in js]
    m["spark.jobs"] = len(all_jobs) / n
    m["spark.tasks"] = sum(j["tasks"] for j in all_jobs) / n
    job_wall = [
        _union([(j["start"], min(j["end"], u["end"])) for j in assigned[u["id"]]])
        for u in units
    ]
    m["spark.job_wall_s"] = sum(job_wall) / n
    m["driver.gap_s"] = sum(tree.dur(u) - w for u, w in zip(units, job_wall)) / n
    for key, name in [
        ("run_s", "spark.executor_run_s"),
        ("cpu_s", "spark.executor_cpu_s"),
        ("gc_s", "spark.gc_s"),
        ("shuffle_bytes", "spark.shuffle_bytes"),
        ("spill_bytes", "spark.spill_bytes"),
        ("input_bytes", "spark.input_bytes"),
        ("output_bytes", "spark.output_bytes"),
    ]:
        m[name] = sum(j[key] for j in all_jobs) / n
    details = {
        "units": len(units),
        "spans": len(spans),
        "jobs_total": len(jobs),
        "jobs_in_units": len(all_jobs),
        "jobs_placed_by_time": by_time,
        "tiling_error_s": max((tree.tiling_error(u) for u in units), default=0.0),
    }
    return m, details
