"""The workloads. Each renders its inputs from the seed into parquet
(``generate``), builds its starting tables (``build``, ``warm_up``), runs a fixed number
of timed units of work (``unit``), checks the engine's results against the
plain-Python model in ``model.py`` and reports its end-to-end metrics
(``metrics``).

Why each workload exists (details in README.md):

* ``cdc_churn`` — sparse CDC micro-batches, the reference connector's
  steady state. Pixel work is nearly nil; the fixed per-merge floor (driver
  metadata, Spark job count, commit) dominates.
* ``bulk_maintenance`` — one maintenance chain over a 4,000-image table
  of larger images; bytes move through parquet I/O, shuffle, range
  repartition and the Arrow UDF boundary. Its SQL reads run while a
  delete file is pending, so a write-path gain that costs reads shows.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.functions.image import (
    decode_image_np,
    phash_np,
    phash_udf,
)
# Operators are called through their modules, not imported by name, so that
# the traced run's wrappers (tracing.instrument) are the ones called.
from datastream_deltalake_connector_spark.operators import changes, clustering, compaction, mor
from datastream_deltalake_connector_spark.operators import table_merge
from datastream_deltalake_connector_spark.operators.merge import SEQ_META, TS_META
from datastream_deltalake_connector_spark.sources.generator import (
    MERGED_IMAGE_SCHEMA,
    generate_change_batch,
    generate_images,
)
from datastream_deltalake_connector_spark.sql import IcepackSQL
from datastream_deltalake_connector_spark.table.catalog import Catalog
from datastream_deltalake_connector_spark.table.icepack import IcepackTable

from model import TableModel, read_rows

CHANGE_COLS = ["image_id", "bytes", "caption", "phash", "is_deleted", "source_timestamp", "change_seq"]
BASE_COLS = ["image_id", "bytes", "caption", "phash"]
TABLE = "images"  # the SQL name of the table the reads query


class Workload:
    """Shared plumbing; subclasses define the inputs, the unit and checks."""

    name = ""
    # Timed units per run. The count is fixed rather than "as many as fit
    # in --seconds": both sides of a comparison must measure the same work,
    # at the same points of the delete-apply cycle.
    UNITS: int
    BUILDS = 3  # set-up builds per run; setup_s takes their median

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.failures: list[str] = []  # messages of failed checks
        self.figures: dict[str, tuple[float, str]] = {}  # per-workload detail, not gated

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def build(self, k: int) -> None:
        """Build the starting tables afresh under ``tables/b<k>``; set-up
        runs this ``BUILDS`` times and keeps the last."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Set-up work done once, after the builds."""

    def before_unit(self) -> None:
        pass

    # -------------------------------------------------------- input helpers
    def render_images(self, n: int, min_px: int, max_px: int, dest: str) -> None:
        generate_images(self.spark, n, seed=self.seed, min_px=min_px, max_px=max_px).write.parquet(
            dest
        )

    def render_batches(self, n_base: int, count: int, mix: tuple[int, int, int], dest: str) -> None:
        """``count`` CDC batches of (updates, inserts, deletes) over a
        ``n_base``-image table, one parquet directory per batch."""
        upd, ins, dele = mix
        batches = [
            generate_change_batch(
                self.spark, n_base, b, upd, ins, dele, seed=self.seed, num_partitions=1
            ).withColumn("batch", F.lit(b))
            for b in range(count)
        ]
        reduce(DataFrame.unionByName, batches).write.partitionBy("batch").parquet(dest)

    def batch_dir(self, b: int) -> str:
        return os.path.join(self.batch_src, f"batch={b}")

    def batch_bytes(self, b: int) -> int:
        return dir_bytes(self.batch_dir(b))

    def base_frame(self) -> DataFrame:
        return self.spark.read.parquet(self.base_src).select(
            "*",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(TS_META),
            F.lit(0).cast("long").alias(SEQ_META),
        )

    # ------------------------------------------------------------- checks
    def check_scan(self, label: str, t: IcepackTable, model: TableModel) -> None:
        """A full scan equals the model row for row: duplicates count."""
        rows = t.scan(columns=["image_id", "caption", "phash"]).collect()
        got = sorted((r.image_id, r.caption, r.phash) for r in rows)
        want = model.triples()
        if got != want:
            extra, missing = set(got) - set(want), set(want) - set(got)
            self.fail(
                f"{label} scan differs from the model: {len(got)} rows against {len(want)}, "
                f"{len(extra)} unexpected, {len(missing)} missing"
            )

    # ------------------------------------------------ per-layer: functions
    def kernel_us_per_image(self, sample: int = 256) -> float:
        """decode + phash in this process on a fixed sample of the inputs —
        the codec compute without Spark or Arrow around it."""
        blobs = [r["bytes"] for r in read_rows(self.base_src, ["bytes"])[:sample]]
        per_pass = []
        for _ in range(3):
            t0 = time.perf_counter()
            for b in blobs:
                phash_np(decode_image_np(b))
            per_pass.append((time.perf_counter() - t0) / len(blobs) * 1e6)
        return statistics.median(per_pass)

    def udf_boundary_s(self, t: IcepackTable, us_per_image: float) -> float:
        """Full scan with decode+phash minus the same scan without it, minus
        the kernel's share of the difference (its per-image cost spread over
        the cores): what the Python UDF boundary itself costs."""

        def timed(cols) -> tuple[float, int]:
            walls = []
            for _ in range(3):
                t0 = time.perf_counter()
                row = t.scan().select(F.count(F.lit(1)).alias("n"), *cols).collect()[0]
                walls.append(time.perf_counter() - t0)
            return statistics.median(walls), row["n"]

        with_udf, n = timed([F.bit_xor(phash_udf("bytes"))])
        plain, _ = timed([F.sum(F.length("bytes"))])
        return with_udf - plain - n * us_per_image * 1e-6 / self.cores


class CdcChurn(Workload):
    """Sparse CDC micro-batches applied copy-on-write to one clone of the
    table and merge-on-read, with the auto-apply policy, to another.

    Set-up merges a warm-up batch into both copies, so the MoR copy starts
    the timed batches with 1 pending delete file. The timed batches take it
    to 4, and the last one applies them: every run holds exactly one apply,
    at the same place."""

    name = "cdc_churn"
    N_IMAGES, MIN_PX, MAX_PX, FILES = 4000, 32, 64, 16
    MIX = (20, 10, 10)  # updates, inserts, deletes per batch
    MAX_DELETE_FILES = 4
    UNITS = MAX_DELETE_FILES - 1  # timed batches after the warm-up batch

    def generate(self) -> None:
        self.base_src = self.path("inputs", "base")
        self.batch_src = self.path("inputs", "batches")
        self.render_images(self.N_IMAGES, self.MIN_PX, self.MAX_PX, self.base_src)
        self.render_batches(self.N_IMAGES, 1 + self.UNITS, self.MIX, self.batch_src)
        self.model = TableModel(read_rows(self.base_src, BASE_COLS))

    def build(self, k: int) -> None:
        base = IcepackTable.create(
            self.spark, self.path("tables", f"b{k}", "base"), MERGED_IMAGE_SCHEMA, bloom_cols=["image_id"]
        )
        base.append(self.base_frame(), num_files=self.FILES)
        self.cow = base.clone(self.path("tables", f"b{k}", "cow"))
        self.mor = base.clone(self.path("tables", f"b{k}", "mor"))

    def warm_up(self) -> None:
        self.cow_s, self.mor_s, self.batch_s = [], [], []
        self.cow_bytes = self.mor_bytes = self.change_bytes = 0
        self.next_batch = 0
        self.merge_batch()  # the warm-up batch
        if self.pending() != 1:
            self.fail(f"set-up left {self.pending()} delete files pending, not 1")

    def pending(self) -> int:
        return sum(1 for e in self.mor.files() if e.content != "data")

    def merge_batch(self) -> tuple[float, float]:
        """The next batch into the CoW copy, then into the MoR copy and
        through the apply policy; the wall time of each path."""
        b = self.next_batch
        self.next_batch += 1
        t0 = time.perf_counter()
        v_cow = table_merge.merge_into_table(self.cow, self.spark.read.parquet(self.batch_dir(b)))
        t1 = time.perf_counter()
        v_mor = mor.merge_into_table_mor(self.mor, self.spark.read.parquet(self.batch_dir(b)))
        mor.maybe_apply_deletes(self.mor, max_delete_files=self.MAX_DELETE_FILES)
        t2 = time.perf_counter()
        self.model.apply_batch(read_rows(self.batch_dir(b), CHANGE_COLS))
        if v_cow is None or v_mor is None:
            self.fail(f"batch {b}: a merge committed nothing")
        return t1 - t0, t2 - t1

    def before_unit(self) -> None:
        self.heads = (self.cow.head_version(), self.mor.head_version())

    def unit(self) -> None:
        self.split = self.merge_batch()

    def after_unit(self) -> bool:
        failed_before = len(self.failures)
        self.cow_s.append(self.split[0])
        self.mor_s.append(self.split[1])
        self.batch_s.append(sum(self.split))
        self.cow_bytes += added_bytes(self.cow, self.heads[0])
        self.mor_bytes += added_bytes(self.mor, self.heads[1])
        self.change_bytes += self.batch_bytes(self.next_batch - 1)
        return len(self.failures) == failed_before

    def check(self) -> None:
        if self.pending() != 0:
            self.fail(f"{self.pending()} delete files pending after the apply batch")
        self.check_scan("CoW", self.cow, self.model)
        self.check_scan("MoR", self.mor, self.model)

    def metrics(self) -> dict[str, tuple[float, str]]:
        changes_s = sum(self.batch_s)
        self.figures.update(
            merge_cow_s_p50=(statistics.median(self.cow_s), "s"),
            merge_mor_s_p50=(statistics.median(self.mor_s), "s"),
            apply_batch_mor_s=(self.mor_s[-1], "s"),
            changes_per_s=(sum(self.MIX) * len(self.batch_s) / changes_s, "1/s"),
            write_amp_cow=(self.cow_bytes / self.change_bytes, "ratio"),
            write_amp_mor=(self.mor_bytes / self.change_bytes, "ratio"),
        )
        return {
            "op_s": (statistics.mean(self.batch_s), "s"),
            "write_amp": ((self.cow_bytes + self.mor_bytes) / (2 * self.change_bytes), "ratio"),
        }

    def probe_table(self) -> IcepackTable:
        return self.cow


class BulkMaintenance(Workload):
    """Set-up appends the table; the one timed unit is the maintenance
    chain on it: compact, a CoW merge of a uniform 10% batch, a MoR merge
    of a second one, a round of SQL reads while its delete file is
    pending, apply_deletes, the change feed, Z-order clustering and three
    decode+phash scans."""

    name = "bulk_maintenance"
    N_IMAGES, MIN_PX, MAX_PX, FILES = 4000, 48, 96, 32
    UNITS = 1
    WRITE_STEPS = ("compact", "merge_cow", "merge_mor", "apply_deletes", "table_changes", "cluster")
    SCANS = ("scan0", "scan1", "scan2")

    def generate(self) -> None:
        n_changes = self.N_IMAGES // 10
        self.base_src = self.path("inputs", "base")
        self.batch_src = self.path("inputs", "batches")
        self.render_images(self.N_IMAGES, self.MIN_PX, self.MAX_PX, self.base_src)
        self.render_batches(
            self.N_IMAGES, 2, (n_changes // 2, n_changes // 4, n_changes // 4), self.batch_src
        )
        self.read_s: list[float] = []
        self.append_s: list[float] = []
        self.model_v0 = TableModel(read_rows(self.base_src, BASE_COLS))
        self.model = self.model_v0.copy()
        batches = [read_rows(self.batch_dir(b), CHANGE_COLS) for b in range(2)]
        self.feed_rows = sum(self.model.apply_batch(rows) for rows in batches)
        self.want_rows, self.want_xor = len(self.model.rows), self.model.phash_xor()
        self.read_plan = ReadPlan(
            random.Random(self.seed), self.model_v0, self.model, [r["image_id"] for b in batches for r in b]
        )

    def build(self, k: int) -> None:
        warehouse = self.path("tables", f"b{k}")
        self.sql = IcepackSQL(self.spark, Catalog(self.spark, warehouse))
        self.table = IcepackTable.create(
            self.spark, os.path.join(warehouse, TABLE), MERGED_IMAGE_SCHEMA
        )
        t0 = time.perf_counter()
        self.table.append(self.base_frame(), num_files=self.FILES)
        self.append_s.append(time.perf_counter() - t0)

    def read_round(self) -> list[tuple]:
        """One round of the four read shapes through ``IcepackSQL``; each
        statement is timed on its own. Returns (read, rows) pairs."""
        out = []
        for read in self.read_plan.round():
            t0 = time.perf_counter()
            rows = self.sql.execute(read.sql(self.v_pre)).collect()
            self.read_s.append(time.perf_counter() - t0)
            out.append((read, rows))
        return out

    def unit(self) -> None:
        spark, t = self.spark, self.table
        steps: dict[str, float] = {}

        def step(name, fn):
            t0 = time.perf_counter()
            out = fn()
            steps[name] = time.perf_counter() - t0
            return out

        step("compact", lambda: compaction.compact(t))
        self.v_pre = t.head_version()
        b0, b1 = (spark.read.parquet(self.batch_dir(b)) for b in range(2))
        step("merge_cow", lambda: table_merge.merge_into_table(t, b0))
        step("merge_mor", lambda: mor.merge_into_table_mor(t, b1))
        self.v_reads = t.head_version()
        self.reads = step("sql_reads", self.read_round)
        step("apply_deletes", lambda: mor.apply_deletes(t))
        self.v_applied = t.head_version()
        self.feed = step(
            "table_changes", lambda: changes.table_changes(t, self.v_pre, key="image_id").count()
        )
        step("cluster", lambda: clustering.cluster(t, curve="zorder", num_files=2 * self.cores))
        self.scans = [
            step(
                name,
                lambda: t.scan()
                .select(F.count(F.lit(1)).alias("n"), F.bit_xor(phash_udf("bytes")).alias("x"))
                .collect()[0],
            )
            for name in self.SCANS
        ]
        self.steps = steps

    def after_unit(self) -> bool:
        failed_before = len(self.failures)
        for read, rows in self.reads:
            # one delete file pending during the reads: the MoR merge's
            got, want = read.result(rows), read.want(self.v_reads, pending=1)
            if got != want:
                self.fail(f"{read.sql(self.v_pre)!r} returned {got!r}, model {want!r}")
        for row in self.scans:
            if (row["n"], row["x"]) != (self.want_rows, self.want_xor):
                self.fail(
                    f"scan gave {row['n']} rows, xor {row['x']}; "
                    f"model {self.want_rows} rows, xor {self.want_xor}"
                )
        if self.feed != self.feed_rows:
            self.fail(f"change feed has {self.feed} rows, model {self.feed_rows}")
        return len(self.failures) == failed_before

    def check(self) -> None:
        pass  # the chain checks itself

    def metrics(self) -> dict[str, tuple[float, str]]:
        s = self.steps
        change_bytes = sum(self.batch_bytes(b) for b in range(2))
        scan_s = statistics.median(s[k] for k in self.SCANS)
        self.figures.update(
            maintenance_s=(sum(s[k] for k in self.WRITE_STEPS), "s"),
            ingest_mb_per_s=(dir_bytes(self.base_src) / 1e6 / statistics.median(self.append_s), "MB/s"),
            scan_images_per_s=(self.N_IMAGES / scan_s, "1/s"),
            **{f"step.{k}_s": (v, "s") for k, v in s.items()},
            read_s_p50=(statistics.median(self.read_s), "s"),
            read_s_p90=(cut_points(self.read_s, n=10)[8], "s"),
        )
        return {
            "op_s": (sum(s.values()), "s"),
            "write_amp": (added_bytes(self.table, self.v_pre, self.v_applied) / change_bytes, "ratio"),
        }

    def probe_table(self) -> IcepackTable:
        return self.table


class Read:
    """One SQL read on table ``images``: its text and its model result."""

    def __init__(self, kind: str, plan: "ReadPlan", arg=None):
        self.kind, self.plan, self.arg = kind, plan, arg

    def sql(self, v_pre: int) -> str:
        if self.kind == "point":
            return f"SELECT image_id, caption, phash FROM {TABLE} WHERE image_id = '{self.arg}'"
        if self.kind == "point_v0":
            return (
                f"SELECT image_id, caption, phash FROM {TABLE} VERSION AS OF {v_pre} "
                f"WHERE image_id = '{self.arg}'"
            )
        if self.kind == "prefix":
            lo, hi = self.arg
            return (
                f"SELECT count(*) AS n, coalesce(sum(length(bytes)), 0) AS b FROM {TABLE} "
                f"WHERE image_id >= '{lo}' AND image_id < '{hi}'"
            )
        return f"DESCRIBE DETAIL {TABLE}"

    def result(self, rows) -> object:
        if self.kind == "detail":
            return (rows[0]["version"], rows[0]["numRows"], rows[0]["numDeleteFiles"])
        if self.kind == "prefix":
            return (rows[0]["n"], rows[0]["b"])
        return sorted((r.image_id, r.caption, r.phash) for r in rows)  # duplicates count

    def want(self, head: int, pending: int) -> object:
        p = self.plan
        if self.kind == "detail":
            return (head, len(p.model.rows), pending)
        if self.kind == "prefix":
            return p.model.prefix_aggregate(*self.arg)
        model = p.model if self.kind == "point" else p.model_v0
        row = model.rows.get(self.arg)
        return [(self.arg, row[0], row[1])] if row else []


class ReadPlan:
    """Rounds of the four read shapes: a point SELECT by ``image_id``, a
    point SELECT at the pre-churn version, a 3-character-prefix range
    aggregate over ``bytes`` and ``DESCRIBE DETAIL``. Point keys are drawn
    from the changed keys and as many unchanged ones. ``model`` is the
    live model of the queried table: a result is checked against it as it
    stands when the read runs."""

    def __init__(self, rng: random.Random, model_v0: TableModel, model: TableModel, churn: list[str]):
        self.rng, self.model_v0, self.model = rng, model_v0, model
        self.base_keys = sorted(model_v0.rows)
        self.pool = sorted(set(churn)) + self.base_keys[: len(set(churn))]

    def round(self) -> list[Read]:
        lo = self.rng.choice(self.base_keys)[:3]
        return [
            Read("point", self, self.rng.choice(self.pool)),
            Read("point_v0", self, self.rng.choice(self.pool)),
            Read("prefix", self, (lo, lo[:-1] + chr(ord(lo[-1]) + 1))),
            Read("detail", self),
        ]


def dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet"))


def added_bytes(t: IcepackTable, v_from: int, v_to: int | None = None) -> int:
    """Bytes of the files each commit after ``v_from`` (up to ``v_to``, the
    head by default) added — a file that a later commit in the range
    replaced still counts."""
    v = t.head_version() if v_to is None else v_to
    chain = []
    while v != v_from:
        chain.append(v)
        v = t.snapshot(v).parent
    total = 0
    live = {e.path for e in t.files(v_from)}
    for v in reversed(chain):
        entries = t.files(v)
        total += sum(e.bytes for e in entries if e.path not in live)
        live = {e.path for e in entries}
    return total


def cut_points(xs: list[float], n: int = 4) -> list[float]:
    """``n``-quantile cut points; a single sample is its own every quantile."""
    xs = list(xs)
    if len(xs) == 1:
        return [xs[0]] * (n - 1)
    return statistics.quantiles(xs, n=n, method="inclusive")


WORKLOADS = {w.name: w for w in (CdcChurn, BulkMaintenance)}
