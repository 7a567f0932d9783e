"""The benchmark's workloads: what one pass of each runs and checks.

Every workload is a closed loop with one client: an operation starts
when the previous one has returned.  A run sets up the session several
times, runs one untimed warm pass that also checks every result, then
the timed passes.  Which operations a pass holds is fixed per workload;
the seed sets their order, the dashboard selections and the generated
CSV inputs.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

from perfbench import datagen, oracle

#: Interactive queries from two registry modules (temporal,
#: tpch_subqueries), each within the middle half of the battery's costs
#: at sf0.1.  A pass must fit the run budget, so the set is a sample of
#: the battery, not all of it.
SQL_QUERIES = (
    "q_asof_join",
    "q_tpch_top_supplier",
)

#: Curation queries: product-quantization ANN search (operators.pq: the
#: Lloyd fit, encode and top-k passes all cross the Arrow/Python
#: boundary) and the distinct-count sketch audit (operators.sketches),
#: one of the queries the cache-pressure regression slowed most.
CURATION_QUERIES = (
    "q_pq_adc_knn",
    "q_distinct_sketch",
)

#: Tables each workload's queries read, registered as views at set-up.
TABLES = {"sql_interactive": ["events", "lineitem", "supplier"], "curation_batch": ["documents", "embeddings"]}

#: Data scale per workload: curation operators are quadratic-ish in the
#: corpus, so they read the 500-document sf0.01 tables.
SCALES = {"sql_interactive": 0.1, "curation_batch": 0.01}

#: ``--seconds`` buys round(seconds / NOMINAL_PASS_S) timed passes, at
#: least one: a fixed count, so the number of latency samples does not
#: depend on the host's speed.
NOMINAL_PASS_S = 4.0
SETUP_CYCLES = 3

DASHBOARD_ROWS = 10_000
DASHBOARD_REFRESHES = 1
ETL_ROWS = 10_000
ETL_BATCHES = 2
ETL_BATCH_ROWS = 500

if os.environ.get("PERFBENCH_TINY") == "1":
    # smoke-test scale: the smallest tables and a few hundred CSV rows
    SCALES = {w: 0.001 for w in SCALES}
    DASHBOARD_ROWS, ETL_ROWS, ETL_BATCH_ROWS = 400, 400, 40


#: Operation kinds whose latencies make up ``bench.query_p50_s``; the
#: micro-batch merges' times come from the stream's progress reports.
QUERY_KINDS = ("query", "load", "merge", "verify")
#: Operation kinds whose CPU seconds make up ``bench.query_cpu_p50_s``: the
#: merges run inside the stream, so its whole run is the operation.
CPU_KINDS = ("query", "load", "stream", "verify")


@dataclass
class Op:
    kind: str  # query | dashboard | filter_options | load | stream | merge | verify
    name: str
    seconds: float  # wall time
    cpu_s: float  # engine CPU time (0 where only the wall time is known)
    ok: bool


@dataclass
class Context:
    """What a run shares with its workload (and a composite's parts)."""

    seed: int
    build: dict
    run_dir: str
    #: engine CPU seconds so far; the runner sets it once the JVM is up
    cpu: Callable[[], float] = lambda: 0.0
    #: set by the runner around traced passes: tag jobs, time build/exec
    traced: bool = False
    build_s: float = 0.0
    exec_s: float = 0.0

    def now(self) -> tuple[float, float]:
        """(wall, engine CPU) seconds."""
        return time.perf_counter(), self.cpu()


def _op(kind: str, name: str, start: tuple[float, float], end: tuple[float, float], ok: bool) -> Op:
    return Op(kind, name, end[0] - start[0], end[1] - start[1], ok)


def _fail(what: str) -> None:
    print(f"perfbench: {what}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _same(a, b) -> bool:
    """Equality that treats None and NaN as the same missing value."""
    if a is None or (isinstance(a, float) and a != a):
        return b is None or (isinstance(b, float) and b != b)
    return a == b


class Workload:
    name = ""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)

    # -- hooks -----------------------------------------------------------
    def make_inputs(self) -> None:
        """Generate the seeded inputs (not timed)."""

    def register(self, spark) -> None:
        """Register the inputs with a fresh session (timed as set-up)."""

    def prime(self, spark) -> None:
        """Refill session state a warm pass leaves behind (not timed)."""

    def run_pass(self, spark, label: str, check: bool) -> list[Op]:
        raise NotImplementedError

    def extra(self, ops: list[Op]) -> dict[str, float]:
        """Workload-specific metrics over the timed passes' operations."""
        return {}

    def input_bytes(self) -> int:
        """Bytes of generated CSV input a pass loads."""
        return 0

    # -- registry queries -----------------------------------------------
    def _query(self, spark, name: str, sink: str, check: bool) -> Op:
        from week4_musemotion_spark.queries import REGISTRY

        sc = spark.sparkContext
        try:
            if self.ctx.traced:
                sc.setJobGroup(f"build|{name}", name)
            t0 = self.ctx.now()
            df = REGISTRY[name].builder(spark, self.sf_dir)
            t1 = time.perf_counter()
            if self.ctx.traced:
                sc.setJobGroup(f"exec|{name}", name)
            if sink == "collect":
                rows = df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
                rows = None
            t2 = self.ctx.now()
        except Exception:  # noqa: BLE001 - a failed query is counted, the run goes on
            _fail(f"{name} raised")
            return Op("query", name, 0.0, 0.0, False)
        finally:
            if self.ctx.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if self.ctx.traced:
            self.ctx.build_s += t1 - t0[0]
            self.ctx.exec_s += t2[0] - t1
        ok = True
        answer = self.ctx.build["answers"][name]
        if check:
            problem = oracle.mismatch(name, df.columns, [tuple(r) for r in rows], answer)
            if problem:
                print(f"perfbench: {name} differs from DuckDB: {problem}", file=sys.stderr)
                ok = False
        elif rows is not None and len(rows) != len(answer[1]):
            print(f"perfbench: {name} returned {len(rows)} rows, expected {len(answer[1])}", file=sys.stderr)
            ok = False
        return _op("query", name, t0, t2, ok)


class SqlInteractive(Workload):
    """Registry SQL queries with dashboard refreshes between them."""

    name = "sql_interactive"

    def make_inputs(self) -> None:
        self.sf_dir = self.ctx.build["data"]["sql_interactive"]
        self.order = self.rng.sample(SQL_QUERIES, len(SQL_QUERIES))
        raw = datagen.musemotion_rows(self.ctx.seed, DASHBOARD_ROWS)
        self.csv = os.path.join(self.ctx.run_dir, "dashboard.csv")
        datagen.write_csv(self.csv, raw)
        clean = [c for c in map(datagen.clean_row, raw) if c is not None]
        self.options = datagen.filter_options(clean)
        self.choices = datagen.dashboard_choices(self.ctx.seed, clean, DASHBOARD_REFRESHES)

    def register(self, spark) -> None:
        from week4_musemotion_spark.dashboard import Dashboard
        from week4_musemotion_spark.sources.tables import register_views

        register_views(spark, self.sf_dir, TABLES[self.name])
        self.dash = Dashboard(spark, self.csv)

    def prime(self, spark) -> None:
        self.dash.df.count()

    def _filter_options(self, check: bool) -> Op:
        try:
            t0 = self.ctx.now()
            got = self.dash.filter_options()
            t1 = self.ctx.now()
        except Exception:  # noqa: BLE001
            _fail("filter_options raised")
            return Op("filter_options", "filter_options", 0.0, 0.0, False)
        ok = not check or got == self.options
        if not ok:
            print("perfbench: filter_options differ from the generator's", file=sys.stderr)
        return _op("filter_options", "filter_options", t0, t1, ok)

    def _refresh(self, i: int, check: bool) -> Op:
        want = self.choices[i]
        try:
            t0 = self.ctx.now()
            sel = self.dash.select(**want["choice"])
            kpi = self.dash.kpis(sel)
            by_make = self.dash.vehicles_by_make(sel)
            by_city = self.dash.counts_by_city(sel)
            t1 = self.ctx.now()
        except Exception:  # noqa: BLE001
            _fail(f"dashboard refresh {i} raised")
            return Op("dashboard", f"refresh{i}", 0.0, 0.0, False)
        ok = True
        if check:
            row = kpi.to_dict("records")[0] if len(kpi) else {}
            got = {
                "kpis": {k: (int(v) if k == "total_vehicles" else float(v)) for k, v in row.items()},
                "by_make": {k: int(v) for k, v in zip(by_make["make"], by_make["count"])},
                "by_city": {k: int(v) for k, v in zip(by_city["city"], by_city["count"])},
            }
            for key in ("by_make", "by_city"):
                ok &= got[key] == want[key]
            ok &= set(got["kpis"]) == set(want["kpis"]) and all(
                _same(got["kpis"][k], want["kpis"][k]) for k in want["kpis"]
            )
            if not ok:
                print(f"perfbench: dashboard refresh {i} differs: {got} vs {want}", file=sys.stderr)
        return _op("dashboard", f"refresh{i}", t0, t1, ok)

    def run_pass(self, spark, label: str, check: bool) -> list[Op]:
        ops = [self._filter_options(check)]
        n = len(self.order)
        after = {(j + 1) * n // (DASHBOARD_REFRESHES + 1) - 1: j for j in range(DASHBOARD_REFRESHES)}
        for i, name in enumerate(self.order):
            ops.append(self._query(spark, name, "collect", check))
            if i in after:
                ops.append(self._refresh(after[i], check))
        return ops

    def extra(self, ops: list[Op]) -> dict[str, float]:
        return {"bench.dashboard_p50_s": statistics.median(o.seconds for o in ops if o.kind == "dashboard")}


class CurationBatch(Workload):
    """Operator-heavy curation queries, each run to a noop sink."""

    name = "curation_batch"

    def make_inputs(self) -> None:
        self.sf_dir = self.ctx.build["data"]["curation_batch"]
        self.order = self.rng.sample(CURATION_QUERIES, len(CURATION_QUERIES))

    def register(self, spark) -> None:
        from week4_musemotion_spark.sources.tables import register_views

        register_views(spark, self.sf_dir, TABLES[self.name])

    def run_pass(self, spark, label: str, check: bool) -> list[Op]:
        spark.catalog.clearCache()
        return [self._query(spark, n, "collect" if check else "noop", check) for n in self.order]


class EtlUpsert(Workload):
    """CSV load into a fresh parquet snapshot, streamed upserts, read-back."""

    name = "etl_upsert"

    def make_inputs(self) -> None:
        self.inputs = datagen.etl_inputs(
            self.ctx.seed, os.path.join(self.ctx.run_dir, "etl_in"), ETL_ROWS, ETL_BATCHES, ETL_BATCH_ROWS
        )
        self.stored_bytes = 0

    def register(self, spark) -> None:
        from week4_musemotion_spark.schemas import MUSEMOTION_RAW
        from week4_musemotion_spark.sources.csv import read_headerless_csv

        # resolves the load CSV's width; the pipeline reads it again
        read_headerless_csv(spark, self.inputs["load_csv"])
        self.updates = (
            spark.readStream.schema(MUSEMOTION_RAW)
            .option("header", "false")
            .option("maxFilesPerTrigger", 1)
            .csv(os.path.dirname(self.inputs["update_paths"][0]))
        )

    def run_pass(self, spark, label: str, check: bool) -> list[Op]:
        from week4_musemotion_spark.operators.etl import clean_musemotion
        from week4_musemotion_spark.operators.pipeline import run_musemotion_pipeline
        from week4_musemotion_spark.schemas import MUSEMOTION_COLUMNS
        from week4_musemotion_spark.sources.csv import impose_columns
        from week4_musemotion_spark.streaming.foreach_upsert import stream_upsert_to_snapshot

        base = os.path.join(self.ctx.run_dir, "etl_out", label)
        snap, ckpt = os.path.join(base, "snapshot"), os.path.join(base, "checkpoint")
        ops: list[Op] = []
        try:
            t0 = self.ctx.now()
            run_musemotion_pipeline(spark, self.inputs["load_csv"], snap, dedup_key="vin")
            t1 = self.ctx.now()
            ops.append(_op("load", "load", t0, t1, True))
            stream = clean_musemotion(impose_columns(self.updates, MUSEMOTION_COLUMNS))
            t2 = self.ctx.now()
            query = stream_upsert_to_snapshot(stream, snap, ["vin"], ckpt)
            query.awaitTermination()
            ops.append(_op("stream", "stream", t2, self.ctx.now(), True))
            batches = [p["durationMs"]["triggerExecution"] / 1e3 for p in query.recentProgress
                       if p["numInputRows"] > 0]
            ops += [Op("merge", f"batch{i}", s, 0.0, True) for i, s in enumerate(batches)]
            if len(batches) != ETL_BATCHES:
                print(f"perfbench: {len(batches)} micro-batches, expected {ETL_BATCHES}", file=sys.stderr)
                ops.append(Op("merge", "batches", 0.0, 0.0, False))
            t3 = self.ctx.now()
            table = spark.read.parquet(snap).select(*datagen.CHECKED_COLUMNS).toArrow()
            t4 = self.ctx.now()
        except Exception:  # noqa: BLE001
            _fail(f"etl pass {label} raised")
            return ops + [Op("verify", "verify", 0.0, 0.0, False)]
        cols = [table.column(c).to_pylist() for c in datagen.CHECKED_COLUMNS]
        got = datagen.snapshot_digest({r[0]: r for r in zip(*cols)})
        got["rows"] = table.num_rows
        ok = got == self.inputs["expected"]
        if not ok:
            print(f"perfbench: etl snapshot {got} != expected {self.inputs['expected']}", file=sys.stderr)
        ops.append(_op("verify", "verify", t3, t4, ok))
        self.stored_bytes = _dir_bytes(snap)
        shutil.rmtree(base, ignore_errors=True)
        return ops

    def input_bytes(self) -> int:
        return self.inputs["input_bytes"]

    def extra(self, ops: list[Op]) -> dict[str, float]:
        loads = [o.seconds for o in ops if o.kind == "load"]
        return {
            "bench.load_rows_per_s": self.inputs["load_rows"] / statistics.median(loads),
            "bench.upsert_batch_p50_s": statistics.median(o.seconds for o in ops if o.kind == "merge"),
            "bench.stored_bytes_per_input_byte": self.stored_bytes / self.inputs["input_bytes"],
        }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class MusemotionApp(Workload):
    """The reference application's loop in one pass: the ETL job loads
    and upserts the CSV feed, then the dashboard and analysts read."""

    name = "musemotion_app"

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.parts = (EtlUpsert(ctx), SqlInteractive(ctx))

    def make_inputs(self) -> None:
        for p in self.parts:
            p.make_inputs()

    def register(self, spark) -> None:
        for p in self.parts:
            p.register(spark)

    def prime(self, spark) -> None:
        for p in self.parts:
            p.prime(spark)

    def run_pass(self, spark, label: str, check: bool) -> list[Op]:
        return [op for p in self.parts for op in p.run_pass(spark, label, check)]

    def extra(self, ops: list[Op]) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.extra(ops).items()}

    def input_bytes(self) -> int:
        return sum(p.input_bytes() for p in self.parts)


WORKLOADS = {w.name: w for w in (SqlInteractive, CurationBatch, EtlUpsert, MusemotionApp)}
