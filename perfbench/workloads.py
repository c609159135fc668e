"""The three workloads and their timed, traced and checking phases.

Every workload runs a closed loop with one client: an operation starts
when the previous one has finished. Operations are grouped in passes;
a run measures whole passes so every run covers the same mix.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import eventlog
import gen_star
import gen_vax
import mixes
import stats
import tracing
from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.operators.validate import (
    get_valid_records,
    to_warehouse,
    validate_types,
)
from incubyte_vaccination_data_pipeline_spark.operators.views import register_country_views
from incubyte_vaccination_data_pipeline_spark.pipeline import run_pipeline
from incubyte_vaccination_data_pipeline_spark.sources.csv_ingest import load_source_data
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
    TESTDATA_TABLES,
    write_dead_letter,
    write_warehouse,
)

PIPELINE_ROWS = 64_000
CATALOG_SF = 0.01
TPCH_BASE_SF = 0.01
TPCH_FACTOR = 10
AS_OF = "2024-01-01"
LOAD_DATE = "2024-01-01 00:00:00"

#: per-layer metrics of the traced run's JSON line, reported on every
#: workload (a count of a layer the workload never calls reads 0)
COMMON_LAYER_METRICS = {
    "session.get_spark_s": "s",
    "op.build_s": "s", "op.py4j_calls": "count", "op.build_jobs": "count",
    "op.first_touch_extra_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.run_s": "s", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.gc_s": "s", "exec.scheduler_delay_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "trace.overhead_s": "s",
    "csv_ingest.jobs": "count", "views.register_jobs": "count",
    "views.rows_out_per_in": "ratio", "parquet_io.warehouse_bytes": "bytes",
    "parquet_io.warehouse_files": "count",
}


def _error(exc: BaseException) -> str:
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first[:300]}"


@dataclass
class Result:
    """Samples and failures of one run, plus the workload's report."""

    samples: list[dict] = field(default_factory=list)
    failures: list[dict] = field(default_factory=list)
    extra_rows: list[tuple] = field(default_factory=list)
    layer_metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer_rows: list[tuple] = field(default_factory=list)
    tracer: tracing.Tracer | None = None
    groups: dict[str, tuple[str, str]] = field(default_factory=dict)

    @property
    def attempted(self) -> int:
        return len(self.samples)

    def failed_ops(self) -> int:
        return sum(not s["ok"] for s in self.samples)

    def _completed(self) -> list[float]:
        return [s["s"] for s in self.samples if not s.get("raised")]

    def op_p50_s(self) -> float:
        return statistics.median(self._completed())

    def ops_per_s(self) -> float:
        """Completed operations per second of operation time. A wrong
        answer still completed: it counts in ``failed``, not here."""
        return len(self._completed()) / sum(s["s"] for s in self.samples)

    def report_rows(self, failed: int, attempted: int, rss_mb: float) -> list[tuple]:
        done = self._completed()
        rows = [("op_p50_s", self.op_p50_s(), "s", len(done)),
                ("ops_per_s", self.ops_per_s(), "1/s", attempted)]
        rows += self.extra_rows
        rows += [("failed_frac", failed / attempted, "fraction", attempted),
                 ("peak_rss_mb", rss_mb, "MB", 1)]
        rows += self.layer_rows
        return rows


def _set_group(spark, result: Result, op_id: str, layer: str) -> None:
    group = f"pb|{op_id}|{layer}"
    spark.sparkContext.setJobGroup(group, layer)
    result.groups[group] = (op_id, layer)


def _eventlog_by_group(work: str, app_id: str) -> dict[str, dict[str, float]]:
    """Parse, then delete, the event log of a stopped application."""
    path = os.path.join(work, "eventlog", app_id)
    by_group = eventlog.parse_file(path)
    os.remove(path)
    return by_group


def _exec_totals(by_group, groups, counts) -> dict[str, float]:
    """Sum event-log figures over the traced groups; jobs, stages and
    tasks come from the status tracker."""
    tot = dict.fromkeys(eventlog.FIELDS, 0.0)
    for g in groups:
        for k, v in by_group.get(g, {}).items():
            tot[k] += v
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        tot[k] = sum(c[k] for c in counts.values())
    return tot


def _add_exec_metrics(result: Result, tot: dict[str, float], n_ops: int) -> None:
    m = result.layer_metrics
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"exec.{k}"] = (tot[k] / n_ops, "count")
    for k in ("run_s", "executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s"):
        m[f"exec.{k}"] = (tot[k] / n_ops, "s")
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"exec.{k}"] = (tot[k] / n_ops, "bytes")


def _write_spans(result: Result, work: str, name: str) -> None:
    self_t = tracing.self_times(result.tracer.spans)
    path = os.path.join(work, "results", f"{name}-spans.json")
    with open(path, "w") as f:
        json.dump([{
            "name": s.name, "op_id": s.op_id, "span_id": s.span_id, "parent": s.parent,
            "start": s.start, "end": s.end, "self_s": self_t[s.span_id], **s.attrs,
        } for s in result.tracer.spans], f, indent=0, default=str)


def _parquet_stats(path: str) -> tuple[int, int, int]:
    """(rows, bytes, files) of the parquet data files under ``path``."""
    rows = size = files = 0
    for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        rows += pq.ParquetFile(p).metadata.num_rows
        size += os.path.getsize(p)
        files += 1
    return rows, size, files


class PipelineIngest:
    """``run_pipeline`` passes over a generated CSV corpus."""

    name = "pipeline_ingest"
    #: a run measures at least this many passes, and at least --seconds,
    #: so its median is never the mean of two
    min_passes = 3
    #: untimed passes after the first-touch pass: a fresh JVM's second
    #: and third passes are still 10-20% slower than its later ones
    warmup_passes = 2

    def __init__(self, spark, run_dir: str) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "csv")
        self.expected: gen_vax.Expected | None = None
        self.cold_s = 0.0
        self.failures: list[dict] = []
        self.landed: tuple[int, int, int] = (0, 0, 0)
        self.view_times: list[float] = []

    def prepare(self, seed: int) -> None:
        self.expected = gen_vax.generate(self.data_dir, PIPELINE_ROWS, seed)

    def _paths(self, op_id: str) -> tuple[str, str]:
        out = os.path.join(self.run_dir, op_id)
        return os.path.join(out, "warehouse"), os.path.join(out, "dead_letter")

    def _materialize(self, view: str) -> Observation:
        obs = Observation(view)
        (self.spark.table(view).observe(obs, F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        return obs

    def _pass(self, op_id: str) -> dict:
        wh, dl = self._paths(op_id)
        t0 = time.perf_counter()
        _, views = run_pipeline(self.spark, self.data_dir, wh, dl, as_of=AS_OF,
                                load_date=LOAD_DATE)
        obs, view_s = {}, []
        for v in views:
            tv = time.perf_counter()
            obs[v] = self._materialize(v)
            view_s.append(time.perf_counter() - tv)
        secs = time.perf_counter() - t0
        return {"op": op_id, "s": secs, "view_s": view_s,
                "view_rows": {v: o.get["n"] for v, o in obs.items()}}

    def _verify(self, p: dict) -> str | None:
        """Compare one pass's outputs with the generator's exact counts,
        then remove them."""
        exp = self.expected
        wh, dl = self._paths(p["op"])
        wh_rows, wh_bytes, wh_files = _parquet_stats(wh)
        dl_rows, _, _ = _parquet_stats(dl)
        self.landed = (wh_rows, wh_bytes, wh_files)
        p.update(warehouse_rows=wh_rows, warehouse_bytes=wh_bytes, warehouse_files=wh_files,
                 dead_letter_rows=dl_rows)
        problems = []
        if wh_rows != exp.warehouse_rows:
            problems.append(f"warehouse rows {wh_rows} != {exp.warehouse_rows}")
        if dl_rows != exp.dead_letter_rows:
            problems.append(f"dead-letter rows {dl_rows} != {exp.dead_letter_rows}")
        if p["view_rows"] != exp.view_rows:
            problems.append(f"view rows {p['view_rows']} != {exp.view_rows}")
        shutil.rmtree(os.path.join(self.run_dir, p["op"]), ignore_errors=True)
        return "; ".join(problems) or None

    def _run_checked(self, op_id: str, result: Result) -> dict | None:
        t0 = time.perf_counter()
        try:
            p = self._pass(op_id)
        except Exception as exc:  # a failing pass is counted, the run goes on
            result.samples.append({"op": op_id, "s": time.perf_counter() - t0, "ok": False,
                                   "raised": True})
            result.failures.append({"op": op_id, "error": _error(exc)})
            return None
        err = self._verify(p)
        result.samples.append({"op": op_id, "s": p["s"], "ok": err is None})
        if err:
            result.failures.append({"op": op_id, "error": err})
        return p

    def first_touch(self, rng) -> None:
        """Untimed cold pass, then the untimed warm-up passes."""
        setup = Result()
        p = self._run_checked("cold", setup)
        self.cold_s = p["s"] if p else 0.0
        for i in range(self.warmup_passes):
            self._run_checked(f"warmup{i}", setup)
        self.failures = setup.failures

    def measure(self, rng, seconds: float) -> Result:
        result = Result(failures=list(self.failures))
        i = 0
        while i < self.min_passes or sum(s["s"] for s in result.samples) < seconds:
            p = self._run_checked(f"pass{i:03d}", result)
            if p:
                self.view_times += p["view_s"]
            i += 1
        self._report(result)
        return result

    def _report(self, result: Result) -> None:
        exp = self.expected
        p50 = result.op_p50_s()
        result.extra_rows = [
            ("pipeline_s", p50, "s", len(result.samples)),
            ("pipeline_rows_per_s", exp.input_rows / p50, "rows/s", len(result.samples)),
            ("view_query_s", statistics.median(self.view_times), "s", len(self.view_times)),
            ("warehouse_bytes_per_input_byte", self.landed[1] / exp.input_bytes, "ratio", 1),
            ("input_rows", exp.input_rows, "rows", 1),
        ]

    def check(self, rng) -> list[dict]:
        return []  # every pass is checked right after it is timed

    # -- traced run ---------------------------------------------------
    def _traced_pass(self, op_id: str, result: Result) -> dict:
        """The layer calls ``run_pipeline`` composes, in its order, each
        in a span and a job group of its own."""
        spark, tr = self.spark, result.tracer
        wh, dl = self._paths(op_id)
        since_ms = time.time() * 1000 - 1
        with tr.span("pipeline.pass", op_id) as top:
            _set_group(spark, result, op_id, "csv_ingest")
            with tr.span("csv_ingest.load", op_id):
                raw = load_source_data(spark, self.data_dir)
            _set_group(spark, result, op_id, "validate")
            with tr.span("validate.build", op_id):
                clean, dead = validate_types(raw)
            with tr.span("catalyst.plan", op_id, df="dead_letter") as s:
                s.attrs.update(tracing.planning_phases(dead, since_ms))
            _set_group(spark, result, op_id, "dead_letter_write")
            with tr.span("parquet_io.dead_letter_write", op_id):
                write_dead_letter(dead, dl)
            _set_group(spark, result, op_id, "validate")
            with tr.span("validate.build", op_id):
                warehouse = to_warehouse(get_valid_records(clean), load_date=LOAD_DATE)
            with tr.span("catalyst.plan", op_id, df="warehouse") as s:
                s.attrs.update(tracing.planning_phases(warehouse, since_ms))
            _set_group(spark, result, op_id, "warehouse_write")
            with tr.span("parquet_io.warehouse_write", op_id):
                write_warehouse(warehouse, wh, mode="overwrite")
            _set_group(spark, result, op_id, "views_register")
            with tr.span("views.register", op_id):
                stored = spark.read.parquet(wh)
                views = register_country_views(spark, stored, as_of=AS_OF)
            obs = {}
            for v in views:
                with tr.span("catalyst.plan", op_id, df=v) as s:
                    s.attrs.update(tracing.planning_phases(spark.table(v), since_ms))
                _set_group(spark, result, op_id, "views_materialize")
                with tr.span("views.materialize", op_id, view=v):
                    obs[v] = self._materialize(v)
        _set_group(spark, result, "untraced", "untraced")
        # read now: the status tracker keeps only the latest jobs
        for g, (op, _) in result.groups.items():
            if op == op_id:
                self.counts[g] = tracing.group_counts(spark, g)
        return {"op": op_id, "s": top.duration,
                "view_rows": {v: o.get["n"] for v, o in obs.items()}}

    def _traced_checked(self, op_id: str, result: Result) -> dict | None:
        try:
            t = self._traced_pass(op_id, result)
        except Exception as exc:  # a failing pass is counted, the run goes on
            result.failures.append({"op": op_id, "error": _error(exc)})
            return None
        err = self._verify(t)
        if err:
            result.failures.append({"op": op_id, "error": err})
        return t

    def traced(self, rng, seconds: float, work: str) -> Result:
        """Untraced and traced passes in pairs, alternating which goes
        first, for at least two pairs."""
        counter = tracing.Py4jCounter(self.spark)
        result = Result(failures=list(self.failures), tracer=tracing.Tracer(counter))
        self.untraced_s, self.traced_passes, self.counts = [], [], {}
        elapsed, i = 0.0, 0
        try:
            while elapsed < seconds or i < 2:
                for kind in (("plain", "traced") if i % 2 == 0 else ("traced", "plain")):
                    op_id = f"{kind}{i:03d}"
                    if kind == "plain":
                        _set_group(self.spark, result, "untraced", "untraced")
                        p = self._run_checked(op_id, result)
                    else:
                        p = self._traced_checked(op_id, result)
                    if p:
                        (self.untraced_s if kind == "plain" else self.traced_passes).append(p)
                        elapsed += p["s"]
                i += 1
        finally:
            counter.uninstall()
        self.untraced_s = [p["s"] for p in self.untraced_s]
        self.app_id = self.spark.sparkContext.applicationId
        return result

    def finish_trace(self, result: Result, work: str) -> None:
        """After the session has stopped: parse the event log, derive the
        per-layer metrics and write the spans out."""
        by_group = _eventlog_by_group(work, self.app_id)
        spans = result.tracer.spans
        n = len(self.traced_passes)
        if not n or not self.untraced_s:
            raise RuntimeError(f"no traced and untraced pass completed: {result.failures}")
        traced_groups = [g for g, (op, _) in result.groups.items() if op.startswith("traced")]

        def per_pass(name: str) -> float:
            return sum(s.duration for s in spans if s.name == name) / n

        def in_groups(layers, key: str, source) -> float:
            return sum(source.get(g, {}).get(key, 0) for g in traced_groups
                       if result.groups[g][1] in layers) / n

        build = ("csv_ingest.load", "validate.build", "views.register")
        plans = [s for s in spans if s.name == "catalyst.plan"]
        warm = statistics.median(self.untraced_s)
        traced_s = [t["s"] for t in self.traced_passes]
        overhead = statistics.mean(traced_s) - statistics.mean(self.untraced_s)
        m = result.layer_metrics
        m["op.build_s"] = (sum(per_pass(b) for b in build), "s")
        m["op.py4j_calls"] = (sum(s.attrs.get("py4j", 0) for s in spans if s.name in build) / n,
                              "count")
        m["op.build_jobs"] = (in_groups(("csv_ingest", "validate", "views_register"), "jobs",
                                        self.counts), "count")
        m["op.first_touch_extra_s"] = (self.cold_s - warm, "s")
        for ph in tracing.PHASES:
            m[f"catalyst.{ph}_s"] = (sum(s.attrs[ph] for s in plans) / n, "s")
        _add_exec_metrics(result, _exec_totals(by_group, traced_groups, {
            g: self.counts[g] for g in traced_groups if g in self.counts}), n)
        m["trace.overhead_s"] = (overhead, "s")
        last = self.traced_passes[-1]
        m["csv_ingest.jobs"] = (in_groups(("csv_ingest",), "jobs", self.counts), "count")
        m["views.register_jobs"] = (in_groups(("views_register",), "jobs", self.counts), "count")
        m["views.rows_out_per_in"] = (sum(last["view_rows"].values()) / last["warehouse_rows"],
                                      "ratio")
        m["parquet_io.warehouse_bytes"] = (last["warehouse_bytes"], "bytes")
        m["parquet_io.warehouse_files"] = (last["warehouse_files"], "count")

        layers = ["csv_ingest.load", "validate.build", "parquet_io.dead_letter_write",
                  "parquet_io.warehouse_write", "views.register", "views.materialize"]
        layer_sum = sum(per_pass(name) for name in layers)
        # a step run_pipeline gained (or lost) shows as a gap between the
        # layer spans and the untraced pass beyond the tracing overhead
        # and the pass-to-pass noise
        noise = max(max(self.untraced_s) - min(self.untraced_s),
                    max(traced_s) - min(traced_s), 0.1 * warm)
        drift = warm - layer_sum
        if abs(drift) > abs(overhead) + noise:
            result.failures.append({"op": "trace", "error": (
                f"layer spans sum to {layer_sum:.3f} s but an untraced pass takes "
                f"{warm:.3f} s (overhead {overhead:.3f} s, noise {noise:.3f} s)")})
        csv_bytes = in_groups(("csv_ingest",), "input_bytes", by_group)
        n_views = len(self.expected.view_rows)
        result.layer_rows = [
            ("untraced_pass_s", warm, "s", len(self.untraced_s)),
            ("traced_pass_s", statistics.median(traced_s), "s", n),
            ("layer_span_sum_s", layer_sum, "s", n),
            ("csv_ingest.load_s", per_pass("csv_ingest.load"), "s", n),
            ("validate.build_s", per_pass("validate.build"), "s", n),
            ("parquet_io.dead_letter_write_s", per_pass("parquet_io.dead_letter_write"), "s", n),
            ("parquet_io.warehouse_write_s", per_pass("parquet_io.warehouse_write"), "s", n),
            ("views.register_s", per_pass("views.register"), "s", n),
            ("views.materialize_s", per_pass("views.materialize") / n_views, "s", n * n_views),
            ("csv_bytes_read.dead_letter_write",
             in_groups(("dead_letter_write",), "input_bytes", by_group), "bytes", n),
            ("csv_bytes_read.warehouse_write",
             in_groups(("warehouse_write",), "input_bytes", by_group), "bytes", n),
            ("csv_bytes_read.csv_ingest", csv_bytes, "bytes", n),
            ("input_csv_bytes", self.expected.input_bytes, "bytes", 1),
            ("parquet_io.warehouse_rows", last["warehouse_rows"], "count", 1),
            ("parquet_io.dead_letter_rows", last["dead_letter_rows"], "count", 1),
        ] + [(k, v, u, n) for k, (v, u) in sorted(m.items())]
        _write_spans(result, work, self.name)


class CatalogMix:
    """Catalog queries over generated parquet, one query per operation."""

    #: a pass is one operation per query of the mix, enough for a median
    min_passes = 1

    def __init__(self, name: str, spark, run_dir: str, mix: list[str],
                 sf: float, factor: int) -> None:
        self.name, self.spark, self.run_dir = name, spark, run_dir
        self.mix, self.sf, self.factor = mix, sf, factor
        self.data_dir = os.path.join(run_dir, "data")
        self.results: dict = {}
        self.errors: dict[str, str] = {}
        self.cold: dict[str, float] = {}
        self.result: Result | None = None

    def prepare(self, seed: int) -> None:
        if self.factor == 1:
            gen_star.generate(self.data_dir, self.sf, seed)
        else:
            base = os.path.join(self.run_dir, "base")
            gen_star.generate(base, self.sf, seed, tables=gen_star.STAR_TABLES)
            gen_star.replicate_facts(base, self.data_dir, self.factor)

    def _order(self, rng) -> list[str]:
        order = list(self.mix)
        rng.shuffle(order)
        return order

    def first_touch(self, rng) -> None:
        """The first-touch pass, timed like every operation (construction
        through a ``noop`` write)."""
        for q in self._order(rng):
            s = self._run(q)
            self.cold[q] = s["s"]
            if s.get("raised"):
                self.errors[q] = s["error"]

    def _collect(self, rng) -> None:
        """One untimed pass that keeps each query's result for the oracle
        check, or the error it raised."""
        for q in self._order(rng):
            try:
                self.results[q] = catalog.QUERIES[q](self.spark, self.data_dir).toPandas()
            except Exception as exc:
                self.errors.setdefault(q, _error(exc))

    def _run(self, q: str) -> dict:
        t0 = time.perf_counter()
        try:
            df = catalog.QUERIES[q](self.spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            return {"op": q, "s": time.perf_counter() - t0, "ok": False, "raised": True,
                    "error": _error(exc)}
        return {"op": q, "s": time.perf_counter() - t0, "ok": True}

    def measure(self, rng, seconds: float) -> Result:
        result = self.result = Result()
        passes = 0
        while passes < self.min_passes or sum(s["s"] for s in result.samples) < seconds:
            for q in self._order(rng):
                result.samples.append(self._run(q))
            passes += 1
        self._report(result)
        return result

    def _report(self, result: Result) -> None:
        done = [s["s"] for s in result.samples if not s.get("raised")]
        result.extra_rows = [
            ("query_p50_s", statistics.median(done), "s", len(done)),
            ("queries_per_s", result.ops_per_s(), "queries/s", len(result.samples)),
        ]
        if stats.reportable(len(done), 90):
            result.extra_rows.append(("query_p90_s", stats.percentile(done, 90), "s", len(done)))
        else:
            result.extra_rows.append(("query_p90_s", "n/a (<10 samples beyond p90)", "s",
                                      len(done)))

    def check(self, rng) -> list[dict]:
        """An untimed pass after the measured ones that collects every
        result, then its comparison with the DuckDB oracles; a query that
        raised, in any pass, or disagrees with its oracle fails every one
        of its timed operations."""
        import oracle

        self._collect(rng)
        failures, bad = [], {}
        con = oracle.connect(self.data_dir, TESTDATA_TABLES)
        try:
            for q in self.mix:
                if q in self.errors:
                    bad[q] = self.errors[q]
                    continue
                try:
                    reason = oracle.mismatch(self.results[q], con.execute(catalog.ORACLES[q]).df())
                except Exception as exc:
                    reason = "oracle " + _error(exc)
                if reason:
                    bad[q] = reason
        finally:
            con.close()
        for s in self.result.samples:
            if s["op"] in bad:
                s["ok"] = False
            if s.get("raised"):
                bad.setdefault(s["op"], s["error"])
        for q, reason in sorted(bad.items()):
            failures.append({"op": q, "error": reason})
        return failures

    # -- traced run ---------------------------------------------------
    def _traced_op(self, q: str, op_id: str, result: Result) -> dict:
        spark, tr = self.spark, result.tracer
        row = {"op_id": op_id, "query": q, "family": mixes.family(catalog.QUERIES, q)}
        since_ms = time.time() * 1000 - 1
        with tr.span("catalog.query", op_id, query=q, family=row["family"]) as top:
            _set_group(spark, result, op_id, "build")
            with tr.span("catalog.build", op_id) as b:
                df = catalog.QUERIES[q](spark, self.data_dir)
            with tr.span("catalyst.plan", op_id) as p:
                p.attrs.update(tracing.planning_phases(df, since_ms))
            _set_group(spark, result, op_id, "exec")
            with tr.span("exec.write", op_id) as e:
                df.write.format("noop").mode("overwrite").save()
        _set_group(spark, result, "untraced", "untraced")
        row.update(s=top.duration, build_s=b.duration, py4j_calls=b.attrs["py4j"],
                   plan_s=p.duration, exec_s=e.duration, **p.attrs)
        # read now: the status tracker keeps only the latest jobs
        for layer in ("build", "exec"):
            c = tracing.group_counts(spark, f"pb|{op_id}|{layer}")
            row.update({f"{layer}_{k}": v for k, v in c.items()})
        return row

    def traced(self, rng, seconds: float, work: str) -> Result:
        """Each query untraced and traced back to back, alternating which
        goes first from one query to the next."""
        counter = tracing.Py4jCounter(self.spark)
        result = self.result = Result(tracer=tracing.Tracer(counter))
        self.rows, self.untraced, elapsed, i, passes = [], {}, 0.0, 0, 0
        try:
            while elapsed < seconds or passes == 0:
                passes += 1
                for q in self._order(rng):
                    for kind in (("plain", "traced") if i % 2 == 0 else ("traced", "plain")):
                        if kind == "plain":
                            _set_group(self.spark, result, "untraced", "untraced")
                            plain = self._run(q)
                            result.samples.append(plain)
                            self.untraced.setdefault(q, []).append(plain["s"])
                            elapsed += plain["s"]
                            continue
                        op_id = f"{q}#{i}"
                        try:
                            row = self._traced_op(q, op_id, result)
                        except Exception as exc:
                            result.failures.append({"op": op_id, "error": _error(exc)})
                            continue
                        self.rows.append(row)
                        elapsed += row["s"]
                    i += 1
        finally:
            counter.uninstall()
        self.app_id = self.spark.sparkContext.applicationId
        return result

    def finish_trace(self, result: Result, work: str) -> None:
        """After the session has stopped: parse the event log, derive the
        per-layer metrics and write the spans out."""
        by_group = _eventlog_by_group(work, self.app_id)
        rows, n = self.rows, len(self.rows)
        if not rows:
            raise RuntimeError(f"no traced query completed: {result.failures}")
        for row in rows:
            for k in eventlog.FIELDS:
                row[f"ev_{k}"] = sum(by_group.get(f"pb|{row['op_id']}|{layer}", {}).get(k, 0)
                                     for layer in ("build", "exec"))
        m = result.layer_metrics
        warm = {q: statistics.median(v) for q, v in self.untraced.items()}
        traced_mean = statistics.mean(r["s"] for r in rows)
        plain_mean = statistics.mean(s["s"] for s in result.samples if not s.get("raised"))
        m["op.build_s"] = (statistics.mean(r["build_s"] for r in rows), "s")
        m["op.py4j_calls"] = (statistics.mean(r["py4j_calls"] for r in rows), "count")
        m["op.build_jobs"] = (statistics.mean(r["build_jobs"] for r in rows), "count")
        m["op.first_touch_extra_s"] = (statistics.mean(
            self.cold[q] - warm[q] for q in self.mix if q in warm), "s")
        for ph in tracing.PHASES:
            m[f"catalyst.{ph}_s"] = (statistics.mean(r[ph] for r in rows), "s")
        tot = dict.fromkeys(eventlog.FIELDS, 0.0)
        for r in rows:
            for k in eventlog.FIELDS:
                tot[k] += r[f"ev_{k}"]
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            tot[k] = sum(r[f"build_{k}"] + r[f"exec_{k}"] for r in rows)
        _add_exec_metrics(result, tot, n)
        m["trace.overhead_s"] = (traced_mean - plain_mean, "s")
        for k in ("csv_ingest.jobs", "views.register_jobs", "views.rows_out_per_in",
                  "parquet_io.warehouse_bytes", "parquet_io.warehouse_files"):
            m[k] = (0, COMMON_LAYER_METRICS[k])
        result.layer_rows = [
            ("untraced_query_s", plain_mean, "s", len(result.samples)),
            ("traced_query_s", traced_mean, "s", n),
            ("catalog.build_s", m["op.build_s"][0], "s", n),
            ("catalog.py4j_calls", m["op.py4j_calls"][0], "count", n),
            ("catalog.build_jobs", m["op.build_jobs"][0], "count", n),
            ("catalog.first_touch_extra_s", m["op.first_touch_extra_s"][0], "s", len(warm)),
        ] + [(k, v, u, n) for k, (v, u) in sorted(m.items())]
        _write_spans(result, work, self.name)
        with open(os.path.join(work, "results", f"{self.name}-queries.json"), "w") as f:
            json.dump(rows, f, indent=0, default=str)


def make(name: str, spark, run_dir: str):
    if name == "pipeline_ingest":
        return PipelineIngest(spark, run_dir)
    if name == "catalog_small":
        return CatalogMix(name, spark, run_dir, mixes.catalog_small(catalog.QUERIES),
                          CATALOG_SF, 1)
    if name == "tpch_10x":
        return CatalogMix(name, spark, run_dir, mixes.tpch(catalog.QUERIES),
                          TPCH_BASE_SF, TPCH_FACTOR)
    raise ValueError(f"unknown workload {name!r}")
