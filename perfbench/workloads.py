"""The benchmark workloads. Each drives the program only through its
public entry points, as one closed-loop client in one process:

- ``pipeline_daily``: ``plans.pipeline.run_pipeline`` (default sink) and
  the four ``plans.analyst`` queries;
- ``corpus_ops``: ``catalog.QUERIES[name].fn`` for seven corpus queries.

A workload's ``setup()`` runs before the timed loop; ``iteration()`` is
one timed unit of work and returns its operations as ``(name, seconds,
problems)`` triples, a non-empty ``problems`` list marking the
operation failed. ``QUERIES`` names the operations that are queries.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time

from perfbench import checks, inputs
from perfbench.trace import Tracer, group_metrics, job_count, wrap_sinks

LOADED_AT = dt.datetime(2025, 1, 2)
CAL_START, CAL_END = dt.date(2023, 1, 1), dt.date(2026, 12, 31)
N_INVOICES = 1000  # day one; day two is one more day at day one's daily rate
SPAN_DAYS = 7
MIX_CALLS = 20  # five calls of each analyst query: equal weights, an assumption
CORPUS_DOCS = 500
CORPUS_VECTORS = 500
CORPUS_SEED = 0  # the corpus is fixed; the run's seed sets the query order

AS_OF_QUERIES = ("total_deferred_asof", "deferred_by_customer")
SCAN_QUERIES = ("deferred_trend", "recognized_for_quarter")
PIPELINE_TABLES = tuple(checks.TABLE_KEYS)
PHASE_FIELDS = ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "plan_s")


def _tree_stats(root: str) -> tuple[int, int, int]:
    """(parquet files, max parquet files in one directory, bytes of all files)."""
    files = max_per_dir = size = 0
    for d, _, names in os.walk(root):
        n = sum(name.endswith(".parquet") for name in names)
        files += n
        max_per_dir = max(max_per_dir, n)
        size += sum(os.path.getsize(os.path.join(d, name)) for name in names)
    return files, max_per_dir, size


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else _median(xs)


class PipelineDaily:
    """Set-up backfills the day-one drop (``N_INVOICES`` invoices over
    ``SPAN_DAYS`` days; day two is one more day at the same rate) into a
    warehouse and keeps it as the snapshot.
    Each iteration restores the snapshot (untimed), then times: the
    day-two drop, its identical re-run, a backfill of day one ∪ day two
    into an empty warehouse, and a closed-loop mix of the four analyst
    queries over the re-run's marts."""

    name = "pipeline_daily"
    QUERIES = AS_OF_QUERIES + SCAN_QUERIES

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        from stripe_data_pipeline_spark.plans import analyst, pipeline

        self.spark, self.tracer = spark, tracer
        self.analyst, self.pipeline = analyst, pipeline
        self.drops = inputs.StripeDrops(seed, N_INVOICES, SPAN_DAYS)
        self.mix = inputs.analyst_mix(seed, MIX_CALLS, SPAN_DAYS)
        self.raw = {day: os.path.join(work, f"raw_{day}") for day in ("one", "two", "union")}
        self.snapshot = os.path.join(work, "snapshot")
        self.warehouse = os.path.join(work, "warehouse")
        self.backfill_wh = os.path.join(work, "backfill")
        self.oracle = None
        self.want = None  # digests every iteration must reproduce
        self.record: dict = {"daily_s": [], "rerun_s": [], "backfill_s": [], "lookup_ms": [], "scan_ms": [],
                             "written_bytes": []}

    def setup(self) -> dict:
        self.raw_bytes = {day: self.drops.write(path, day) for day, path in self.raw.items()}
        t = time.perf_counter()
        tables = self.pipeline.run_pipeline(self.spark, self.raw["one"], self.snapshot, loaded_at=LOADED_AT)
        # one call of each analyst query over day one, so the timed mix
        # does not pay first-call code generation
        self._register_views(tables)
        for query, args in {q: a for q, a in self.mix}.items():
            getattr(self.analyst, query)(self.spark, *args).collect()
        return {"warm_s": time.perf_counter() - t}

    def _register_views(self, tables) -> None:
        from stripe_data_pipeline_spark.models.calendar import calendar

        for name in self.analyst.MART_TABLES:
            tables[name].createOrReplaceTempView(name)
        calendar(self.spark, CAL_START, CAL_END).createOrReplaceTempView("calendar")

    def _run(self, label: str, raw: str, warehouse: str):
        with self.tracer.span(label, group="pipeline"):
            t = time.perf_counter()
            tables = self.pipeline.run_pipeline(self.spark, raw, warehouse, loaded_at=LOADED_AT)
            return tables, time.perf_counter() - t

    def iteration(self) -> list[tuple[str, float, list[str]]]:
        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.copytree(self.snapshot, self.warehouse)
        shutil.rmtree(self.backfill_wh, ignore_errors=True)
        ops = []
        first_job = job_count(self.spark)

        daily, daily_s = self._run("daily", self.raw["two"], self.warehouse)
        # digested now: the re-run replaces the files these DataFrames read
        [daily_digest] = checks.table_digests(daily)
        rerun, rerun_s = self._run("rerun", self.raw["two"], self.warehouse)
        written = sum(g["output_bytes"] for g in group_metrics(self.spark, first_job).values())
        backfill, backfill_s = self._run("backfill", self.raw["union"], self.backfill_wh)
        rerun_digest, backfill_digest = checks.table_digests(rerun, backfill)

        ops.append(("daily", daily_s, checks.digest_diff("day two", daily_digest, self.want or daily_digest)))
        problems = checks.digest_diff("re-run", rerun_digest, daily_digest)
        if self.want is None:
            problems += checks.mart_invariants(rerun)
            self.want = daily_digest
        ops.append(("rerun", rerun_s, problems))
        ops.append(("backfill", backfill_s, checks.digest_diff("backfill of day one ∪ day two", backfill_digest, rerun_digest)))

        self._register_views(rerun)
        if self.oracle is None:
            self.oracle = checks.AnalystOracle(rerun, CAL_START, CAL_END)
        with self.tracer.span("mix"):
            for query, args in self.mix:
                with self.tracer.span(query):
                    t = time.perf_counter()
                    rows = [tuple(r) for r in getattr(self.analyst, query)(self.spark, *args).collect()]
                    elapsed = time.perf_counter() - t
                ops.append((query, elapsed, self.oracle.check(query, args, rows)))
                (self.record["lookup_ms"] if query in AS_OF_QUERIES else self.record["scan_ms"]).append(1e3 * elapsed)

        self.record["daily_s"].append(daily_s)
        self.record["rerun_s"].append(rerun_s)
        self.record["backfill_s"].append(backfill_s)
        self.record["written_bytes"].append(written)
        self.record["warehouse"] = _tree_stats(self.warehouse)
        return ops

    def summary(self) -> dict:
        r = self.record
        queries = r["lookup_ms"] + r["scan_ms"]
        files, max_files, size = r["warehouse"]
        return {
            "backfill_s": _median(r["backfill_s"]),
            "daily_s": _median(r["daily_s"]),
            "rerun_s": _median(r["rerun_s"]),
            "lookup_p50_ms": _median(r["lookup_ms"]),
            "scan_p50_ms": _median(r["scan_ms"]),
            "mart_query_p90_ms": _p90(queries),
            "mart_query_samples": len(queries),
            "stored_bytes_per_raw_byte": size / (self.raw_bytes["one"] + self.raw_bytes["two"]),
            "written_bytes_per_drop_byte": _median(r["written_bytes"]) / (2 * self.raw_bytes["two"]),
            "warehouse_files": files,
            "warehouse_max_files_per_partition": max_files,
            "warehouse_bytes": size,
            "raw_bytes": self.raw_bytes,
            "pipeline_unspanned_s": r.get("unspanned_s"),  # per traced run
        }

    def traced_layers(self, n_iter: int) -> dict:
        """Per-layer metrics of the traced iterations, per iteration."""
        tr = self.tracer
        groups = group_metrics(self.spark)
        out = {}
        for t in PIPELINE_TABLES:
            out[f"{t}.compute_s"] = tr.total(f"{t}.compute") / n_iter
            out[f"{t}.sink_s"] = tr.total(f"{t}.sink") / n_iter
            out[f"{t}.files_written"] = sum(s.get("files_written", 0) for s in tr.named(f"{t}.sink")) / n_iter
            out[f"{t}.bytes_written"] = groups.get(f"{t}.sink", {}).get("output_bytes", 0) / n_iter
        sink_wall = sum(tr.total(f"{t}.sink") for t in PIPELINE_TABLES)
        sink_jobs = sum(groups.get(f"{t}.sink", {}).get("job_s", 0.0) for t in PIPELINE_TABLES)
        out["sink.driver_s"] = (sink_wall - sink_jobs) / n_iter
        for phase in ("compute", "sink"):
            for f in PHASE_FIELDS:
                out[f"{phase}.{f}"] = sum(groups.get(f"{t}.{phase}", {}).get(f, 0) for t in PIPELINE_TABLES) / n_iter
        files, max_files, size = self.record["warehouse"]
        out |= {"warehouse.files": files, "warehouse.max_files_per_partition": max_files, "warehouse.bytes": size}
        for q in self.QUERIES:
            spans = tr.named(q)
            g = groups.get(q, {})
            n = max(len(spans), 1)
            out[f"{q}.p50_ms"] = 1e3 * _median([s["end"] - s["start"] for s in spans])
            out[f"{q}.input_bytes"] = g.get("input_bytes", 0) / n
            out[f"{q}.jobs"] = g.get("jobs", 0) / n
            out[f"{q}.tasks"] = g.get("tasks", 0) / n
        runs = [s for s in tr.spans if s["group"] == "pipeline"]
        self.record["unspanned_s"] = [(s["name"], tr.self_time(s)) for s in runs]
        out["pipeline.unspanned_s"] = sum(t for _, t in self.record["unspanned_s"]) / n_iter
        return out

    def trace_hooks(self):
        from stripe_data_pipeline_spark import manifest_table

        return wrap_sinks(self.tracer, self.pipeline, manifest_table)

    def compute_pass_s(self, n_iter: int) -> float:
        return sum(self.tracer.total(f"{t}.compute") for t in PIPELINE_TABLES) / n_iter

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()


class CorpusOps:
    """Seven corpus queries per pass, in a seeded order, over a fixed
    500-document / 500-vector corpus. The warm pass in set-up also
    checks each query once against its DuckDB oracle and fixes the
    digest every later pass must reproduce."""

    name = "corpus_ops"
    QUERIES = inputs.CORPUS_QUERIES

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        from stripe_data_pipeline_spark.catalog import QUERIES

        self.spark, self.tracer = spark, tracer
        self.queries = QUERIES
        self.sf_dir = os.path.join(work, "corpus")
        self.orders = inputs.corpus_orders(seed)
        self.want: dict[str, str] = {}
        self.record: dict = {"pass_s": [], "oracle_problems": {}}

    def _call(self, q: str):
        t = time.perf_counter()
        df = self.queries[q].fn(self.spark, self.sf_dir)
        rows = [tuple(r) for r in df.collect()]
        return df.columns, rows, time.perf_counter() - t

    def setup(self) -> dict:
        inputs.write_corpus(self.sf_dir, CORPUS_SEED, CORPUS_DOCS, CORPUS_VECTORS)
        con = checks.corpus_oracle(self.sf_dir)
        warm = check = 0.0
        try:
            for q in next(self.orders):
                cols, rows, elapsed = self._call(q)
                warm += elapsed
                t = time.perf_counter()
                self.record["oracle_problems"][q] = checks.corpus_check(con, self.queries[q].oracle, cols, rows)
                self.want[q] = checks.rows_digest(cols, rows)
                check += time.perf_counter() - t
        finally:
            con.close()
        return {"warm_s": warm, "check_s": check}

    def iteration(self) -> list[tuple[str, float, list[str]]]:
        ops = []
        t0 = time.perf_counter()
        for q in next(self.orders):
            with self.tracer.span(q):
                cols, rows, elapsed = self._call(q)
            problems = list(self.record["oracle_problems"].get(q, []))
            if checks.rows_digest(cols, rows) != self.want[q]:
                problems.append(f"{q}: result differs from the warm pass")
            ops.append((q, elapsed, problems))
        self.record["pass_s"].append(time.perf_counter() - t0)
        return ops

    def summary(self) -> dict:
        return {"corpus_pass_s": _median(self.record["pass_s"])}

    def traced_layers(self, n_iter: int) -> dict:
        groups = group_metrics(self.spark)
        out = {}
        for q in self.QUERIES:
            spans = self.tracer.named(q)
            g = groups.get(q, {})
            n = max(len(spans), 1)
            out[f"{q}.wall_s"] = _median([s["end"] - s["start"] for s in spans])
            out[f"{q}.jobs"] = g.get("jobs", 0) / n
            out[f"{q}.shuffle_write_bytes"] = g.get("shuffle_write_bytes", 0) / n
            out[f"{q}.task_cpu_s"] = g.get("task_cpu_s", 0) / n
        return out

    def trace_hooks(self):
        return lambda: None

    def compute_pass_s(self, n_iter: int) -> float:
        return 0.0

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (PipelineDaily, CorpusOps)}

