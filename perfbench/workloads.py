"""The benchmark's workloads. Each one generates its inputs from the
seed, warms the session up on its own code path (``warm_up``), runs
timed cycles (``cycle``) and, for the traced run, wraps the engine
layers it drives (``install``) and turns spans and Spark's status into
per-layer metrics (``layer_metrics``)."""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import time
from datetime import datetime

import pyarrow.parquet as pq

import bench
from net7_etl_bus_spark import pipeline
from net7_etl_bus_spark.functions.scalar import composite_key
from net7_etl_bus_spark.plans import registry
from net7_etl_bus_spark.plans.reference_ops import read_zip_csv
from net7_etl_bus_spark.sources import sinks
from net7_etl_bus_spark.streaming import trigger
from perfbench import gen, verify
from perfbench.client import StatsParam, client_factory
from perfbench.procs import cpu_seconds
from perfbench.tracing import catalyst_seconds

COLD_NOW = datetime(2024, 3, 1)
INCR_NOW = datetime(2024, 3, 2)
API_DELAY_S = 0.004  # per call, for the API-bound enrichment
API_ROWS = 2_000
SKIP_TRIGGERS = 8
QUERY_PASSES = 2
ETL_ROWS = 50_000
QUERY_SF = 0.02


class EtlBulk:
    """Trigger-path ETL cycle. Through ``process_triggers_available_now``:
    a full-file run into an empty target (geocode fails for 1% of the
    rows), an incremental run (99% of the keys kept, 1% new, failed rows
    retried) and the drain of a queue of duplicate triggers, which the
    checksum gate skips. These compute. Then the run's scan, key,
    duplicate check and enrichment of a smaller file, through a client
    that waits per call: this one mostly waits, so its wall time
    (``wall_ops``) shows changes to how the enrichment overlaps calls.
    Its MERGE and control-table writes are left out: they would add
    seconds of compute to a time that is meant to be waiting."""

    ops = ("cold", "incr", "skip", "api")
    wall_ops = ("api",)
    layers = ("trigger.", "batch.", "gate.", "pipeline.", "enrich.", "sink.", "trace.residual_s")

    def __init__(self, work: str, seed: int, small: bool) -> None:
        self.work = work
        rows, api_rows = (3_000, 200) if small else (ETL_ROWS, API_ROWS)
        self.inputs = (
            gen.zip_inputs(os.path.join(work, "in"), seed, rows),
            gen.zip_inputs(os.path.join(work, "in"), seed + 1, api_rows, "api"),
        )
        # a tenth of the size: first executions cost the same at any size
        self.warm_inputs = (
            gen.zip_inputs(os.path.join(work, "warm"), seed + 2, rows // 10),
            gen.zip_inputs(os.path.join(work, "warm"), seed + 3, api_rows // 10, "api"),
        )
        self.n = 0
        self.stats = None  # accumulator of client call statistics (traced run)
        self.tracer = None
        # RunResult counters per operation, the target after the cycle,
        # and the enriched rows of the API-bound operation (no call fails)
        z, a = self.inputs
        counts = verify.expected_counts(z)
        self.expected = {
            "cold": [(True, *counts["cold"])],
            "incr": [(True, *counts["incr"])],
            "skip": [(False, 0, 0)] * SKIP_TRIGGERS,
            "target": verify.expected_target(z, COLD_NOW, INCR_NOW),
            "api": verify.expected_target(
                dataclasses.replace(a, fail_zips=frozenset()), COLD_NOW
            )[verify.ENRICHED_COLUMNS],
        }

    def warm_up(self, spark) -> dict[str, float]:
        return self.cycle(spark, self.warm_inputs)[0]

    def _drain(self, spark, dirs, csv, now, factory):
        return trigger.process_triggers_available_now(
            spark, dirs["queue"], dirs["ckpt"], csv, dirs["target"], dirs["control"],
            now=now, client_factory=factory,
        )

    def _enrich(self, spark, csv):
        """``run_etl``'s steps 2 and 4 on ``csv``, through the waiting
        client; the enriched rows, collected."""
        incoming = read_zip_csv(spark, csv).withColumn(
            "CompositeKey", composite_key("ZipCode", "StateCode")
        )
        todo = pipeline.dedup_incoming(incoming, "error")
        factory = client_factory(API_DELAY_S, (), self.stats)
        return pipeline.enrich_dataframe(todo, factory).toArrow()

    def cycle(self, spark, inputs=None):
        """One timed cycle on the benchmark inputs, checked against their
        expected outcome; or, given other ``inputs``, an unchecked one.
        Returns (seconds per operation, CPU seconds, problems per operation)."""
        z, a = inputs or self.inputs
        check = inputs is None
        self.n += 1
        root = os.path.join(self.work, f"cycle{self.n}")
        dirs = {k: os.path.join(root, k) for k in ("queue", "ckpt", "target", "control")}
        plan = (
            ("cold", z.full_csv, COLD_NOW, client_factory(0.0, z.fail_zips, self.stats), 1),
            ("incr", z.incr_csv, INCR_NOW, client_factory(0.0, (), self.stats), 1),
            ("skip", z.incr_csv, INCR_NOW, client_factory(0.0, (), self.stats), SKIP_TRIGGERS),
        )
        secs, problems = {}, {}
        cpu0 = cpu_seconds()
        for op, csv, now, factory, n_triggers in plan:
            if self.tracer:
                self.tracer.op = op
            t0 = time.perf_counter()
            for _ in range(n_triggers):
                trigger.send_trigger(dirs["queue"])
            if self.tracer:
                results = self.tracer.span("drain", self._drain, spark, dirs, csv, now, factory)
            else:
                results = self._drain(spark, dirs, csv, now, factory)
            secs[op] = time.perf_counter() - t0
            if check:
                got = [(r.should_run, r.rows_incoming, r.rows_to_process) for r in results]
                want = self.expected[op]
                problems[op] = [] if got == want else [f"run results {got} != {want}"]
        if self.tracer:
            self.tracer.op = "api"
        t0 = time.perf_counter()
        enriched = self._enrich(spark, a.full_csv)
        secs["api"] = time.perf_counter() - t0
        cpu = cpu_seconds() - cpu0
        if check:
            # the final table holds the cold run's rows (ImportId 1) and
            # the incremental run's (ImportId 2): one check covers both
            target = verify.target_problems(
                verify.read_target(dirs["target"]), self.expected["target"]
            )
            problems["cold"] += target
            problems["incr"] += target
            problems["api"] = verify.target_problems(
                enriched.to_pandas()[verify.ENRICHED_COLUMNS], self.expected["api"]
            )
        shutil.rmtree(root)
        return secs, cpu, problems

    # --- traced run ---------------------------------------------------
    def install(self, tracer, spark) -> None:
        self.tracer = tracer
        self.stats = spark.sparkContext.accumulator(StatsParam().zero(None), StatsParam())

        def run_etl(orig):
            def w(*a, **kw):
                res = tracer.span("run_etl", orig, *a, **kw)
                tracer.counts[f"{tracer.op}.runs"] += 1
                tracer.counts[f"{tracer.op}.rows_incoming"] += res.rows_incoming
                tracer.counts[f"{tracer.op}.rows_to_process"] += res.rows_to_process
                return res
            return w

        def gate(orig):
            def w(*a, **kw):
                ok = tracer.span("gate", orig, *a, **kw)
                tracer.counts["gate.attempts"] += 1
                tracer.counts["gate.skipped"] += int(not ok)
                return ok
            return w

        def enrich(orig):
            def w(*a, **kw):
                out = orig(*a, **kw)  # lazy: the next action runs the enrichment
                tracer.set_group("enrich")
                return out
            return w

        def merge(orig):
            def w(spark_, updates, path, *a, **kw):
                before = _bucket_files(path)
                out = tracer.span("merge", orig, spark_, updates, path, *a, **kw)
                after = _bucket_files(path)
                touched = [b for b, files in after.items() if before.get(b) != files]
                tracer.counts[f"{tracer.op}.buckets_touched"] += len(touched)
                tracer.counts[f"{tracer.op}.rows_rewritten"] += sum(
                    pq.ParquetFile(os.path.join(path, b, f)).metadata.num_rows
                    for b in touched for f in after[b]
                )
                return out
            return w

        tracer.wrap(trigger, "run_etl", "run_etl", run_etl)
        tracer.wrap(pipeline, "file_checksum", "checksum")
        tracer.wrap(pipeline, "evaluate_run_gate", "gate", gate)
        tracer.wrap(pipeline, "dedup_incoming", "dedup_check")
        tracer.wrap(pipeline, "enrich_dataframe", "enrich", enrich)
        tracer.wrap(sinks, "upsert_parquet", "merge", merge)
        tracer.wrap(sinks, "control_insert_running", "control")
        tracer.wrap(sinks, "control_finalize", "control")

    def layer_metrics(self, tracer) -> dict[str, float]:
        jobs = tracer.job_stats()
        c = tracer.counts

        def span_s(name, ops=self.ops):
            return sum(s.seconds for s in tracer.spans if s.name == name and s.op in ops)

        def job(name, field, ops=self.ops):
            return sum(jobs.get(f"{op}|{name}", {}).get(field, 0.0) for op in ops)

        calls, rows, failed, busy, tasks = self.stats.value
        cold = ("cold",)
        # layers of the cold run_etl: its own spans, plus the jobs it runs
        # directly (scan count) and under the enrich group
        layered_cold = (
            sum(span_s(n, cold) for n in ("checksum", "gate", "control", "dedup_check", "merge"))
            + job("run_etl", "job_s", cold) + job("enrich", "job_s", cold)
        )
        incoming = c["cold.rows_incoming"] + c["incr.rows_incoming"]
        to_process = c["cold.rows_to_process"] + c["incr.rows_to_process"]
        return {
            "trigger.drain_s": span_s("drain", ("skip",)),
            "trigger.overhead_s": span_s("drain", ("skip",)) - span_s("run_etl", ("skip",)),
            "trigger.runs": c["skip.runs"],
            "batch.checksum_s": span_s("checksum"),
            "gate.eval_s": span_s("gate"),
            "gate.attempts": c["gate.attempts"],
            "gate.skipped": c["gate.skipped"],
            "pipeline.dedup_check_s": span_s("dedup_check"),
            "pipeline.rows_incoming": incoming,
            "pipeline.rows_to_process": to_process,
            "pipeline.todo_frac": to_process / incoming,
            "enrich.exec_s": job("enrich", "job_s"),
            "enrich.tasks": tasks,
            "enrich.rows": rows,
            "enrich.calls": calls,
            "enrich.failed_rows": failed,
            "enrich.busy_s": busy,
            "sink.merge_s": span_s("merge"),
            "sink.control_s": span_s("control"),
            "sink.buckets_touched": c["incr.buckets_touched"],
            "sink.bytes_written_mib": job("merge", "output_mib") + job("control", "output_mib"),
            "sink.rewrite_ratio": c["incr.rows_rewritten"] / c["incr.rows_to_process"],
            "trace.residual_s": span_s("run_etl", cold) - layered_cold,
        }


def _bucket_files(path: str) -> dict[str, frozenset[str]]:
    """``__bucket=k`` dir -> its parquet files, for a MERGE target."""
    if not os.path.isdir(path):
        return {}
    return {
        b: frozenset(f for f in os.listdir(os.path.join(path, b)) if f.endswith(".parquet"))
        for b in os.listdir(path) if b.startswith("__bucket=")
    }


class Queries:
    """bench.py's 16 headline queries as two families, relational and
    curation: each query's plan build plus its noop-sink execution. A
    cycle is ``QUERY_PASSES`` passes over both families and reports each
    family's median pass, so one slow pass does not move the result."""

    wall_ops = ("relational", "curation")
    layers = ("relational.", "curation.", "q.")

    def __init__(self, work: str, seed: int, small: bool) -> None:
        self.sf_dir = os.path.join(work, "sf")
        self.tables = gen.query_tables(self.sf_dir, seed, 0.002 if small else QUERY_SF)
        names = bench.BENCH_QUERIES
        self.families = {"relational": names[:10], "curation": names[10:]}
        self.ops = tuple(names)
        self.tracer = None
        self.plan_s: dict[str, float] = {}

    def warm_up(self, spark) -> dict[str, float]:
        return self.cycle(spark, passes=1)[0]

    def cycle(self, spark, passes=QUERY_PASSES):
        """Returns (median seconds per family, CPU seconds per pass, {})."""
        qs = registry.queries()
        times: dict[str, list[float]] = {fam: [] for fam in self.families}
        n_passes = 1 if self.tracer else passes
        cpu0 = cpu_seconds()
        for _ in range(n_passes):
            for fam, names in self.families.items():
                t0 = time.perf_counter()
                for name in names:
                    if self.tracer:
                        tr = self.tracer
                        tr.op = name
                        df = tr.span("build", qs[name], spark, self.sf_dir)
                        self.plan_s[name] = tr.span("plan", catalyst_seconds, df)
                        tr.span("exec", _noop, df)
                    else:
                        _noop(qs[name](spark, self.sf_dir))
                times[fam].append(time.perf_counter() - t0)
        cpu = (cpu_seconds() - cpu0) / n_passes
        return {fam: statistics.median(t) for fam, t in times.items()}, cpu, {}

    def check(self, spark) -> dict[str, list[str]]:
        """Per query, the oracle differences of its result, collected
        once more after the timed passes."""
        qs = registry.queries()
        results = {name: qs[name](spark, self.sf_dir).toArrow().to_pandas() for name in self.ops}
        return verify.query_problems(results, self.tables)

    def install(self, tracer, spark) -> None:
        self.tracer = tracer

    def layer_metrics(self, tracer) -> dict[str, float]:
        jobs = tracer.job_stats()

        def span_s(name, op):
            return sum(s.seconds for s in tracer.spans if s.name == name and s.op == op)

        out = {}
        for fam, names in self.families.items():
            groups = [jobs.get(f"{q}|{p}", {}) for q in names for p in ("build", "exec")]
            out.update({
                f"{fam}.build_s": sum(span_s("build", q) for q in names),
                f"{fam}.build_jobs": sum(jobs.get(f"{q}|build", {}).get("jobs", 0) for q in names),
                f"{fam}.plan_s": sum(self.plan_s[q] for q in names),
                f"{fam}.exec_s": sum(span_s("exec", q) for q in names),
                f"{fam}.shuffle_mib": sum(g.get("shuffle_mib", 0.0) for g in groups),
                f"{fam}.spill_mib": sum(g.get("spill_mib", 0.0) for g in groups),
                f"{fam}.gc_s": sum(g.get("gc_s", 0.0) for g in groups),
            })
            for q in names:
                out[f"q.{q}.build_s"] = span_s("build", q)
                out[f"q.{q}.exec_s"] = span_s("exec", q)
        return out


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


WORKLOADS = {"etl_bulk": EtlBulk, "queries": Queries}
