"""Benchmark of the trigger-path ETL run and the bench query families.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 5 --trace 0

One Spark session at ``local[<cpus>]`` and one request in flight; the
workloads are in ``workloads.py``. Set-up (``setup_s``) is the session
launch plus the workload's untimed warm-up on its own code path, so no
timed cycle includes a first execution in a fresh JVM. Timed cycles
then repeat until ``--seconds`` have passed (at least one). Outputs are
checked outside the timed region. The last stdout line is one JSON
object with the end-to-end metrics (set-up seconds, the wall seconds of
the workload's ``wall_ops`` per cycle, CPU seconds per cycle of the
session's processes, their peak memory, the share of operations that
completed with verified output), or with ``--trace 1`` the per-layer
metrics of one more, traced cycle, next to the untraced cycle's wall
time. Scratch files go under ``.perfbench/`` in the
checkout; a run's full record, wall times per operation included, goes
to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("etl_bulk", "queries")
YOUNG_MIB = 512


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true", help="tiny inputs, for the tests")
    return p.parse_args(argv)


# --- host and session -----------------------------------------------------


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """An eighth of host RAM, at most 2 GiB (the engine's 16g default
    exceeds small hosts)."""
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{min(2048, total_kib // 8192)}m"


def launch(work: str):
    """Start the session; everything it writes stays under ``work``."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # for every JVM, the launcher's too: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    from net7_etl_bus_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpu_count()}]",
        extra_conf={
            # a fixed heap and young generation: how much of the heap the
            # collector touches then follows the program, not how fast the
            # host ran its pauses
            "spark.driver.extraJavaOptions": f"-Xms{driver_mem()} -Xmn{YOUNG_MIB}m",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_shape(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "driver_java_options": sc.getConf().get("spark.driver.extraJavaOptions"),
    }


# --- the run --------------------------------------------------------------


def measure(args, work: str) -> tuple[dict, dict]:
    """Returns (result line, full record for stderr)."""
    import bench
    from perfbench.procs import peak_rss_mib, stop
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS as CLASSES

    load_before, load_gate = bench.wait_for_quiet_host()
    record = {"canary_s": bench._cpu_canary(), "load_gate": load_gate,
              "loadavg_before": load_before, "phases": {}}
    phases = record["phases"]
    t = time.perf_counter()
    workload = CLASSES[args.workload](work, args.seed, args.small)
    phases["inputs_s"] = time.perf_counter() - t

    t0 = time.perf_counter()
    spark = launch(work)
    try:
        phases["launch_s"] = time.perf_counter() - t0
        record["warm_up"] = workload.warm_up(spark)  # seconds per operation
        setup_s = phases["setup_s"] = time.perf_counter() - t0
        record["session"] = session_shape(spark)

        samples: list[dict[str, float]] = []
        cpus: list[float] = []
        problems: dict[str, list[str]] = {}
        attempted = failed = ok = 0
        t_measure = time.perf_counter()
        while not samples or time.perf_counter() - t_measure < args.seconds:
            attempted += len(workload.ops)
            try:
                secs, cpu, probs = workload.cycle(spark)
            except Exception:  # noqa: BLE001 - count the failed cycle, keep the record
                failed += len(workload.ops)
                log(traceback.format_exc())
                break
            samples.append(secs)
            cpus.append(cpu)
            ok += sum(1 for op in workload.ops if not probs.get(op))
            problems.update({op: p for op, p in probs.items() if p})
        phases["measure_s"] = time.perf_counter() - t_measure
        if hasattr(workload, "check"):
            # results collected after the timed passes stand for every cycle
            t = time.perf_counter()
            bad = {q: p for q, p in workload.check(spark).items() if p}
            ok -= len(bad) * len(samples)
            problems.update(bad)
            phases["check_s"] = time.perf_counter() - t

        # On a shared host the wall time of compute moves by a quarter with
        # neighbours' load, so compute is gated by the CPU seconds the
        # session spends, and wall time only on the operations that wait
        # (etl_bulk) or are repeated within the cycle (queries).
        cycle_s = statistics.median(sum(s.values()) for s in samples) if samples else 0.0
        rss = record["rss_mib"] = peak_rss_mib()
        metrics: dict[str, tuple[float, str]] = {
            "setup_s": (setup_s, "s"),
            "wall_s": (
                statistics.median(sum(s[op] for op in workload.wall_ops) for s in samples)
                if samples else 0.0, "s",
            ),
            "cpu_s": (statistics.median(cpus) if cpus else 0.0, "s"),
            "mem_mib": (sum(rss.values()), "MiB"),
            "ok_frac": (max(ok, 0) / attempted, "fraction"),
        }
        if args.trace and samples:
            tracer = Tracer(spark)
            workload.install(tracer, spark)
            secs, _, probs = workload.cycle(spark)
            tracer.unwrap()
            problems.update({f"traced {op}": p for op, p in probs.items() if p})
            units = layer_units()
            bypassed = tuple(p for c in CLASSES.values() if c is not type(workload)
                             for p in c.layers)
            layers = {n: 0.0 for n in units if n.startswith(bypassed)}
            layers.update(workload.layer_metrics(tracer))
            layers["session.launch_s"] = phases["launch_s"]
            layers["cycle.wall_s"] = cycle_s
            layers["trace.overhead_s"] = sum(secs.values()) - cycle_s
            tracer.write_spans(os.path.join(SCRATCH, f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = {k: (v, units[k]) for k, v in layers.items()}
        record.update(cycle_s=cycle_s, samples=samples, cpu_s=cpus, problems=problems,
                      loadavg_after=bench._loadavg())
        result = {
            "correct": failed == 0 and not any(problems.values()),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, record
    finally:
        stop(spark)


def layer_units() -> dict[str, str]:
    """Per-layer metric name -> unit, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # bench.py's quiet-host gate only records a busy host here: its
    # 150 s default wait would not fit the run's time limit
    os.environ.setdefault("SPARK_GRAFT_BENCH_LOAD_RETRY_SEC", "0")
    work = os.path.join(SCRATCH, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # before any import uses tempfile
    t = time.perf_counter()
    try:
        try:
            import perfbench.workloads  # noqa: F401 - needs the engine, bench.py, scripts/
        except ImportError as e:
            log(f"the engine's sources are not in this checkout: {e}")
            return 2
        result, record = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["phases"]["total_s"] = time.perf_counter() - t  # after stop and clean-up
    log("record: " + json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
