"""Core-scaling ladder for the HEAVY registry keys (OPTIMIZATION_r14
item 2 / VERDICT r13 item 2): the driver's 8-vs-32-core probe runs the
sub-second headline set, which is launch-overhead-bound at sf0.1 and
measures ~1.0 ratios regardless of the engine. This ladder times the
keys that carry real parallel work (multi-second: graph iterations,
the verified dedup cascade, trained semdedup / IVF-PQ) at each core
count in ``--cores`` — one subprocess per point, because a local[N]
master is fixed at JVM launch.

Output: CORELADDER.json — per-key median seconds per core count plus
the low/high ratio (>1 = more cores genuinely helped).

Usage:
    python scripts/coreladder.py [--cores 8,32] [--reps 3] [--out CORELADDER.json]
    python scripts/coreladder.py --worker 8 --reps 3     (internal)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEAVY_KEYS = [
    "graph_label_propagation",
    "graph_pagerank",
    "dedup_minhash_verified",
    "emb_semdedup_trained",
    "sim_search_ivfpq_trained",
]

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def worker(cores: int, reps: int) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from net7_etl_bus_spark.plans import registry
    from net7_etl_bus_spark.session import get_spark

    spark = get_spark(f"coreladder-c{cores}")
    qs = registry.queries()
    out: dict[str, float] = {}
    for name in HEAVY_KEYS:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"coreladder c{cores} warm {name}")
        fn(spark, SF).write.mode("overwrite").format("noop").save()  # untimed warmup
        ts = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"coreladder c{cores} {name} {r}")
            t0 = time.perf_counter()
            fn(spark, SF).write.mode("overwrite").format("noop").save()
            ts.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(ts), 3)
        print(f"# c{cores} {name}: {out[name]}s {sorted(round(t,2) for t in ts)}",
              file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "CORELADDER.json"))
    ap.add_argument("--worker", type=int, default=None)
    args = ap.parse_args()
    if args.worker is not None:
        worker(args.worker, args.reps)
        return
    points = sorted({int(c) for c in args.cores.split(",")})
    results: dict[str, dict[str, float]] = {}
    for c in points:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(c))
        # stderr streams through, so a failing worker shows its traceback
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--worker", str(c), "--reps", str(args.reps)],
            env=env, stdout=subprocess.PIPE, text=True, check=True,
        )
        results[str(c)] = json.loads(proc.stdout.strip().splitlines()[-1])
    lo, hi = str(points[0]), str(points[-1])
    ratios = {
        k: round(results[lo][k] / results[hi][k], 2) for k in HEAVY_KEYS
    }
    record = {
        "metric": "core_scaling_heavy_keys",
        "sf_dir": SF,
        "reps": args.reps,
        "cores": points,
        "per_key_sec": results,
        "ratio_low_over_high": ratios,
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps(record, sort_keys=True))


if __name__ == "__main__":
    main()
