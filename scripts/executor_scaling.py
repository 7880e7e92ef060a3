"""Executor-count scaling evidence: 1 → 2 → 3 → 4 separate JVM
executors (local[8] each), the same per-executor end-to-end ER job,
run concurrently — a weak-scaling CURVE across executor processes
(r3 VERDICT #6 asked for the 3-executor point and a same-session
envelope to report each point against).

`local[32]` is one JVM; its shared allocation path is a measured
ceiling (scripts/ceiling_bench.py) that a real multi-executor cluster
does not have.  Separate processes with separate heaps are the closest
faithful model of "N -> 4N executors" this sandbox allows (north rule).

Because k concurrent executors on ONE box share its memory bus and
disk (which distinct cluster nodes do not), the script also measures a
SAME-SHAPE envelope at every level: k concurrent single-JVM shuffle
microbenches (fixed work per JVM, in-JVM timed), i.e. the best weak
efficiency ANY shuffle-bound job can show at k co-located JVMs on this
host today.  The headline per point is er_eff(k) / envelope_eff(k).

Usage: python scripts/executor_scaling.py [--entities 500000]
       [--levels 1,2,3,4] [--repeats 2] [--no-envelope]
(prints one JSON line)
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import importlib.util

REPO = Path(__file__).resolve().parent.parent

spec = importlib.util.spec_from_file_location(
    "sb", Path(__file__).resolve().parent / "scaling_bench.py"
)
sb = importlib.util.module_from_spec(spec)
spec.loader.exec_module(sb)

# Fixed-work shuffle microbench, one JVM, in-JVM timed (startup
# excluded).  25M rows -> 2.5M keys keeps a level under ~30 s while
# still being firmly shuffle/memory-bound.
ENVELOPE_CODE = """
import sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from entity_resolution_pipeline_spark.session import get_spark
spark = get_spark("envelope", master="local[{cores}]", shuffle_partitions={shufp})
spark.sparkContext.setLogLevel("ERROR")
df = spark.range(25_000_000)
# warm the JVM/codegen once so the timed run measures steady state
df.limit(1_000_000).groupBy(F.pmod(F.col("id"), 100_000).alias("k")).agg(F.count("*")).agg(F.count("*")).collect()
t0 = time.time()
df.groupBy(F.pmod(F.col("id"), 2_500_000).alias("k")).agg(F.count("*")).agg(F.count("*")).collect()
print("RESULT", time.time() - t0)
"""


def _envelope_once(cores: int) -> float:
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            ENVELOPE_CODE.format(repo=str(REPO), cores=cores, shufp=2 * cores),
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(REPO),
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT"):
            return float(line.split()[1])
    raise RuntimeError(f"no RESULT (rc={out.returncode}):\n{out.stderr[-1000:]}")


def envelope_level(k: int, repeats: int, cores: int) -> tuple[float, list[float]]:
    """min over repeats of (max across k concurrent microbench JVMs)."""
    samples = []
    for _ in range(repeats):
        with ThreadPoolExecutor(k) as ex:
            ts = list(ex.map(lambda _: _envelope_once(cores), range(k)))
        samples.append(max(ts))
    return min(samples), [round(s, 1) for s in samples]


def one(entities: int, cores: int):
    # retry once: concurrent same-box JVMs occasionally lose a task
    # result to block-manager contention (TaskResultLost) — transient
    for attempt in (1, 2):
        try:
            t0 = time.time()
            r = sb._run_once(cores, entities, 64)
            return time.time() - t0, r["total"], r["pages"]
        except RuntimeError:
            if attempt == 2:
                raise


def level(k: int, entities: int, repeats: int, cores: int):
    """k concurrent executor JVMs, same per-executor job; min over
    repeats of the slowest executor's timed region.  A sample whose
    retried job still fails (shared-VM block-manager loss under
    concurrency) is dropped rather than killing the whole curve; the
    level needs >= 1 surviving sample."""
    samples = []
    pages = None
    for _ in range(repeats):
        try:
            with ThreadPoolExecutor(k) as ex:
                rs = list(ex.map(lambda _: one(entities, cores), range(k)))
        except Exception as exc:  # noqa: BLE001 — log and keep curve alive
            print(f"level {k}: sample failed: {exc}", file=sys.stderr)
            continue
        samples.append((max(r[1] for r in rs), [round(r[1], 1) for r in rs]))
        pages = rs[0][2]
    if not samples:
        raise RuntimeError(f"level {k}: all {repeats} samples failed")
    best = min(samples, key=lambda s: s[0])
    return best[0], best[1], pages, [round(s[0], 1) for s in samples]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entities", type=int, default=500000)
    ap.add_argument("--levels", default="1,2,3,4")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--no-envelope", action="store_true")
    ap.add_argument(
        "--cores-per-exec",
        type=int,
        default=8,
        help="threads per executor JVM (local[N]).  Small values let "
        "N-to-4N executor counts fit WITHOUT saturating the host "
        "(k*cores <= host cores/2 leaves the memory bus unshared — the "
        "condition distinct cluster nodes get for free); 8 saturates "
        "the box at k=4 and needs the envelope to interpret.",
    )
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]

    points = {}
    for k in levels:
        tk, per, pages, samples = level(k, args.entities, args.repeats, args.cores_per_exec)
        points[k] = {
            "t_max_sec": round(tk, 1),
            "per_executor_timed": per,
            "level_samples": samples,
            "weak_efficiency_vs_1": None,
            "aggregate_pages_per_sec": round(k * pages / tk, 1),
        }
        if not args.no_envelope:
            te, esamples = envelope_level(k, args.repeats, args.cores_per_exec)
            points[k]["envelope_t_sec"] = round(te, 1)
            points[k]["envelope_samples"] = esamples
    t1 = points[levels[0]]["t_max_sec"]
    e1 = points[levels[0]].get("envelope_t_sec")
    for k in levels[1:]:
        eff = t1 / points[k]["t_max_sec"]
        points[k]["weak_efficiency_vs_1"] = round(eff, 3)
        if e1:
            env_eff = e1 / points[k]["envelope_t_sec"]
            points[k]["envelope_efficiency"] = round(env_eff, 3)
            points[k]["eff_vs_envelope"] = round(eff / env_eff, 3)
    top = points[levels[-1]]
    print(
        json.dumps(
            {
                "metric": "executor_weak_scaling_curve",
                "value": top["weak_efficiency_vs_1"],
                "unit": "fraction",
                "value_vs_envelope": top.get("eff_vs_envelope"),
                "entities_per_executor": args.entities,
                "cores_per_exec": args.cores_per_exec,
                "points": points,
            }
        )
    )


if __name__ == "__main__":
    main()
