#!/usr/bin/env python3
"""Repository benchmark: ER workloads on local[4], closed loop, one job
at a time, timed end to end and per layer.

    python3 perfbench/run.py --workload pages_er --seed 1 --seconds 10 --trace 0

Run from the repository root.  Set-up launches a fresh JVM with the
product's Spark configuration and writes the seeded inputs; its CPU
seconds are ``setup_s``.  Then one fresh, forced job runs, as the
product's spark-submit entry points run it: the first job of a
session, paying query compilation, JIT warm-up and Python worker
start.  Every output is counted and checked against the pins.  With
``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the session also writes Spark's event log,
knob-change re-runs follow the job until ``--seconds`` have passed
since it started (at least one), and the line carries the per-layer
metrics (spans, counts, and the log's task totals per layer).  A host
record is printed on the line before it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from probe import Tracer, fold_event_log, jvm_peak_rss_mb, tree_cpu_s  # noqa: E402
from workloads import WORKLOADS, catalog_writes  # noqa: E402

CORES = 4

#: span names of every workload's layer calls
SPAN_LAYERS = tuple(layer for wl in WORKLOADS.values() for layer in wl.layers)
#: layers folded from the event log: a span's job group up to its first dot
FOLD_LAYERS = tuple(dict.fromkeys(layer.split(".")[0] for layer in (*SPAN_LAYERS, "evaluate")))

#: CPU seconds only: on a shared VM wall times drift with the host's
#: load by a third between sets of runs (CPU seconds drift too; see
#: README)
END_TO_END = {
    "setup_s": "s",
    "job_cpu_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "extract.rows_out": "count",
        "extract.py_worker_s": "s",
        "blocking.postings_rows": "count",
        "blocking.pairs_out": "count",
        "blocking.pairs_per_posting": "ratio",
        "blocking.shuffle_write_mb": "MB",
        "matching.pairs_scored_per_s": "1/s",
        "matching.match_ratio": "ratio",
        "matching.shuffle_write_mb": "MB",
        "clustering.edges_in": "count",
        "clustering.components": "count",
        "clustering.jobs": "count",
        "catalog.bytes_written_mb": "MB",
        "catalog.files_written": "count",
        "catalog.writes": "count",
        "catalog.rerun_writes": "count",
        "evaluate.busy_s": "s",
        "harness.uncovered_s": "s",
        "job_s": "s",
        "records_per_s": "1/s",
        "rerun_s": "s",
        "jvm_peak_rss_mb": "MB",
    }
    for layer in SPAN_LAYERS:
        units[f"{layer}.busy_s"] = "s"
        units[f"{layer}.cpu_s"] = "s"
        if "." in layer:
            units[f"{layer}.rows_out"] = "count"
            units[f"{layer}.kill_rate"] = "ratio"
    for layer in FOLD_LAYERS:
        units[f"{layer}.tasks"] = "count"
        units[f"{layer}.gc_s"] = "s"
        units[f"{layer}.spill_mb"] = "MB"
        units[f"{layer}.task_skew"] = "ratio"
    return dict(sorted(units.items()))


def host_record() -> dict:
    """The machine the result was measured on; ``busy`` flags a start
    on a loaded box (1-min load average above a quarter of the cores)."""
    load1 = os.getloadavg()[0]
    mem_kb = int(Path("/proc/meminfo").read_text().split()[1])
    import pyspark

    sha = None
    head = ROOT / ".git" / "HEAD"
    if head.exists():
        sha = head.read_text().strip()
        if sha.startswith("ref: ") and (ROOT / ".git" / sha[5:]).exists():
            sha = (ROOT / ".git" / sha[5:]).read_text().strip()
    nproc = len(os.sched_getaffinity(0))
    return {
        "nproc": nproc,
        "mem_gb": round(mem_kb / 2**20, 1),
        "load1_at_start": load1,
        "busy": load1 > nproc / 4,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_sha": sha,
    }


def start_session(work: Path, trace: bool):
    """A session on a fresh JVM with the product's configuration; the
    benchmark adds only where temp, shuffle and warehouse files go, no
    JVM perf data file, and, traced, the event log."""
    from entity_resolution_pipeline_spark.session import _BASE_CONF, get_spark

    java_opts = _BASE_CONF["spark.driver.extraJavaOptions"]
    conf = {
        "spark.local.dir": str(work / "local"),
        # a later -D of the same property wins
        "spark.driver.extraJavaOptions": f"{java_opts} -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=2 * CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it (it exits when its stdin
    closes, taking its Python workers with it), and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


class Runner:
    """Times and checks jobs and re-runs; counts attempts and failures."""

    def __init__(self, wl, tracer):
        self.wl, self.tr = wl, tracer
        self.attempted = self.failed = 0

    def _attempt(self, what: str, run, check) -> dict | None:
        """The timed record of one call, or None when it raised.  A call
        whose outputs fail their check still returns its record."""
        self.attempted += 1
        try:
            since = time.time()
            c0, t0 = tree_cpu_s(), time.perf_counter()
            run(self.tr)
            rec = {"wall": time.perf_counter() - t0, "cpu": tree_cpu_s() - c0, "spans": self.tr.take()}
            rec["catalog"] = catalog_writes(self.wl.warehouse, since)
            problems = check(rec)
        except Exception:  # counted as failed; the caller decides whether to go on
            traceback.print_exc()
            self.failed += 1
            self.tr.take()
            return None
        if problems:
            print(f"{what} check failed: {problems}", file=sys.stderr)
            self.failed += 1
        return rec

    def job(self) -> dict | None:
        def check(rec):
            rec["layer"], problems = self.wl.check_job(self.tr)
            rec["check_spans"] = self.tr.take()
            return problems

        return self._attempt("job", self.wl.job, check)

    def rerun(self, i: int) -> dict | None:
        return self._attempt("rerun", lambda tr: self.wl.rerun(tr, i), lambda rec: self.wl.check_rerun())


def end_to_end(setup_cpu, job) -> dict[str, float]:
    return {"setup_s": setup_cpu, "job_cpu_s": job["cpu"]}


def per_layer(wl, job, reruns, folded, rss_mb) -> dict[str, float]:
    """Per-layer metrics of a traced run; raises when the event log lacks
    tasks of a layer the job ran, or extract's Python-worker time, so a
    missing measurement never reads as 0.  Metrics of layers the
    workload does not run read 0."""
    ran = [layer.split(".")[0] for layer in wl.layers]
    missing = [layer for layer in dict.fromkeys(ran + list(wl.checked_layers)) if not folded.get(layer, {}).get("tasks")]
    if "extract" in ran and not folded.get("extract", {}).get("py_worker_s"):
        missing.append("extract (time to run Python workers)")
    if missing:
        raise RuntimeError(f"the event log is missing {missing}")
    out = {name: 0.0 for name in per_layer_units()}
    out["job_s"] = job["wall"]
    out["records_per_s"] = wl.records / job["wall"]
    out["rerun_s"] = statistics.median(r["wall"] for r in reruns)
    out["jvm_peak_rss_mb"] = rss_mb

    def span_sum(name, field):
        return sum(s[field] for s in job["spans"] + job["check_spans"] if s[0] == name)

    for layer in SPAN_LAYERS:
        out[f"{layer}.busy_s"] = span_sum(layer, 1)
        out[f"{layer}.cpu_s"] = span_sum(layer, 2)
    out["evaluate.busy_s"] = span_sum("evaluate", 1)
    out["harness.uncovered_s"] = job["wall"] - sum(s[1] for s in job["spans"])
    out.update(job["layer"])
    for key in ("bytes_written_mb", "files_written", "writes"):
        out[f"catalog.{key}"] = job["catalog"][key]
    out["catalog.rerun_writes"] = statistics.median(r["catalog"]["writes"] for r in reruns)
    if out["blocking.postings_rows"]:
        out["blocking.pairs_per_posting"] = out["blocking.pairs_out"] / out["blocking.postings_rows"]
    pairs_in, matches = out.pop("matching.pairs_in", 0.0), out.pop("matching.matches", 0.0)
    if pairs_in:
        out["matching.match_ratio"] = matches / pairs_in
        out["matching.pairs_scored_per_s"] = pairs_in / out["matching.busy_s"]
    for layer, tot in folded.items():
        for key in ("tasks", "gc_s", "spill_mb", "task_skew"):
            out[f"{layer}.{key}"] = tot.get(key, 0.0)
    for layer in ("blocking", "matching"):
        out[f"{layer}.shuffle_write_mb"] = folded.get(layer, {}).get("shuffle_write_mb", 0.0)
    out["extract.py_worker_s"] = folded.get("extract", {}).get("py_worker_s", 0.0)
    out["clustering.jobs"] = folded.get("clustering", {}).get("jobs", 0.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    host = host_record()
    if host["busy"]:
        print(f"warning: 1-min load {host['load1_at_start']} at start on {host['nproc']} cores", file=sys.stderr)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")

    wl = WORKLOADS[args.workload](args.scale)
    c0 = tree_cpu_s()
    spark = start_session(work, bool(args.trace))
    wl.prepare(spark, work, args.seed)
    setup_cpu = tree_cpu_s() - c0

    runner = Runner(wl, Tracer(spark.sparkContext))
    since_ms = int(time.time() * 1000)
    deadline = time.perf_counter() + args.seconds
    job = runner.job()
    reruns = []
    # re-runs feed per-layer metrics only, so untraced runs skip them
    while job is not None and args.trace and (not reruns or time.perf_counter() < deadline):
        if (rec := runner.rerun(len(reruns))) is None:
            break
        reruns.append(rec)
    rss_mb = jvm_peak_rss_mb()
    app_id = spark.sparkContext.applicationId
    stop_jvm(spark)
    if job is None or (args.trace and not reruns):
        print("the job or its re-run raised", file=sys.stderr)
        return 1

    if args.trace:
        layer_of = lambda g: g.split(".")[0] if g and g.split(".")[0] in FOLD_LAYERS else None  # noqa: E731
        folded = fold_event_log(work / "eventlog" / app_id, since_ms, layer_of)
        values = per_layer(wl, job, reruns, folded, rss_mb)
        units = per_layer_units()
    else:
        values = end_to_end(setup_cpu, job)
        units = END_TO_END
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed, "reruns": len(reruns)}))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
