"""Closed-loop benchmark of the engine's conflation and near-duplicate paths.

Usage, from the repository root::

    python3 perfbench/run.py --workload conflate --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One driver process runs one job at a time on ``local[nproc]`` over inputs
generated from ``--seed`` at set-up.  With ``--trace 0`` it repeats the
workload's job for ``--seconds`` and reports the end-to-end metrics: the
median job wall time, features (or documents) per second at that median,
the peak resident memory of the JVM and its Python workers over the timed
jobs, and the set-up time.  With ``--trace 1`` it runs the traced layer
prefixes (see ``trace.py``), then the job once untraced, and reports the
per-layer metrics.  Every job's output is checked; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  A full record,
with the host description and the output digests, is written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the engine and the benchmark; a checkout without the engine fails here
import osm_merge_spark  # noqa: E402,F401

from perfbench import host, trace, workloads  # noqa: E402
from perfbench.eventlog import EventLog  # noqa: E402

# set-up generates and materializes the inputs this many times; setup_s
# takes the median generation time
SETUP_REPS = 3
# jobs run before timing starts (Python workers, JIT, codegen)
WARMUP_JOBS = 1
END_TO_END = {
    "wall_s": "s",
    "features_per_s": "features/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def _pinned(workload: str, seed: int, scale: float) -> dict | None:
    """The pinned answers for this workload, seed and scale, if any."""
    with open(DIGESTS, encoding="utf-8") as f:
        pin = json.load(f).get(workload)
    return pin["answers"] if pin and (pin["seed"], pin["scale"]) == (seed, scale) else None


class Job:
    """Runs and checks one job; answers must match the first job's and,
    for the pinned seed, the pinned answers."""

    def __init__(self, spark, wl, reference: dict | None):
        self.spark, self.wl = spark, wl
        self.reference = reference
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def __call__(self) -> tuple[float, dict | None]:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            sinks = self.wl.run(self.spark)
            wall = time.perf_counter() - t0
            ans = self.wl.answers(self.spark, sinks)
        except Exception:  # a failed job is counted, reported and the loop goes on
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return time.perf_counter() - t0, None
        finally:
            host.release(self.spark)
        errs = self.wl.check(ans)
        if self.reference is None:
            self.reference = ans
        elif ans != self.reference:
            errs.append(f"answers differ from the reference: {ans} != {self.reference}")
        if errs:
            self.failed += 1
            self.errors.extend(errs)
        return wall, ans


def bench(wl, args, workdir: str) -> dict:
    ev_dir = os.path.join(workdir, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = host.build_spark(workdir, ev_dir)
    session_s = time.perf_counter() - t0
    record: dict = {"workload": wl.name, "seed": args.seed, "host": host.describe(spark, args.seed)}
    try:
        gens = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(spark, os.path.join(workdir, "inputs"), args.seed)
            gens.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.load(spark)
        job = Job(spark, wl, _pinned(wl.name, args.seed, args.scale))
        for _ in range(WARMUP_JOBS):  # checked, not timed
            job()
        warm_s = time.perf_counter() - t
        record["setup"] = {"session_s": session_s, "gen_s": gens, "load_and_warmup_s": warm_s}
        setup_s = session_s + statistics.median(gens) + warm_s
        if args.trace:
            tracer, extra = traced(spark, wl, job, statistics.median(gens), record)
        else:
            metrics = timed(spark, wl, job, args.seconds, record)
            metrics["setup_s"] = setup_s
        record["answers"] = job.reference
        record["errors"] = job.errors
    finally:
        host.stop_spark(spark)
    if args.trace:  # the event log is complete once the session has stopped
        metrics = trace.layer_metrics(tracer, EventLog(trace.event_log_file(ev_dir)), extra)
    record["metrics"] = metrics
    record["attempted"], record["failed"] = job.attempted, job.failed
    return record


def timed(spark, wl, job: Job, seconds: float, record: dict) -> dict:
    walls, peaks = [], []
    with host.RssSampler(host.jvm_pid(spark)) as rss:
        t_end = time.perf_counter() + seconds
        first = job.attempted
        while job.attempted == first or time.perf_counter() < t_end:
            rss.peak()
            wall, ans = job()
            if ans is not None:
                walls.append(wall)
                peaks.append(rss.peak())
    record["walls_s"], record["peak_rss_bytes"] = walls, peaks
    if not walls:
        raise RuntimeError("every timed job failed:\n" + "\n".join(job.errors))
    wall = statistics.median(walls)
    return {
        "wall_s": wall,
        "features_per_s": wl.n_units() / wall,
        "peak_rss_mb": max(peaks) / (1 << 20),
    }


def traced(spark, wl, job: Job, gen_s: float, record: dict) -> tuple[trace.Tracer, dict]:
    tr = trace.Tracer(spark, wl)
    tr.run()
    # the untraced twin of the last prefix, run as warm as the prefixes were
    untraced, _ = job()
    spark.sparkContext.setJobGroup("measures", "counts outside the layer prefixes")
    extra = wl.measures(spark)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    host.release(spark)
    extra["kernels"] = wl.kernels()
    extra["gen_s"] = gen_s
    extra["overhead_s"] = tr.prefixes[-1].wall_s - untraced
    record["prefix_walls_s"] = {p.layer: p.wall_s for p in tr.prefixes}
    record["untraced_wall_s"] = untraced
    return tr, extra


def run_one(args) -> int:
    wl = workloads.make(args.workload, args.scale)
    workdir = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        record = bench(wl, args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        units = {k: u for k, (u, _b) in trace.metric_names().items()}
    else:
        units = END_TO_END
    metrics = {k: {"value": float(record["metrics"][k]), "unit": units[k]} for k in units}
    attempted, failed = record["attempted"], record["failed"]
    for err in record["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    print(f"host: {json.dumps(record['host'])}")
    for k, m in metrics.items():
        print(f"{wl.name} {k} {m['value']:.6g} {m['unit']}")
    print(f"{wl.name} error_rate {failed / attempted:.6g} fraction")
    print(f"{wl.name} output check: {'ok' if failed == 0 else 'FAILED'} ({attempted} jobs); record {path}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process (one session each)."""
    results = {}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr)
            print(f"{name}: failed with exit code {proc.returncode}")
            return 1
        print("\n".join(lines[:-1]))
        results[name] = json.loads(lines[-1])
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    metrics = {f"{w}.{k}": m for w, r in results.items() for k, m in r["metrics"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*workloads.WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (the self-test uses 0.001)")
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
