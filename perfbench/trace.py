"""The traced run: per-layer self time, rows, shuffle, skew, UDF time.

Each layer's self time comes from cumulative prefixes: prefix k
materializes the pipeline up to layer k (through the public functions, to
the ``noop`` sink or the layer's own writer), and layer k's self time is
prefix k minus prefix k-1.  Every prefix runs under its own Spark job
groups, so the event log can be split the same way:

- ``<k>.pre``   jobs fired while building the layers before k,
- ``<k>.build`` jobs fired while layer k's function builds its plan,
- ``<k>.run``   jobs that deliver the prefix's output.

Python UDF time comes from ``spark.sql.pyspark.udf.profiler=perf``,
cleared before each prefix; row counts from ``DataFrame.observe`` on the
delivered outputs.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field

from . import host
from .eventlog import EventLog
from .sinks import deliver, dir_stats

MB = 1 << 20

# per-layer metrics: name -> (unit, better).  A workload reports 0 for the
# layers it does not run.
LAYER_METRICS: dict[str, dict[str, tuple[str, str]]] = {
    "conflate.with_cells": {
        "self_s": ("s", "lower"), "udf_s": ("s", "lower"), "cells_per_feature": ("cells/feature", "lower"),
    },
    "grid.cover_polyline": {
        "verts_per_s": ("verts/s", "higher"), "verts": ("count", "higher"), "cells": ("count", "lower"),
    },
    "conflate.candidate_pairs": {
        "self_s": ("s", "lower"), "cell_join_rows": ("count", "lower"), "prune_keep": ("ratio", "lower"),
        "dup_factor": ("ratio", "lower"), "pairs_out": ("count", "lower"), "salt_entries": ("count", "lower"),
        "shuffle_mb": ("MB", "lower"), "task_skew": ("ratio", "lower"), "spill_mb": ("MB", "lower"),
        "build_jobs": ("count", "lower"),
    },
    "conflate.score_pairs": {
        "self_s": ("s", "lower"), "udf_s": ("s", "lower"), "refine_keep": ("ratio", "higher"),
    },
    "geometry.min_dist_pair_m": {
        "pairs_per_s": ("pairs/s", "higher"), "pairs": ("count", "higher"), "vertex_pairs": ("count", "lower"),
    },
    "geometry.endpoint_slope_angle": {"pairs_per_s": ("pairs/s", "higher")},
    "conflate.best_matches": {"self_s": ("s", "lower"), "shuffle_mb": ("MB", "lower")},
    "conflate.conflate": {
        "self_s": ("s", "lower"), "rows_conflated": ("count", "higher"), "rows_new": ("count", "lower"),
        "shuffle_mb": ("MB", "lower"), "cached_after": ("count", "lower"),
    },
    "tiling.assign_lines_to_tiles": {
        "self_s": ("s", "lower"), "udf_s": ("s", "lower"), "tiles_per_feature": ("tiles/feature", "lower"),
    },
    "tiling.line_tiles_kernel": {
        "verts_per_s": ("verts/s", "higher"), "verts": ("count", "higher"), "tiles": ("count", "lower"),
    },
    "tiling.write_by_tile": {"self_s": ("s", "lower"), "mb_written": ("MB", "lower"), "files": ("count", "lower")},
    "dedup.minhash_lsh_pairs": {
        "self_s": ("s", "lower"), "build_jobs": ("count", "lower"), "hot_buckets": ("count", "lower"),
        "pairs_out": ("count", "higher"), "shuffle_mb": ("MB", "lower"), "task_skew": ("ratio", "lower"),
        "cached_after": ("count", "lower"),
    },
    "dedup.simhash64_pairs": {
        "self_s": ("s", "lower"), "build_jobs": ("count", "lower"), "candidates": ("count", "lower"),
        "keep": ("ratio", "higher"), "shuffle_mb": ("MB", "lower"), "cached_after": ("count", "lower"),
    },
    "dedup.dedup_clusters": {
        "self_s": ("s", "lower"), "iterations": ("count", "lower"), "clusters": ("count", "higher"),
        "jobs": ("count", "lower"),
    },
    "sources.synth": {"gen_s": ("s", "lower")},
    "spark": {"gc_s": ("s", "lower"), "fetch_wait_s": ("s", "lower")},
    "trace": {"overhead_s": ("s", "lower")},
}


def metric_names() -> dict[str, tuple[str, str]]:
    return {f"{layer}.{m}": spec for layer, ms in LAYER_METRICS.items() for m, spec in ms.items()}


@dataclass
class Prefix:
    index: int
    layer: str
    wall_s: float = 0.0
    udf_s: float = 0.0
    persisted: int = 0
    sinks: list = field(default_factory=list)

    def groups(self) -> set[str]:
        return {f"{self.index}.pre", f"{self.index}.build", f"{self.index}.run"}


class Tracer:
    def __init__(self, spark, workload):
        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.prefixes: list[Prefix] = []
        self._current: Prefix | None = None

    def _group(self, suffix: str) -> None:
        p = self._current
        self.sc.setJobGroup(f"{p.index}.{suffix}", p.layer)

    def call(self, layer: str, fn, *args, **kwargs):
        """Call a layer's public function; jobs it fires while building its
        plan land in the build group when it is the prefix's own layer."""
        self._group("build" if layer == self._current.layer else "pre")
        try:
            return fn(*args, **kwargs)
        finally:
            self._group("pre")

    def run(self) -> None:
        collector = self.spark._profiler_collector
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            for k, layer in enumerate(self.wl.layers()):
                p = Prefix(k, layer)
                self._current = p
                collector.clear_perf_profiles()
                self._group("pre")
                t0 = time.perf_counter()
                p.sinks = self.wl.prefix(layer, self.call)
                self._group("run")
                deliver(p.sinks)
                p.wall_s = time.perf_counter() - t0
                p.udf_s = sum(st.total_tt for st in collector._perf_profile_results.values())
                p.persisted = len(self.sc._jsc.getPersistentRDDs())
                self.prefixes.append(p)
                host.release(self.spark)
        finally:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def _rows(p: Prefix, sink: str) -> float:
    return float(next(s.values["rows"] for s in p.sinks if s.name == sink))


def layer_metrics(tr: Tracer, log: EventLog, extra: dict) -> dict[str, float]:
    """Every per-layer metric, from the prefixes, the event log and the
    measurements in ``extra`` (cell_join_rows, salt_entries, hot_buckets,
    gen_s, overhead_s, kernels)."""
    wl = tr.wl
    out = {name: 0.0 for name in metric_names()}
    by_layer = {p.layer: p for p in tr.prefixes}
    prev: Prefix | None = None
    for p in tr.prefixes:
        g, pg = p.groups(), (prev.groups() if prev else set())
        own = {
            "self_s": p.wall_s - (prev.wall_s if prev else 0.0),
            "udf_s": p.udf_s - (prev.udf_s if prev else 0.0),
            "shuffle_mb": (log.total("shuffle_write_bytes", g) - log.total("shuffle_write_bytes", pg)) / MB,
            "spill_mb": (log.total("spill_bytes", g) - log.total("spill_bytes", pg)) / MB,
            "cached_after": float(p.persisted - (prev.persisted if prev else 0)),
            "build_jobs": float(log.job_count({f"{p.index}.build"})),
        }
        for m, v in own.items():
            key = f"{p.layer}.{m}"
            if key in out:
                out[key] = v
        prev = p

    if "conflate.with_cells" in by_layer:
        p = by_layer["conflate.with_cells"]
        out["conflate.with_cells.cells_per_feature"] = (_rows(p, "cells_p") + _rows(p, "cells_s")) / (
            wl.n_primary + wl.n_secondary
        )
        p = by_layer["conflate.candidate_pairs"]
        pairs = _rows(p, "pairs")
        joined = log.rows_out(p.groups(), "Join", "cell#")
        cjr = float(extra["cell_join_rows"])
        out.update({
            "conflate.candidate_pairs.pairs_out": pairs,
            "conflate.candidate_pairs.cell_join_rows": cjr,
            "conflate.candidate_pairs.prune_keep": joined / cjr if cjr else 0.0,
            "conflate.candidate_pairs.dup_factor": joined / pairs if pairs else 0.0,
            "conflate.candidate_pairs.salt_entries": float(extra["salt_entries"]),
            "conflate.candidate_pairs.task_skew": log.task_skew(p.groups(), "Join", "cell#"),
        })
        scored = _rows(by_layer["conflate.score_pairs"], "scored")
        out["conflate.score_pairs.refine_keep"] = scored / pairs if pairs else 0.0
        p = by_layer["conflate.conflate"]
        out["conflate.conflate.rows_conflated"] = _rows(p, "conflated")
        out["conflate.conflate.rows_new"] = _rows(p, "new")
    if "tiling.assign_lines_to_tiles" in by_layer:
        tiled = _rows(by_layer["tiling.assign_lines_to_tiles"], "tiled")
        conflated = out["conflate.conflate.rows_conflated"]
        out["tiling.assign_lines_to_tiles.tiles_per_feature"] = tiled / conflated if conflated else 0.0
        size, files = dir_stats(wl.tile_path)
        out["tiling.write_by_tile.mb_written"] = size / MB
        out["tiling.write_by_tile.files"] = float(files)
    if "dedup.minhash_lsh_pairs" in by_layer:
        p = by_layer["dedup.minhash_lsh_pairs"]
        out["dedup.minhash_lsh_pairs.pairs_out"] = _rows(p, "minhash")
        out["dedup.minhash_lsh_pairs.hot_buckets"] = float(extra["hot_buckets"])
        out["dedup.minhash_lsh_pairs.task_skew"] = log.task_skew(p.groups(), "Join", "bucket#")
        p = by_layer["dedup.simhash64_pairs"]
        # the (final) pair dedupe right before the hamming filter keeps first(blk_a)
        cands = log.rows_out(p.groups(), "Aggregate", "functions=[first(blk_a")
        keep = _rows(p, "simhash")
        out["dedup.simhash64_pairs.candidates"] = float(cands)
        out["dedup.simhash64_pairs.keep"] = keep / cands if cands else 0.0
        p = by_layer["dedup.dedup_clusters"]
        build = {f"{p.index}.build"}
        out["dedup.dedup_clusters.iterations"] = float(log.sql_executions(build))
        out["dedup.dedup_clusters.jobs"] = float(log.job_count(build | {f"{p.index}.run"}))
        out["dedup.dedup_clusters.clusters"] = float(
            next(s.values["keepers"] for s in p.sinks if s.name == "clusters")
        )
    out["sources.synth.gen_s"] = extra["gen_s"]
    out["spark.gc_s"] = log.total("gc_ms") / 1000.0
    out["spark.fetch_wait_s"] = log.total("fetch_wait_ms") / 1000.0
    out["trace.overhead_s"] = extra["overhead_s"]
    out.update(extra.get("kernels", {}))
    return out


def event_log_file(directory: str) -> str:
    files = [f for f in glob.glob(os.path.join(directory, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {files}")
    return files[0]
