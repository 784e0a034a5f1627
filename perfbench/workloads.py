"""The benchmark workloads: inputs, one closed-loop job, its output check,
and the layer prefixes the traced run materializes.

Every workload calls only public functions of the engine
(``operators/conflate.py``, ``operators/tiling.py``, ``operators/dedup.py``,
``grid.py``, ``geometry.py``).
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_merge_spark import geometry as G
from osm_merge_spark import grid
from osm_merge_spark.operators import conflate as C
from osm_merge_spark.operators import dedup as D
from osm_merge_spark.operators import tiling as T
from osm_merge_spark.sources import synth

from . import inputs as I
from .sinks import Sink, deliver, digest, row_hash, sorted_map

# task grid for the tile write: the synth AOI padded so every way lands in
# at least one tile; 150 km tasks keep the per-tile file count small
AOI = (synth.LON0 - 0.5, synth.LAT0 - 0.5, synth.LON0 + synth.LON_SPAN + 0.5, synth.LAT0 + synth.LAT_SPAN + 0.5)
TILE_M = 150_000.0

# fixed in-process kernel batches (rows / pairs), cut from the inputs
KERNEL_ROWS = 20_000
KERNEL_PAIRS = 20_000


def _identity(_layer, fn, *args, **kwargs):
    return fn(*args, **kwargs)


def _parallelism(spark) -> int:
    return spark.sparkContext.defaultParallelism * 2


def _median_rate(fn, work: float, min_s: float = 0.3, max_reps: int = 7) -> float:
    """work / median call time over at least 3 calls (more while under min_s)."""
    times: list[float] = []
    t_end = time.perf_counter() + min_s
    while len(times) < 3 or (time.perf_counter() < t_end and len(times) < max_reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return work / float(np.median(times))


def _ragged(col) -> tuple[np.ndarray, np.ndarray]:
    """pyarrow list<double> [x0,y0,...] column → (flat (N,2), offsets)."""
    arr = col.combine_chunks()
    offsets = (arr.offsets.to_numpy() - arr.offsets[0].as_py()) // 2
    flat = arr.flatten().to_numpy(zero_copy_only=False).reshape(-1, 2)
    return flat, offsets.astype(np.int64)


def map_entry_count(df: DataFrame, key_pattern: str) -> int:
    """Entries of the largest literal map in ``df``'s optimized plan whose
    keys match ``key_pattern`` — how the engine's inline skew maps (salted
    cells, hot band buckets) show up in the plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    best = 0
    for keys in re.findall(r"map\(keys: \[([^\]]*)\]", plan):
        parts = keys.split(",") if keys else []
        if parts and all(re.fullmatch(key_pattern, p.strip()) for p in parts):
            best = max(best, len(parts))
    return best


class ConflateWorkload:
    """Conflation of synth primaries into synth secondaries.  The conflated
    output is routed to task tiles and written as parquet per tile; the
    "new" output goes to the ``noop`` sink."""

    def __init__(self, name: str, size: I.ConflateSize):
        self.name = name
        self.size = size

    # -- inputs --------------------------------------------------------------

    def prepare(self, spark, workdir: str, seed: int) -> None:
        self.ext_path, self.osm_path = I.conflate_inputs(spark, workdir, seed, self.size)
        self.tile_path = os.path.join(workdir, "tiles")

    def load(self, spark) -> None:
        par = _parallelism(spark)
        self.primary = spark.read.parquet(self.ext_path).repartition(par, "ext_id")
        self.secondary = spark.read.parquet(self.osm_path).repartition(par, "way_id")
        ids = spark.read.parquet(self.ext_path).agg(
            F.count(F.lit(1)).alias("n"), digest("ext_id").alias("h")
        ).first()
        self.n_primary, self.primary_ids = int(ids["n"]), str(ids["h"])
        self.n_secondary = spark.read.parquet(self.osm_path).count()

    def n_units(self) -> int:
        return self.n_primary

    # -- one job -------------------------------------------------------------

    def _conflate(self, call=_identity):
        return call(
            "conflate.conflate", C.conflate, self.primary, self.secondary,
            salt_hot_threshold=self.size.salt_hot_threshold,
        )

    def _tiled(self, conflated, call=_identity):
        return call("tiling.assign_lines_to_tiles", T.assign_lines_to_tiles, conflated, *AOI, tile_m=TILE_M)

    def _write(self, df) -> None:
        T.write_by_tile(df, self.tile_path)

    @staticmethod
    def _new_sink(new) -> Sink:
        return Sink("new", new, {
            "ids": digest("ext_id"),
            "digest": digest("ext_id", "geom", "name", "ref", sorted_map("tags"), "version"),
        })

    @staticmethod
    def _conflated_cols():
        return ["ext_id", "way_id", sorted_map("tags"), "version", "dist", "hits",
                "name_ratio", "ref_ratio", "dslope", "angle", "geom"]

    def run(self, spark) -> list[Sink]:
        """One job: build the plan and deliver every output."""
        conflated, new = self._conflate()
        sinks = [Sink("tiles", self._tiled(conflated), write=self._write), self._new_sink(new)]
        deliver(sinks)
        return sinks

    def answers(self, spark, sinks: list[Sink]) -> dict:
        """Digests of both outputs; the tile files are read back, since a
        file write reports no observed counters."""
        new = sinks[1].values
        per_ext = spark.read.parquet(self.tile_path).groupBy("ext_id").agg(
            F.count(F.lit(1)).alias("tiles"),
            F.sum(row_hash("ext_id", "tile_id")).alias("tile_h"),
            F.count_distinct(row_hash(*self._conflated_cols())).alias("variants"),
            F.first(row_hash(*self._conflated_cols())).alias("h"),
        )
        c = per_ext.agg(
            F.count(F.lit(1)).alias("n"), F.sum("tiles").alias("tiles"), F.sum("tile_h").alias("tile_h"),
            F.max("variants").alias("variants"), F.sum("h").alias("h"), digest("ext_id").alias("ids"),
        ).first()
        return {
            "conflated": int(c["n"]), "conflated_digest": str(c["h"]),
            "conflated_variants": int(c["variants"] or 0),
            "tile_rows": int(c["tiles"]), "tile_digest": str(c["tile_h"]),
            "new": new["rows"], "new_digest": str(new["digest"]),
            "ids_digest": str(c["ids"] + new["ids"]),
        }

    def check(self, ans: dict) -> list[str]:
        errors = []
        if ans["conflated"] + ans["new"] != self.n_primary:
            errors.append(f"|conflated| + |new| = {ans['conflated'] + ans['new']} != |primary| = {self.n_primary}")
        if ans["ids_digest"] != self.primary_ids:
            errors.append("ext_id multiset of conflated + new differs from the primary's")
        if ans["conflated_variants"] > 1:
            errors.append("an ext_id carries two different conflated rows")
        if ans["conflated"] == 0 or ans["new"] == 0:
            errors.append("an output is empty")
        return errors

    # -- traced run ----------------------------------------------------------

    def layers(self) -> list[str]:
        return ["conflate.with_cells", "conflate.candidate_pairs", "conflate.score_pairs",
                "conflate.best_matches", "conflate.conflate", "tiling.assign_lines_to_tiles",
                "tiling.write_by_tile"]

    def prefix(self, layer: str, call) -> list[Sink]:
        """The sinks that materialize the pipeline up to and including ``layer``."""
        p, s = self.primary, self.secondary
        thr = self.size.salt_hot_threshold
        if layer == "conflate.with_cells":
            cells_p = call(layer, C.with_cells, p.select("ext_id", "geom"), "geom",
                           C.DEFAULT_CONFLATE_ZOOM, pad_m=C.DEFAULT_THRESHOLD_M, keep_bbox=True)
            cells_s = call(layer, C.with_cells, s.select("way_id", "geom"), "geom",
                           C.DEFAULT_CONFLATE_ZOOM, pad_m=0.0, keep_bbox=True)
            return [Sink("cells_p", cells_p), Sink("cells_s", cells_s)]
        pairs = call("conflate.candidate_pairs", C.candidate_pairs, p, s, salt_hot_threshold=thr)
        if layer == "conflate.candidate_pairs":
            return [Sink("pairs", pairs)]
        scored = call("conflate.score_pairs", C.score_pairs, pairs)
        if layer == "conflate.score_pairs":
            return [Sink("scored", scored)]
        if layer == "conflate.best_matches":
            # the decision columns conflate() hands to best_matches
            slim = scored.select("ext_id", "way_id", "hits", "dist", "dslope", "angle",
                                 "name_ratio", "ref_ratio")
            return [Sink("best", call(layer, C.best_matches, slim))]
        conflated, new = self._conflate(call)
        new_sink = Sink("new", new)
        if layer == "conflate.conflate":
            return [Sink("conflated", conflated), new_sink]
        tiled = self._tiled(conflated, call)
        if layer == "tiling.assign_lines_to_tiles":
            return [Sink("tiled", tiled), new_sink]
        return [Sink("tiles", tiled, write=self._write), new_sink]

    def measures(self, spark) -> dict:
        """Counts the traced run takes outside the layer prefixes."""
        pairs = C.candidate_pairs(self.primary, self.secondary, salt_hot_threshold=self.size.salt_hot_threshold)
        return {"cell_join_rows": self._cell_join_rows(), "salt_entries": map_entry_count(pairs, r"-?\d+")}

    def _cell_join_rows(self) -> int:
        """Rows the cell join meets before the bbox prune: sum over cells of
        |primary cells| x |secondary cells| (the engine fuses the prune into
        the join, so the join never reports this count itself)."""
        z = C.DEFAULT_CONFLATE_ZOOM
        cp = C.with_cells(self.primary.select("ext_id", "geom"), "geom", z, pad_m=C.DEFAULT_THRESHOLD_M)
        cs = C.with_cells(self.secondary.select("way_id", "geom"), "geom", z, pad_m=0.0)
        np_ = cp.groupBy("cell").agg(F.count(F.lit(1)).alias("a"))
        ns = cs.groupBy("cell").agg(F.count(F.lit(1)).alias("b"))
        r = np_.join(ns, "cell").agg(F.sum(F.col("a") * F.col("b")).alias("n")).first()
        return int(r["n"] or 0)

    # -- in-process kernels --------------------------------------------------

    def kernels(self) -> dict:
        """Kernel rates on fixed batches cut from the inputs, no Spark in the loop."""
        ext = pq.read_table(self.ext_path, columns=["ext_id", "src_key", "geom"])
        osm = pq.read_table(self.osm_path, columns=["way_id", "geom"])
        ext = ext.sort_by("ext_id").slice(0, KERNEL_ROWS * 2)
        flat, off = _ragged(ext.column("geom").slice(0, KERNEL_ROWS))
        verts = float(off[-1])
        cells, _rows = grid.cover_polyline(flat, off, C.DEFAULT_CONFLATE_ZOOM, pad_m=C.DEFAULT_THRESHOLD_M)
        m = {
            "grid.cover_polyline.verts_per_s": _median_rate(
                lambda: grid.cover_polyline(flat, off, C.DEFAULT_CONFLATE_ZOOM, pad_m=C.DEFAULT_THRESHOLD_M), verts
            ),
            "grid.cover_polyline.verts": verts,
            "grid.cover_polyline.cells": float(len(cells)),
        }
        dlon, dlat, nx, ny = T.grid_params(*AOI, TILE_M)
        _r, tiles = T.line_tiles_kernel(flat, off, AOI[0], AOI[1], dlon, dlat, nx, ny)
        m["tiling.line_tiles_kernel.verts_per_s"] = _median_rate(
            lambda: T.line_tiles_kernel(flat, off, AOI[0], AOI[1], dlon, dlat, nx, ny), verts
        )
        m["tiling.line_tiles_kernel.verts"] = verts
        m["tiling.line_tiles_kernel.tiles"] = float(len(tiles))
        # candidate pairs: each twin primary with the secondary it was derived from
        keys = ext.column("src_key").to_numpy(zero_copy_only=False)
        twin = np.nonzero(~np.isnan(keys.astype(np.float64)))[0][:KERNEL_PAIRS]
        way_ids = osm.column("way_id").to_numpy()
        order = np.argsort(way_ids)
        pos = order[np.searchsorted(way_ids, keys[twin].astype(np.int64), sorter=order)]
        fa, oa = _ragged(ext.column("geom").take(twin))
        fb, ob = _ragged(osm.column("geom").take(pos))
        A, B = G.pad_ragged(oa, fa), G.pad_ragged(ob, fb)
        n = float(len(twin))
        m["geometry.min_dist_pair_m.pairs_per_s"] = _median_rate(lambda: G.min_dist_pair_m(A, B), n)
        m["geometry.min_dist_pair_m.pairs"] = n
        m["geometry.min_dist_pair_m.vertex_pairs"] = float(A.shape[1] * B.shape[1]) * n
        m["geometry.endpoint_slope_angle.pairs_per_s"] = _median_rate(lambda: G.endpoint_slope_angle(A, B), n)
        return m


class NeardupWorkload:
    """MinHash-LSH pairs → connected-component clusters, plus simhash64 pairs."""

    MAX_HAMMING = 3

    def __init__(self, name: str, size: I.NeardupSize):
        self.name = name
        self.size = size

    def prepare(self, spark, workdir: str, seed: int) -> None:
        self.path = I.write_neardup(workdir, seed, self.size)

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(self.path).repartition(_parallelism(spark), "doc_id")

    def n_units(self) -> int:
        return self.size.docs

    def _sinks_minhash(self, mh) -> Sink:
        return Sink("minhash", mh, {
            "bad": F.sum((F.col("id_a") >= F.col("id_b")).cast("long")),
            "digest": digest("id_a", "id_b", "n_bands"),
        })

    def _sinks_simhash(self, sh) -> Sink:
        return Sink("simhash", sh, {
            "bad": F.sum((F.col("id_a") >= F.col("id_b")).cast("long")),
            "max_hamming": F.max("hamming"),
            "digest": digest("id_a", "id_b", "hamming"),
        })

    def _sinks_clusters(self, cl) -> Sink:
        return Sink("clusters", cl, {
            "bad": F.sum((F.col("cluster_id") > F.col("doc_id")).cast("long")),
            "keepers": F.sum((F.col("cluster_id") == F.col("doc_id")).cast("long")),
            "digest": digest("doc_id", "cluster_id"),
        })

    def run(self, spark) -> list[Sink]:
        """One job: build the plans and deliver every output."""
        mh = D.minhash_lsh_pairs(self.docs)
        sh = D.simhash64_pairs(self.docs, max_hamming=self.MAX_HAMMING)
        first = [self._sinks_minhash(mh), self._sinks_simhash(sh)]
        deliver(first)
        last = [self._sinks_clusters(D.dedup_clusters(mh.select("id_a", "id_b")))]
        deliver(last)
        return first + last

    def answers(self, spark, sinks: list[Sink]) -> dict:
        mh, sh, cl = (s.values for s in sinks)
        return {
            "minhash_pairs": mh["rows"], "minhash_bad": mh["bad"] or 0, "minhash_digest": str(mh["digest"]),
            "simhash_pairs": sh["rows"], "simhash_bad": sh["bad"] or 0,
            "simhash_max_hamming": sh["max_hamming"] or 0, "simhash_digest": str(sh["digest"]),
            "cluster_rows": cl["rows"], "clusters": cl["keepers"] or 0, "cluster_bad": cl["bad"] or 0,
            "cluster_digest": str(cl["digest"]),
        }

    def check(self, ans: dict) -> list[str]:
        errors = []
        if ans["minhash_bad"] or ans["simhash_bad"]:
            errors.append("a pair has id_a >= id_b")
        if ans["simhash_max_hamming"] > self.MAX_HAMMING:
            errors.append(f"simhash pair with hamming {ans['simhash_max_hamming']} > {self.MAX_HAMMING}")
        if ans["cluster_bad"]:
            errors.append("a cluster id is larger than its member")
        if not (ans["minhash_pairs"] and ans["simhash_pairs"] and ans["clusters"]):
            errors.append("an output is empty")
        return errors

    def layers(self) -> list[str]:
        return ["dedup.minhash_lsh_pairs", "dedup.simhash64_pairs", "dedup.dedup_clusters"]

    def prefix(self, layer: str, call) -> list[Sink]:
        mh = call("dedup.minhash_lsh_pairs", D.minhash_lsh_pairs, self.docs)
        sinks = [Sink("minhash", mh)]
        if layer == "dedup.minhash_lsh_pairs":
            return sinks
        sh = call("dedup.simhash64_pairs", D.simhash64_pairs, self.docs, max_hamming=self.MAX_HAMMING)
        sinks.append(Sink("simhash", sh))
        if layer == "dedup.simhash64_pairs":
            return sinks
        # dedup_clusters runs its label-propagation rounds while it is called
        deliver(sinks)
        cl = call("dedup.dedup_clusters", D.dedup_clusters, mh.select("id_a", "id_b"))
        return [Sink("clusters", cl, {"keepers": F.sum((F.col("cluster_id") == F.col("doc_id")).cast("long"))})]

    def measures(self, spark) -> dict:
        """Counts the traced run takes outside the layer prefixes."""
        return {"hot_buckets": map_entry_count(D.minhash_lsh_pairs(self.docs), r"\d+:-?\d+")}

    def kernels(self) -> dict:
        return {}


def make(name: str, scale: float = 1.0):
    """The named workload; ``scale`` shrinks inputs for the self-test."""

    def n(x: int) -> int:
        return max(int(x * scale), 50)

    if name == "conflate":
        return ConflateWorkload(name, I.ConflateSize(orders=n(20_000), n_pts=12,
                                                     salt_hot_threshold=max(int(20 * scale), 5)))
    if name == "neardup":
        docs = n(8_000)
        return NeardupWorkload(name, I.NeardupSize(docs=docs, clusters=docs // 15, boilerplate=docs // 20))
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("conflate", "neardup")
