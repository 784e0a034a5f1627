"""Seeded input generation for the benchmark workloads.

The conflation inputs are the engine's own synthetic ways
(``osm_merge_spark.sources.synth``) over a seed-chosen key set; the
near-duplicate corpus is generated here with numpy.  The same seed always
gives the same inputs.  Everything is materialized to parquet so that the
timed runs scan plain tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# synth multiplies keys by ~2.7e9 in int64 arithmetic: keys below 40M (the
# range its novel ways remix into) stay far from overflow
_KEY_SPACE = 40_000_000


# near-duplicate corpus shape: tokens per doc, vocabulary size (large, so
# unrelated docs rarely share a band bucket), docs per planted cluster
DOC_TOKENS = 40
VOCAB = 1_000_000
CLUSTER_SIZE = 4


@dataclass(frozen=True)
class ConflateSize:
    orders: int  # distinct keys; each yields one secondary way and ~1 primary
    n_pts: int  # vertices per way
    salt_hot_threshold: int


@dataclass(frozen=True)
class NeardupSize:
    docs: int
    clusters: int  # planted near-duplicate clusters
    boilerplate: int  # docs of the one family that shares a hot band bucket


def seeded_keys(seed: int, n: int) -> np.ndarray:
    """``n`` distinct positive keys drawn from the seed, sorted."""
    rng = np.random.default_rng(seed)
    keys = np.unique(rng.integers(1, _KEY_SPACE, size=int(n * 1.2) + 16))
    return np.sort(rng.permutation(keys)[:n])


def write_orders(path: str, seed: int, n: int) -> None:
    """The one-column ``orders`` table that ``sources.synth`` derives ways from."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({"o_orderkey": pa.array(seeded_keys(seed, n), pa.int64())})
    pq.write_table(table, os.path.join(path, "orders.parquet"))


def conflate_inputs(spark, workdir: str, seed: int, size: ConflateSize) -> tuple[str, str]:
    """Materialize (primary, secondary) ways to parquet; returns their paths."""
    from osm_merge_spark.sources import synth

    orders_dir = os.path.join(workdir, "orders")
    write_orders(orders_dir, seed, size.orders)
    ext_path = os.path.join(workdir, "primary")
    osm_path = os.path.join(workdir, "secondary")
    synth.external_ways(spark, orders_dir, n_pts=size.n_pts).write.mode("overwrite").parquet(ext_path)
    synth.osm_ways(spark, orders_dir, n_pts=size.n_pts).write.mode("overwrite").parquet(osm_path)
    return ext_path, osm_path


def neardup_docs(seed: int, size: NeardupSize) -> pa.Table:
    """(doc_id, text) with planted near-duplicate clusters.

    - background docs draw tokens uniformly from a large vocabulary, so two
      unrelated docs almost never share a MinHash band bucket;
    - ``clusters`` clusters of ``CLUSTER_SIZE`` docs each: copies of a base
      doc with one or two tokens replaced;
    - one boilerplate family of ``boilerplate`` docs shares all but three
      tokens, which puts most of it into one band bucket (a hot bucket).
      The shared text is the same for every seed (like a licence header):
      how many family pairs fall within a simhash distance depends on the
      shared text, and a seed-drawn one made that pair count, and so the
      work, vary several-fold between seeds;
    - doc ids are a seeded permutation, so cluster members are not adjacent.
    """
    rng = np.random.default_rng(seed)
    t = DOC_TOKENS
    toks = rng.integers(0, VOCAB, size=(size.docs, t))
    row = 0
    for _ in range(size.clusters):
        base = toks[row]
        for m in range(CLUSTER_SIZE):
            toks[row + m] = base
            if m:
                pos = rng.integers(0, t, size=int(rng.integers(1, 3)))
                toks[row + m, pos] = rng.integers(0, VOCAB, size=len(pos))
        row += CLUSTER_SIZE
    fam = slice(row, row + size.boilerplate)
    toks[fam] = np.random.default_rng(0).integers(0, VOCAB, size=t)
    toks[fam, t - 3:] = rng.integers(0, VOCAB, size=(size.boilerplate, 3))
    ids = rng.permutation(size.docs).astype(np.int64) + 1
    words = np.char.add("w", toks.astype(str))
    text = [" ".join(r) for r in words.tolist()]
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(text, pa.string())})


def write_neardup(workdir: str, seed: int, size: NeardupSize) -> str:
    path = os.path.join(workdir, "docs")
    os.makedirs(path, exist_ok=True)
    pq.write_table(neardup_docs(seed, size), os.path.join(path, "part-0.parquet"))
    return path
