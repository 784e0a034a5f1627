"""Output sinks with observed counters, and the order-independent digests
the output checks compare."""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_ids = itertools.count()


def row_hash(*cols) -> Column:
    """xxhash64 of one row, widened so sums over rows never overflow."""
    return F.xxhash64(*cols).cast("decimal(38,0)")


def digest(*cols) -> Column:
    """Order-independent digest of a DataFrame: the sum of its row hashes."""
    return F.coalesce(F.sum(row_hash(*cols)), F.lit(0).cast("decimal(38,0)"))


def sorted_map(col: str) -> Column:
    """A map as a key-sorted entry array (maps are not hashable)."""
    return F.array_sort(F.map_entries(F.col(col)))


@dataclass
class Sink:
    """One output of a run: a DataFrame delivered to the ``noop`` sink, or
    written by ``write`` (a callable taking the DataFrame).  ``observe``
    names extra aggregate expressions collected while the output is
    produced; ``rows`` is always collected.  Observed values appear in
    ``values`` after :func:`deliver`.

    Observations are attached only to DataFrames delivered to ``noop``:
    a file write runs its query as a nested command, which never reports
    observed metrics back to the caller."""

    name: str
    df: DataFrame
    observe: dict = field(default_factory=dict)
    write: object = None
    values: dict = field(default_factory=dict)


def deliver(sinks: list[Sink]) -> None:
    """Produce every sink in order, then read back the observed values."""
    pending = []
    for s in sinks:
        if s.write is not None:
            s.write(s.df)
            continue
        obs = Observation(f"perfbench_{next(_ids)}")
        exprs = [F.count(F.lit(1)).alias("rows")] + [e.alias(k) for k, e in s.observe.items()]
        s.df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
        pending.append((s, obs))
    for s, obs in pending:
        s.values = dict(obs.get)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a written output directory."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return size, files
