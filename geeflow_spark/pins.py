"""Pin lifetimes: the one place the package persists or truncates lineage.

A frame that is reused or iterated is pinned - persisted (a cache; a
released cache only costs a recompute) or localCheckpointed (lineage
truncated; the blocks ARE the data, so releasing them breaks every
frame built on them). Every pin in the package goes through a `Pins`
object, which records exactly what it pinned: the persisted DataFrame,
or the checkpoint's own block RDD read from the frame's LogicalRDD at
creation. Releasing frees those and nothing else, so concurrent callers
in one SparkContext never touch each other's blocks.

Two lifetimes:

  - call-scoped temporaries: ``with Pins() as p: ...`` releases on
    exit, exception or not;
  - pins that outlive the call belong to a named owner. ``held(owner)``
    releases the owner's previous pins and returns its `Pins` (the
    bounded-cache contract: a long-lived session holds at most one set
    per owner); ``owned(owner)`` returns it without releasing;
    ``release(owner)`` frees it.
"""

from __future__ import annotations

import threading

from pyspark import SparkContext
from pyspark.sql import DataFrame

# Guards every Pins' list and the owner map.
_lock = threading.Lock()
_owners: dict[str, Pins] = {}


class Pins:
    """A set of pins released together."""

    def __init__(self):
        # (SparkContext, handle): a handle is a persisted DataFrame or a
        # checkpoint's JVM block RDD - both free with unpersist(False).
        self._held: list = []

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._add(df.sparkSession.sparkContext, df)
        return df

    def checkpoint(self, df: DataFrame, eager: bool = False) -> DataFrame:
        df = df.localCheckpoint(eager=eager)
        # the checkpointed frame's plan is a LogicalRDD over its blocks
        block = df._jdf.queryExecution().logical().rdd()
        self._add(df.sparkSession.sparkContext, block)
        return df

    def adopt(self, other: Pins) -> None:
        """Moves `other`'s pins into this set."""
        with _lock:
            taken, other._held = other._held, []
            self._held.extend(taken)

    def release(self) -> None:
        """Frees every pin in the set. Pins of a stopped SparkContext
        are dropped: their blocks went with it."""
        with _lock:
            taken, self._held = self._held, []
        active = SparkContext._active_spark_context
        for sc, handle in taken:
            if sc is active:
                handle.unpersist(False)

    def _add(self, sc: SparkContext, handle) -> None:
        with _lock:
            self._held.append((sc, handle))

    def __len__(self) -> int:
        return len(self._held)

    def __enter__(self) -> Pins:
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def owned(owner: str) -> Pins:
    """The pins `owner` holds (created empty on first use)."""
    with _lock:
        return _owners.setdefault(owner, Pins())


def held(owner: str) -> Pins:
    """Releases `owner`'s previous pins and returns its (now empty) set."""
    pins = owned(owner)
    pins.release()
    return pins


def release(owner: str) -> None:
    """Frees every pin `owner` holds."""
    owned(owner).release()
