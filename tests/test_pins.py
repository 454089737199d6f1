"""Pin lifetimes (geeflow_spark/pins.py) and the package artifact."""

import os
import threading
import time
import zipfile

import pandas as pd
import pytest

from geeflow_spark import cli, pins
from geeflow_spark.operators import dedup
from geeflow_spark.pins import Pins


def _settled(sc, base, timeout=15.0):
    """Persisted RDD ids beyond `base`, polled until empty or timeout
    (unpersist(blocking=False) may drain asynchronously)."""
    extra = dedup._persistent_rdd_ids(sc) - base
    deadline = time.monotonic() + timeout
    while extra and time.monotonic() < deadline:
        time.sleep(0.5)
        extra = dedup._persistent_rdd_ids(sc) - base
    return extra


@pytest.mark.parametrize("eager", [False, True])
def test_checkpoint_records_exact_block(spark, eager):
    sc = spark.sparkContext
    base = dedup._persistent_rdd_ids(sc)
    p = Pins()
    df = p.checkpoint(spark.range(50).selectExpr("id * 3 AS x"),
                      eager=eager)
    block = df._jdf.queryExecution().logical().rdd().id()
    # the checkpoint's own block RDD, and nothing else, was added
    assert dedup._persistent_rdd_ids(sc) - base == {block}
    assert len(p) == 1
    assert df.count() == 50
    p.release()
    assert len(p) == 0
    assert not _settled(sc, base)


def test_persist_then_release(spark):
    sc = spark.sparkContext
    base = dedup._persistent_rdd_ids(sc)
    with Pins() as p:
        df = p.persist(spark.range(20).selectExpr("id + 1 AS y"))
        assert df.is_cached
        assert df.count() == 20
    assert not _settled(sc, base)


def test_exception_inside_scope_releases(spark):
    sc = spark.sparkContext
    base = dedup._persistent_rdd_ids(sc)
    with pytest.raises(RuntimeError, match="boom"):
        with Pins() as p:
            p.checkpoint(spark.range(10), eager=True)
            p.persist(spark.range(5)).count()
            raise RuntimeError("boom")
    assert len(p) == 0
    assert not _settled(sc, base)


def test_held_owner_is_bounded(spark):
    sc = spark.sparkContext
    base = dedup._persistent_rdd_ids(sc)
    owner = "tests.pins.bounded"
    first = pins.held(owner).checkpoint(spark.range(7), eager=True)
    first_block = first._jdf.queryExecution().logical().rdd().id()
    assert first_block in dedup._persistent_rdd_ids(sc)
    # the next held() frees the owner's previous pins, then holds new
    second = pins.held(owner).checkpoint(spark.range(8), eager=True)
    second_block = second._jdf.queryExecution().logical().rdd().id()
    assert len(pins.owned(owner)) == 1
    assert first_block != second_block
    assert not _settled(sc, base | {second_block})
    assert second_block in dedup._persistent_rdd_ids(sc)
    pins.release(owner)
    assert len(pins.owned(owner)) == 0
    assert not _settled(sc, base)


def test_concurrent_connected_components(spark):
    # Concurrent CC loops on disjoint chain graphs: each releases only
    # its own superseded rounds, so no truncated lineage loses its
    # blocks mid-loop, and the returned labels sweep clean.
    sc = spark.sparkContext
    dedup.release_component_labels()
    base = dedup._persistent_rdd_ids(sc)
    n = 100
    frames = {lo: spark.createDataFrame(pd.DataFrame(
        {"a": range(lo, lo + n), "b": range(lo + 1, lo + n + 1)}))
        for lo in (0, 1000, 2000, 3000)}
    got, errors = {}, []

    def run(lo):
        try:
            out = dedup.connected_components(frames[lo]).toPandas()
            got[lo] = (set(out["component"]), len(out))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(lo,)) for lo in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors
    assert got == {lo: ({lo}, n + 1) for lo in frames}
    dedup.release_component_labels()
    assert not _settled(sc, base)


def test_package_zip_matches_tree(tmp_path):
    out = cli._package(out=str(tmp_path / "g.zip"))
    root = os.path.dirname(os.path.dirname(os.path.abspath(cli.__file__)))
    tree = {}
    for dirpath, _, files in os.walk(os.path.join(root, "geeflow_spark")):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                with open(full, "rb") as fh:
                    tree[os.path.relpath(full, root)] = fh.read()
    with zipfile.ZipFile(out) as z:
        packed = {n: z.read(n) for n in z.namelist()}
    assert packed == tree
