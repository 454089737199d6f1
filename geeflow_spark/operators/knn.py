"""Cell-ring-expansion k-nearest-neighbors over point tables.

Required by BASELINE.json north_rule (absent from the reference - its
nearest analog is the filterBounds candidate-then-refine pattern,
ee_algo.py:56-58). Algorithm:

  1. Encode both sides to S2 cells at `level`.
  2. For an escalating Chebyshev ring radius r (doubling schedule), build
     the candidate set: query cell's (2r+1)^2 ring cells (vectorized
     cross-face-safe ring generation, s2.neighbors_ring) equi-joined
     against the data side's cell key.
  3. Exact great-circle distance (haversine, pure Spark columns - stays
     in whole-stage codegen), per-query top-k via a window.
  4. Completeness certificate: a query is DONE when it has >= k candidates
     AND its k-th distance <= (r-1) * minWidth(level) * R_earth - the
     conservative lower bound on the distance to any point outside the
     explored ring block. Unfinished queries escalate; a final brute-force
     pass catches stragglers (empty at sane levels).

At scale: the data side is hash-partitioned by cell once and reused across
rounds; ring explode happens on the (small) unfinished query side only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from geeflow_spark.operators.spatial_join import INDEXES, with_cell
from geeflow_spark.pins import Pins

EARTH_RADIUS_M = 6371010.0


def haversine_m(lat1, lon1, lat2, lon2):
    """Great-circle distance in meters as a Spark column expression."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (F.sin(dlat) ** 2 +
         F.cos(rl1) * F.cos(rl2) * F.sin(dlon) ** 2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def ring_cells_udf(level: int, ring: int, index: str = "s2"):
    """Pandas UDF cell -> array of ring cells (block/disk, deduped)."""
    mod = INDEXES[index]

    @pandas_udf(ArrayType(LongType()))
    def _ring(cell: pd.Series) -> pd.Series:
        raw = cell.to_numpy(np.int64)
        ids = mod.neighbors_ring(
            raw.astype(np.uint64) if index == "s2" else raw, level, ring)
        return pd.Series([np.unique(np.asarray(row).astype(np.int64))
                          .tolist() for row in ids])

    return _ring


def ring_bound_udf(level: int, ring: int, index: str = "s2"):
    """Pandas UDF cell -> per-query certificate bound in meters.

    S2: global constant (min cell width); hex: latitude-aware (the
    planar grid's lon width shrinks with cos(lat)) - see
    hex.ring_bound_m."""
    mod = INDEXES[index]

    @pandas_udf("double")
    def _bound(cell: pd.Series) -> pd.Series:
        raw = cell.to_numpy(np.int64)
        b = mod.ring_bound_m(
            raw.astype(np.uint64) if index == "s2" else raw, level, ring)
        return pd.Series(np.asarray(b, dtype=np.float64))

    return _bound


def knn(queries: DataFrame, data: DataFrame, k: int, level: int = 7,
        query_id: str = "query_id", data_id: str = "data_id",
        max_ring: int = 64, index: str = "s2",
        brute_force_threshold: int = 200_000) -> DataFrame:
    """Returns (query_id, data_id, dist_m, rank) with rank 1..k per query.

    Deterministic: ties broken by ascending data id. Exact: certified by
    the ring-completeness bound, with brute-force fallback for any query
    the schedule leaves unfinished.

    Cost-based path selection: the data-side count is materialized
    anyway (for the cached cell partitioning); when it is under
    `brute_force_threshold`, the exact broadcast brute-force path wins
    outright - the ring machinery's per-round stages only pay off once
    candidate pruning beats a full pass (identical output either way;
    both paths are exact with the same tiebreak).
    """
    # q, d and the per-round top-k are call-scoped pins; the returned
    # frame is cached for the caller and outlives them.
    with Pins() as scratch:
        q = scratch.persist(with_cell(
            queries.select(query_id, "lat", "lon"), level,
            out_col="qcell", index=index))
        d = with_cell(data.select(data_id, "lat", "lon"), level,
                      index=index) \
            .withColumnRenamed("lat", "dlat") \
            .withColumnRenamed("lon", "dlon")
        d = scratch.persist(d.repartition(F.col("cell")))
        n_data = d.count()
        if n_data <= brute_force_threshold:
            out = knn_brute_force(q.drop("qcell"), d.select(
                data_id, F.col("dlat").alias("lat"),
                F.col("dlon").alias("lon")), k, query_id, data_id).cache()
            out.count()
            return out

        results = None
        remaining = q
        # Driver-side remaining counter replaces a per-round isEmpty probe
        # (which re-evaluated the whole candidate pipeline as its own job).
        n_remaining = q.count()
        r = 2  # bound is (r-1)*minWidth, so r=1 can never certify completeness
        while r <= max_ring and n_remaining > 0:
            # One candidate-pipeline evaluation per round: the round's top-k
            # (<= n_remaining * k id-sized rows) is the thing cached, and the
            # done-id bookkeeping, the result union, AND the next round's
            # anti-join all read that cache. (Caching done_ids instead - the
            # r3 shape - left the result join re-running the candidate
            # pipeline per round at the final materialize: +31% on the gate
            # bench.)
            # Ring-explosion cost gate: a round explodes (2r+1)^2 (s2 block)
            # or 3r(r+1)+1 (hex disk) cells per unfinished query - once that
            # fan-out exceeds the data-side row count, one brute-force pass
            # over the stragglers is strictly cheaper than the join probes
            # alone (sparse-data pathology: k unsatisfiable until huge r).
            ring_cells = (2 * r + 1) ** 2 if index == "s2" \
                else 3 * r * (r + 1) + 1
            if ring_cells > n_data:
                break
            cand = (remaining
                    .withColumn("_bound", ring_bound_udf(level, r, index)
                                (F.col("qcell")))
                    .withColumn("cell", F.explode(
                        ring_cells_udf(level, r, index)(F.col("qcell"))))
                    .join(d, "cell", "inner")
                    .select(query_id, "lat", "lon", "_bound",
                            data_id, "dlat", "dlon"))
            cand = cand.withColumn(
                "dist_m", haversine_m(F.col("lat"), F.col("lon"),
                                      F.col("dlat"), F.col("dlon")))
            w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(),
                                                     F.col(data_id).asc())
            topk = scratch.persist(cand.withColumn("rank",
                                                   F.row_number().over(w))
                                   .filter(F.col("rank") <= k))
            done_ids = (topk.groupBy(query_id)
                        .agg(F.count("*").alias("_n"),
                             F.max("dist_m").alias("_dk"),
                             F.first("_bound").alias("_b"))
                        .filter((F.col("_n") >= k) &
                                (F.col("_dk") <= F.col("_b")))
                        .select(query_id))
            n_done = done_ids.count()  # materializes the topk cache
            if n_done == n_remaining:
                # Every unfinished query certified this round (the common
                # terminal case): skip the done-id join entirely.
                done = topk.select(query_id, data_id, "dist_m", "rank")
                results = done if results is None \
                    else results.unionByName(done)
                n_remaining = 0
            elif n_done:
                done = topk.join(F.broadcast(done_ids), query_id, "inner") \
                           .select(query_id, data_id, "dist_m", "rank")
                results = done if results is None \
                    else results.unionByName(done)
                remaining = remaining.join(done_ids, query_id, "left_anti")
                n_remaining -= n_done
            r *= 2

        if n_remaining > 0:
            # Brute-force fallback: exact, used only for stragglers.
            cand = (remaining.crossJoin(d.select(data_id, "dlat", "dlon"))
                    .withColumn("dist_m",
                                haversine_m(F.col("lat"), F.col("lon"),
                                            F.col("dlat"), F.col("dlon"))))
            w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(),
                                                     F.col(data_id).asc())
            bf = (cand.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select(query_id, data_id, "dist_m", "rank"))
            results = bf if results is None else results.unionByName(bf)
        if results is None:
            # Empty query side: the ring loop and the brute-force fallback
            # were both skipped. Return an empty frame with the contract
            # schema (types derived from the inputs, same as every path).
            empty = knn_brute_force(
                q.drop("qcell").limit(0),
                d.select(data_id, F.col("dlat").alias("lat"),
                         F.col("dlon").alias("lon")), k, query_id, data_id)
            out = empty.cache()
            out.count()
            return out
        # Materialize before releasing the cached inputs the plan references.
        out = results.cache()
        out.count()
        return out


def knn_brute_force(queries: DataFrame, data: DataFrame, k: int,
                    query_id: str = "query_id",
                    data_id: str = "data_id") -> DataFrame:
    """Reference oracle: exact kNN via cross join (small inputs only)."""
    d = data.select(F.col(data_id), F.col("lat").alias("dlat"),
                    F.col("lon").alias("dlon"))
    cand = queries.select(query_id, "lat", "lon").crossJoin(d)
    cand = cand.withColumn(
        "dist_m", haversine_m(F.col("lat"), F.col("lon"),
                              F.col("dlat"), F.col("dlon")))
    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(),
                                             F.col(data_id).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, data_id, "dist_m", "rank"))
