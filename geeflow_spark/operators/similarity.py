"""Similarity search over embedding columns (array<float>).

Large-pipeline first-class operators (not in the reference):
  - brute_force_topk: exact cosine top-k, all JVM-side via higher-order
    array functions (F.aggregate/zip_with dot products) - the correctness
    baseline.
  - lsh_topk: random-hyperplane (sign) LSH bucketing as the scale path:
    candidates only within matching bucket keys (multi-probe via bands),
    exact re-rank inside buckets. At 10^12 rows the bucket join replaces
    the O(Q*N) cross join with O(Q*bucket_size).
  - ivf_build / ivf_probe: inverted-file ANN (the build spec's "IVF
    variant") as a real build/probe split: spherical k-means coarse
    quantizer trained on a bounded deterministic sample, ONE
    distributed nearest-centroid assignment pass materialized as the
    inverted lists (parquet partitioned by centroid when a path is
    given - probes become partition-pruned scans), queries probe
    their nprobe nearest centroids, exact cosine re-rank on the
    probed lists only. nprobe == n_centroids degenerates to exact
    search (tested). ivf_topk is the one-shot wrapper.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from geeflow_spark import pins
from geeflow_spark.pins import Pins

# Owners of the pins that outlive a call (geeflow_spark/pins.py).
_PROBE = "similarity.probe"
_SESSION_INDEX = "similarity.session_index"


# Unrolling gates, set empirically. The unrolled tree's fixed
# janino-compile cost is ~linear in tree size and - because each
# fresh plan generates fresh source - NOT amortized across repeated
# small queries, so unrolling is gated to dims where compilation is
# trivial (covers the dim-16 scale corpora, where the unrolled dot
# measured >10x faster over 31M candidates: 29s of interpreted
# higher-order lambdas down to ~2s). r7 re-measured the gate on the
# dim-64 battery corpus: raising it to cover 64 made every sim query
# SLOWER (sim_cosine_topk 1.9 -> 5.3 s at sf1.0) - the 64-term trees
# (x null/bounds checks, x the surrounding stage's expressions) grow
# generated methods past janino's hard 64 KB method limit, wasting a
# ~1 s compile attempt per fresh plan and then running interpreted
# anyway. 32 is the measured sweet spot: below it codegen wins,
# above it compile cost/failure dominates. Above the gate the
# interpreted form runs, made ~3x cheaper than the naive per-pair
# cosine by computing norms once per side pre-join (brute_force_topk)
# and keeping per-row O(dim) work out of per-element lambdas
# (sq8_quantize's staged aliases).
_DOT_UNROLL_MAX_DIM = 32
_NORM_UNROLL_MAX_DIM = 32


def _dot(a, b, dim: int | None = None):
    """Dot product of two array columns.

    With `dim`, the sum unrolls into dim explicit products - a plain
    expression tree that whole-stage codegen compiles to JVM
    arithmetic. Without it, F.aggregate/zip_with lambdas are
    INTERPRETED per element (measured: scoring 31M candidate rows at
    dim=16 cost 29s of a 34s probe; the unrolled form is >10x
    faster). Same left-fold order, so results are bit-identical.

    Elements are cast to double INSIDE the unrolled form (a no-op the
    optimizer strips on double arrays). Callers must therefore pass
    the RAW array column, never a transform(x -> cast(x)) wrapper:
    ProjectCollapse inlines such a wrapper into every a[i] access, so
    the whole per-row transform re-evaluates dim times per row -
    measured 3x slower than the lambda form it was meant to beat."""
    if dim and dim <= _DOT_UNROLL_MAX_DIM:
        out = a[0].cast("double") * b[0].cast("double")
        for i in range(1, dim):
            out = out + a[i].cast("double") * b[i].cast("double")
        return out
    return F.aggregate(
        F.zip_with(a, b,
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm(a, dim: int | None = None):
    if dim and dim <= _NORM_UNROLL_MAX_DIM:
        out = a[0].cast("double") * a[0].cast("double")
        for i in range(1, dim):
            out = out + a[i].cast("double") * a[i].cast("double")
        return F.sqrt(out)
    return F.sqrt(F.aggregate(
        a, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_col(a, b, dim: int | None = None):
    return _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))


def _infer_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector width from one row (None on an empty frame). The one-row
    lookup is driver-side and tiny; it buys the codegen'd score path."""
    row = df.select(F.size(F.col(vec_col)).alias("n")).first()
    return int(row["n"]) if row is not None else None


def brute_force_topk(queries: DataFrame, data: DataFrame, k: int,
                     query_id: str = "query_id", data_id: str = "vec_id",
                     vec_col: str = "embedding",
                     dim: int | None = None) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, score, rank).

    Ties broken by ascending data id for determinism. `dim` (inferred
    from the query side when omitted) switches the score to the
    unrolled codegen'd dot product.
    """
    if dim is None:
        dim = _infer_dim(queries, vec_col)
    # Norms are computed PER SIDE before the join - O(|q| + |d|)
    # evaluations instead of O(|q| * |d|) (the naive per-pair cosine
    # recomputes both norms per candidate; for the interpreted
    # higher-order form that was 2/3 of the scoring work).
    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qv"),
                       _norm(F.col(vec_col), dim).alias("_qn"))
    d = data.select(F.col(data_id), F.col(vec_col).alias("_dv"),
                    _norm(F.col(vec_col), dim).alias("_dn"))
    cand = q.crossJoin(d).withColumn(
        "score", _dot(F.col("_qv"), F.col("_dv"), dim)
        / (F.col("_qn") * F.col("_dn"))) \
        .select(query_id, data_id, "score")
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(),
                                             F.col(data_id).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, data_id, "score", "rank"))


def sq8_quantize(df: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id",
                 dim: int | None = None, unit: bool = False,
                 keep: tuple = ()) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization - the FAISS SQ8
    recipe: scale = max|x_i| / 127 (zero vectors get scale 1, so q=0),
    q_i = floor(x_i / scale + 0.5), exact-integer range [-127, 127].
    Returns (id, qvec array<tinyint>, qscale double); all other input
    columns are dropped (the quantized table IS the compact artifact -
    int8 elements, so the parquet bit-packs to ~1 byte/component vs 8
    for the raw doubles).

    Why at 10^12 vectors: the payoff is BYTES, not arithmetic - a
    dim-16 float32 embedding is 64 B/row, SQ8 is 16 B + one scale, so
    every downstream shuffle buffer and in-memory batch shrinks 4x
    (8x vs float64; the PARQUET shrink depends on how well the raw
    floats dictionary-encode - measured 1.6-2.1x on the highly
    compressible SF1 synthetic corpus, approaching the in-memory
    ratio on real incompressible embeddings). At this scale ANN
    probes are bandwidth-bound long before they are FLOP-bound
    (BENCH/SF1.md's IVF finding). Scoring
    stays exact integer math: int8 products summed over any real dim
    stay far below 2^53, so the codegen'd double dot reproduces the
    integer dot bit-for-bit - which is what makes the quantized score
    REPLAYABLE in SQL (the sim_sq8_topk oracle recomputes quantization
    + integer dot + scales from the raw floats).

    With `dim` (inferred when omitted) the abs-max and the quantized
    array build as unrolled codegen expressions; the fallback
    F.transform path is interpreted (one corpus pass, not per-pair -
    acceptable, but pass dim for big builds).

    `unit=True` quantizes the UNIT-normalized vector v/||v|| - the
    form that composes with IVF: a quantized dot of two unit-quantized
    vectors approximates COSINE directly. The quantizer is
    scale-invariant (q_i = floor(127 v_i / max|v_j| + 0.5) - the norm
    cancels), so qvec is IDENTICAL to the raw form and only the scale
    divides by the norm: qscale = max|v|/(127 ||v||). Zero vectors
    keep scale 1. `keep` names extra input columns to carry through
    (e.g. the IVF centroid assignment).
    """
    if dim is None:
        dim = _infer_dim(df, vec_col)
    v = F.col(vec_col)
    if dim == 1:
        # F.greatest requires >= 2 columns
        m = F.abs(v[0].cast("double"))
    elif dim and dim <= _NORM_UNROLL_MAX_DIM:
        m = F.greatest(*[F.abs(v[i].cast("double")) for i in range(dim)])
    else:
        m = F.array_max(F.transform(v, lambda x:
                                    F.abs(x.cast("double"))))
    # Stage 1 binds the vector, the abs-max (and the norm in unit
    # mode) as REAL columns first: _m feeds both scales below with
    # multiple references, which is exactly the multi-use non-cheap
    # pattern CollapseProject refuses to inline - without this staging
    # the optimizer folded the whole array_max(transform(abs(...)))
    # into the per-element quantization lambda and every element
    # recomputed the max: O(dim^2) interpreted ops per vector,
    # measured as the bulk of sim_sq8_topk's 8+ s sf1.0 wall (r7).
    stage = df.select(F.col(id_col), *[F.col(c) for c in keep],
                      v.alias("_v"), m.alias("_m"),
                      *([_norm(v, dim).alias("_nn")] if unit else []))
    mm = F.col("_m")
    esc = F.when(mm == 0.0, F.lit(1.0)).otherwise(mm / F.lit(127.0))
    if unit:
        nn = F.col("_nn")
        sc = F.when(nn == 0.0, F.lit(1.0)).otherwise(esc / nn)
    else:
        sc = esc
    # The ELEMENT scale stays the raw abs-max/127 even in unit mode
    # (the norm cancels inside q_i) - carried separately from the
    # output qscale so the floor math never re-derives it.
    out = stage.select(F.col(id_col), *[F.col(c) for c in keep],
                       F.col("_v"), sc.alias("qscale"),
                       esc.alias("_esc"))
    s = F.col("_esc")
    if dim and dim <= _NORM_UNROLL_MAX_DIM:
        qv = F.array(*[F.floor(F.col("_v")[i].cast("double") / s
                               + F.lit(0.5)).cast("byte")
                       for i in range(dim)])
    else:
        qv = F.transform(F.col("_v"), lambda x:
                         F.floor(x.cast("double") / s
                                 + F.lit(0.5)).cast("byte"))
    return out.select(id_col, *keep, qv.alias("qvec"), "qscale")


def sq8_topk(queries: DataFrame, data: DataFrame, k: int,
             query_id: str = "query_id", data_id: str = "vec_id",
             vec_col: str = "embedding",
             dim: int | None = None,
             data_prequantized: bool = False) -> DataFrame:
    """Approximate cosine-order top-k over SQ8-quantized vectors:
    score = (sum_i qa_i * qb_i) * scale_a * scale_b - the symmetric
    scalar-quantized dot (ranks like the dot product; for unit-norm
    embeddings that is cosine order). Ties broken by ascending data
    id. Output (query_id, vec_id, qscore, rank).

    Same plan shape as brute_force_topk (the correctness baseline):
    quantize each side ONCE pre-join (O(|q|+|d|)), candidates carry
    the int arrays + one scale, the window sees only ids + score.
    Composes with the IVF index for the partition-pruned scale path -
    quantization shrinks the inverted-list files ~4x, which is where
    10^12-vector probes actually pay (bandwidth, not FLOPs).
    Deterministic: integer dots are exact in double, scales are one
    IEEE division - scores are bit-identical across partitionings and
    engines (the driver oracle replays them from the raw floats).
    """
    if dim is None:
        dim = _infer_dim(queries, vec_col)
    q = sq8_quantize(queries, vec_col, query_id, dim=dim) \
        .select(F.col(query_id), F.col("qvec").alias("_qa"),
                F.col("qscale").alias("_sa"))
    if data_prequantized:
        # the build/probe split: `data` is a stored sq8_quantize
        # artifact (qvec, qscale) - probes scan int8 arrays, never
        # the raw floats
        d = data.select(F.col(data_id), F.col("qvec").alias("_qb"),
                        F.col("qscale").alias("_sb"))
    else:
        d = sq8_quantize(data, vec_col, data_id, dim=dim) \
            .select(F.col(data_id), F.col("qvec").alias("_qb"),
                    F.col("qscale").alias("_sb"))
    cand = q.crossJoin(d).withColumn(
        "qscore", _dot(F.col("_qa"), F.col("_qb"), dim)
        * F.col("_sa") * F.col("_sb")) \
        .select(query_id, data_id, "qscore")
    w = Window.partitionBy(query_id).orderBy(F.col("qscore").desc(),
                                             F.col(data_id).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, data_id, "qscore", "rank"))


def hyperplane_buckets_udf(dim: int, n_planes: int = 16, bands: int = 4,
                           seed: int = 3):
    """Pandas UDF embedding -> array of `bands` bucket keys (multi-probe).

    n_planes sign bits split into `bands` groups; each group forms one
    bucket key. Two vectors collide on a band with prob (1 - theta/pi)^r.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    per_band = n_planes // bands

    @pandas_udf(ArrayType(LongType()))
    def _buckets(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy())  # (n, dim)
        signs = (mat @ planes.T) > 0  # (n, n_planes)
        weights = (1 << np.arange(per_band)).astype(np.int64)
        keys = (signs.reshape(len(mat), bands, per_band)
                .astype(np.int64) * weights).sum(axis=2)
        keys |= (np.arange(bands, dtype=np.int64) << 32)[None, :]
        return pd.Series(list(keys))

    return _buckets


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(n == 0, 1.0, n)


def spherical_kmeans(mat: np.ndarray, k: int, iters: int = 10,
                     seed: int = 3) -> np.ndarray:
    """Deterministic spherical k-means (cosine) on a sample matrix.

    k-means++-style farthest-point seeding from a seeded RNG, Lloyd
    iterations with unit-normalized centroids; empty clusters reseed to
    the currently worst-assigned vector. Returns (k, dim) unit rows.
    """
    x = _normalize_rows(np.asarray(mat, dtype=np.float64))
    n = len(x)
    k = min(k, n)
    rng = np.random.default_rng(seed)
    centroids = np.empty((k, x.shape[1]))
    centroids[0] = x[rng.integers(n)]
    sims = x @ centroids[0]
    for i in range(1, k):
        centroids[i] = x[int(np.argmin(sims))]
        sims = np.maximum(sims, x @ centroids[i])
    for _ in range(iters):
        scores = x @ centroids.T  # (n, k)
        assign = scores.argmax(axis=1)
        best = scores.max(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members) == 0:
                centroids[c] = x[int(np.argmin(best))]
                best[int(np.argmin(best))] = 1.0
                continue
            m = members.sum(axis=0)
            norm = np.linalg.norm(m)
            if norm > 0:
                centroids[c] = m / norm
    return centroids


def _assign_udf(centroids: np.ndarray):
    """vec -> nearest centroid id (cosine; row-normalized)."""
    c_t = centroids.T.copy()

    @pandas_udf(LongType())
    def _assign(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy()).astype(np.float64)
        return pd.Series((_normalize_rows(mat) @ c_t).argmax(axis=1)
                         .astype(np.int64))

    return _assign


def _probe_udf(centroids: np.ndarray, nprobe: int):
    """vec -> array of the nprobe nearest centroid ids."""
    c_t = centroids.T.copy()
    nprobe = min(nprobe, len(centroids))

    @pandas_udf(ArrayType(LongType()))
    def _probe(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy()).astype(np.float64)
        scores = _normalize_rows(mat) @ c_t
        order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int64)))

    return _probe


class IVFIndex:
    """Built IVF index: coarse quantizer + materialized inverted lists.

    `centroids`: (n_centroids, dim) unit rows (tiny - rides task
    closures). `lists`: DataFrame (data_id[, vector], _c) - the
    inverted lists, computed ONCE at build time: written to parquet
    partitioned by `_c` when `path` was given (probing a few lists
    then becomes a partition-PRUNED scan - the 10^12-row layout), else
    cached in the session. Unlike LSH buckets, each vector belongs to
    exactly ONE list, so storing the vectors inside the lists costs no
    duplication and lets probes skip the full-corpus vector rejoin
    entirely (`store_vectors=True`, the default). `release()` drops
    the session cache.
    """

    def __init__(self, centroids: np.ndarray, lists: DataFrame,
                 data_id: str, path: str | None = None,
                 vec_col: str | None = None,
                 quantized: bool = False):
        self.centroids = centroids
        self.lists = lists
        self.data_id = data_id
        self.path = path
        self.vec_col = vec_col  # vector column stored in lists, or None
        self.quantized = quantized  # lists hold SQ8 (qvec, qscale)
        self.pins = Pins()  # the session cache of `lists`, if any

    def release(self) -> None:
        self.pins.release()


def ivf_build(data: DataFrame, n_centroids: int = 64,
              train_rows: int = 16384, iters: int = 10, seed: int = 3,
              data_id: str = "vec_id", vec_col: str = "embedding",
              path: str | None = None,
              store_vectors: bool = True,
              quantize: bool = False) -> IVFIndex:
    """Builds the IVF index: trains the coarse quantizer on a BOUNDED
    deterministic sample, then runs ONE distributed nearest-centroid
    assignment pass over the corpus and materializes the result (the
    inverted lists). Probes reuse the materialized lists - the corpus
    is never re-encoded per query batch.

    The sample is HASH-ordered (orderBy(xxhash64(id), id) - a
    TakeOrdered, no full sort): ids usually correlate with crawl time
    or content, so the first-k-ids sample a plain orderBy(id) takes
    teaches the quantizer a biased slice and probe recall quietly
    degrades on the rest of the distribution. Hashing the ids keeps
    the sample deterministic AND row-order-independent (same centroids
    however the input is partitioned or shuffled - tested) while
    drawing uniformly across the corpus.

    With `path`, lists land in parquet partitioned by `_c` (survives
    the session; at 10^12 rows this is the layout that makes a probe a
    directory-pruned scan). Without, they are cached + materialized in
    the session. `store_vectors` keeps the vector payload inside the
    lists (one list per vector -> zero duplication), which is what
    makes the probe join-free; False stores bare ids (probes then
    rejoin `data`, the pre-r4 topology).

    `quantize=True` stores SQ8 UNIT-quantized payloads (qvec
    array<tinyint> + one qscale double) instead of the raw vector -
    the sq8_quantize(unit=True) composition: probe scoring becomes
    the quantized-dot cosine approximation and every inverted-list
    file shrinks toward 1 byte/component (the 10^12-row probes are
    bandwidth-bound - BENCH/SF1.md). Requires store_vectors=True.
    """
    if quantize and not store_vectors:
        raise ValueError("quantize=True requires store_vectors=True "
                         "(the quantized payload IS the stored vector)")
    train = (data.orderBy(F.xxhash64(F.col(data_id)), F.col(data_id))
             .limit(train_rows).select(vec_col).toPandas())
    centroids = spherical_kmeans(np.stack(train[vec_col].to_numpy()),
                                 n_centroids, iters, seed)
    cols = [F.col(data_id)] + \
        ([F.col(vec_col)] if store_vectors else [])
    assigned = data.select(
        *cols, _assign_udf(centroids)(F.col(vec_col)).alias("_c"))
    if quantize:
        assigned = sq8_quantize(assigned, vec_col=vec_col,
                                id_col=data_id,
                                dim=int(centroids.shape[1]),
                                unit=True, keep=("_c",))
    if path is not None:
        # Repartition by centroid before the partitioned write: without
        # it every input task writes a sliver into every centroid
        # directory - n_input_parts * n_centroids files (measured 131k
        # ~75-row files at 10M vectors / 1024 centroids, and the probe
        # scan drowned in open costs). One shuffle of the corpus at
        # BUILD time (the amortized side) buys one file per list.
        (assigned.repartition(F.col("_c"))
         .write.mode("overwrite").partitionBy("_c").parquet(path))
        lists = data.sparkSession.read.parquet(path)
    else:
        lists = assigned
    index = IVFIndex(centroids, lists, data_id, path,
                     vec_col if (store_vectors and not quantize)
                     else None, quantized=quantize)
    if path is None:
        # Lazy persist (r7): the first probe action materializes the
        # assignment inside its own job - an eager count() here only
        # added a driver-synchronous job per build with no reuse
        # benefit (every consumer reads the same cache either way).
        index.lists = index.pins.persist(lists)
    return index


def ivf_probe(queries: DataFrame, index: IVFIndex,
              data: DataFrame | None = None, k: int = 10,
              nprobe: int = 8, query_id: str = "query_id",
              data_id: str = "vec_id", vec_col: str = "embedding"
              ) -> DataFrame:
    """Probes a built index: (query_id, vec_id, score, rank).

    Each query fans out to its nprobe nearest centroids; candidates are
    the union of those inverted lists. The probed-centroid set is
    collected driver-side (bounded by n_centroids - NOT by corpus or
    query size) and pushed as a partition filter on path-backed lists,
    so the scan reads only the probed directories.

    With vectors stored in the lists (build default) the probe is
    JOIN-FREE on the corpus side: pruned list scan -> broadcast-join
    the (small) query side -> exact cosine re-rank -> per-query top-k.
    Nothing corpus-sized ever shuffles. For a bare-id index, `data` is
    rejoined once (id-only candidate pattern). nprobe >= n_centroids
    degenerates to exact search (same tiebreaks as brute_force_topk).
    """
    dim = int(index.centroids.shape[1])
    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qv"),
                       _norm(F.col(vec_col), dim).alias("_qn"))
    qb = q.select(query_id,
                  F.explode(_probe_udf(index.centroids, nprobe)
                            (F.col("_qv"))).alias("_c"))
    # ONE evaluation of the query-side probe plan, pinned: the
    # distinct-collect (partition filter) and the broadcast build
    # below must see the SAME probed set - if `queries` rides a
    # nondeterministic plan (sample, unordered limit, changing
    # source), two evaluations could disagree and a query would
    # silently probe a centroid missing from the pruned lists. The
    # eager localCheckpoint is query-sized (|q| x nprobe rows,
    # executor-side - the driver still only receives the distinct
    # centroid set, bounded by n_centroids). Block lifetime follows
    # the candidate-cache contract: each probe releases the previous
    # probe's pin; release_probe_state() sweeps at session end.
    qb = pins.held(_PROBE).checkpoint(qb, eager=True)
    probed = sorted(r["_c"]
                    for r in qb.select("_c").distinct().collect())
    lists = index.lists.filter(F.col("_c").isin(probed)) \
        .withColumnRenamed(index.data_id, data_id)
    if index.quantized:
        # quantized lists: the same broadcast topology, but the
        # corpus-side payload is int8 + one scale (bytes, not FLOPs -
        # at 10^12 rows the probe scan/shuffle is bandwidth-bound)
        # and the score is the quantized-dot cosine approximation
        # (unit-quantized both sides). Rank/tiebreak contract
        # unchanged; recall vs the exact probe is the int8 rounding,
        # measured in tests.
        qq = sq8_quantize(queries, vec_col=vec_col, id_col=query_id,
                          dim=dim, unit=True) \
            .select(F.col(query_id), F.col("qvec").alias("_qa"),
                    F.col("qscale").alias("_sa"))
        cand = (lists.withColumnRenamed("qvec", "_qb")
                .withColumnRenamed("qscale", "_sb")
                .join(F.broadcast(qb), "_c")
                .join(F.broadcast(qq), query_id)
                .withColumn("score",
                            _dot(F.col("_qa"), F.col("_qb"), dim)
                            * F.col("_sa") * F.col("_sb"))
                .select(query_id, data_id, "score"))
    elif index.vec_col is not None:
        # vectors live in the lists: candidates never leave the pruned
        # scan's partitions; the only join is vs the broadcast queries.
        # qb MUST be hinted - its size estimate rides a pandas-UDF
        # explode Catalyst can't see through, and without the hint it
        # shuffled the ENTIRE probed list set on _c (measured: 10M-row
        # exchange, 10s of a 13s probe, skewed on hot centroids).
        # Broadcast both small sides and the corpus side stays
        # map-side scan->join->score; the top-k then ships only the
        # per-partition group limit (WindowGroupLimit).
        # list-side norm in the scan project: once per LIST row, not
        # once per (list row x probing query) candidate.
        cand = (lists.withColumnRenamed(index.vec_col, "_dv")
                .withColumn("_dn", _norm(F.col("_dv"), dim))
                .join(F.broadcast(qb), "_c")
                .join(F.broadcast(q), query_id))
    else:
        if data is None:
            raise ValueError("bare-id index requires `data` to rejoin "
                             "vectors")
        d = data.select(F.col(index.data_id).alias(data_id),
                        F.col(vec_col).alias("_dv"),
                        _norm(F.col(vec_col), dim).alias("_dn"))
        cand_ids = F.broadcast(qb).join(lists, "_c") \
            .select(query_id, data_id).distinct()
        cand = (cand_ids
                .join(F.broadcast(q), query_id)
                .join(d, data_id))
    # Score BEFORE the top-k window and project the vectors away: the
    # window shuffles every candidate row by query_id, and carrying
    # both embeddings through it multiplies the shuffle by the vector
    # payload (measured ~12x row width at dim=16, worse as dim grows).
    # dim comes from the coarse quantizer - the unrolled codegen'd dot.
    if not index.quantized:
        cand = cand.withColumn(
            "score", _dot(F.col("_qv"), F.col("_dv"), dim)
            / (F.col("_qn") * F.col("_dn"))) \
            .select(query_id, data_id, "score")
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(),
                                             F.col(data_id).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, data_id, "score", "rank"))


def ivf_topk(queries: DataFrame, data: DataFrame, k: int,
             n_centroids: int = 64, nprobe: int = 8,
             train_rows: int = 16384, iters: int = 10, seed: int = 3,
             query_id: str = "query_id", data_id: str = "vec_id",
             vec_col: str = "embedding",
             quantize: bool = False) -> DataFrame:
    """One-shot IVF approximate cosine top-k: ivf_build + ivf_probe.

    Convenience wrapper for single-batch use; to amortize the index
    across query batches (the 10^12-row pattern), call ivf_build once -
    with a `path` for persisted, partition-pruned inverted lists - and
    ivf_probe per batch. The wrapper's session-cached index from the
    PREVIOUS call is released on the next call (same bounded-cache
    contract as dedup.minhash_duplicate_pairs).
    """
    idx = ivf_build(data, n_centroids, train_rows, iters, seed,
                    data_id, vec_col, quantize=quantize)
    pins.held(_SESSION_INDEX).adopt(idx.pins)
    return ivf_probe(queries, idx, data, k, nprobe, query_id, data_id,
                     vec_col)


def release_probe_state() -> None:
    """Releases the query-side probe checkpoint of the previous
    ivf_probe call (no-op when none is live). A probe result stays
    correct after release but loses the single-evaluation guarantee
    on recompute, so consume each probe result before the next probe
    call."""
    pins.release(_PROBE)


def release_session_index() -> None:
    """Releases the session-cached IVF index held by the last ivf_topk
    call (bounded-cache contract); no-op when none is live. Benchmarks
    call this so a prior ANN query's cached lists can't occupy executor
    memory during an unrelated measurement."""
    pins.release(_SESSION_INDEX)


def lsh_topk(queries: DataFrame, data: DataFrame, k: int, dim: int,
             query_id: str = "query_id", data_id: str = "vec_id",
             vec_col: str = "embedding", n_planes: int = 16,
             bands: int = 4) -> DataFrame:
    """Approximate cosine top-k via sign-LSH bucketing + exact re-rank.

    Sizing: each band key carries n_planes/bands sign bits, so a
    bucket holds ~n/2^(n_planes/bands) vectors - keep that exponent
    near log2(n) or the candidate set degenerates toward a cross join
    (the default 4-bit bands suit <=10^5 rows; 10^7 rows want
    n_planes ~ 64-96 at bands=4-6, trading recall per band for more
    bands). For corpus-scale ANN prefer ivf_build/ivf_probe: IVF's
    candidate volume is nprobe/n_centroids of the corpus by
    construction, independent of hash luck.
    """
    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qv"),
                       _norm(F.col(vec_col), dim).alias("_qn"))
    d = data.select(F.col(data_id), F.col(vec_col).alias("_dv"),
                    _norm(F.col(vec_col), dim).alias("_dn"))
    if n_planes == 0:
        # Zero sign bits -> every vector lands in the same `bands`
        # constant keys (band index << 32, the exact values the UDF
        # computes for an empty sign block). A JVM literal array skips
        # the Python stage on BOTH sides of the degenerate-exact
        # configuration; the sized-bucket production path below is
        # unchanged.
        const = F.array(*[F.lit(b << 32).cast("long")
                          for b in range(bands)])
        qb = q.select(query_id, F.explode(const).alias("bucket"))
        db = d.select(data_id, F.explode(const).alias("bucket"))
    else:
        bud = hyperplane_buckets_udf(dim, n_planes, bands)
        qb = q.select(query_id,
                      F.explode(bud(F.col("_qv"))).alias("bucket"))
        db = d.select(data_id,
                      F.explode(bud(F.col("_dv"))).alias("bucket"))
    # Dedup candidate PAIRS on bare ids (16-byte shuffle rows), then
    # rejoin the vectors once: never shuffle embedding payloads keyed by
    # (or alongside) a multi-band-inflated candidate set. Queries are the
    # small side by construction -> broadcast.
    cand_ids = (qb.join(db, "bucket")
                .select(query_id, data_id).distinct())
    cand = (cand_ids
            .join(F.broadcast(q), query_id)
            .join(d, data_id)
            .withColumn("score", _dot(F.col("_qv"), F.col("_dv"), dim)
                        / (F.col("_qn") * F.col("_dn")))
            .select(query_id, data_id, "score"))  # drop vectors pre-shuffle
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(),
                                             F.col(data_id).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, data_id, "score", "rank"))
