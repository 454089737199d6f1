"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  - flagship: interleaved docs + derived geometry -> S2-cell
                broadcast PIP join vs region polygons -> UTM tile origin ->
                geographic split; spans preserved (BASELINE.json).
queries()     - operator battery from SURVEY.md §2 + the training-data
                pipeline ops; every SQL-expressible one has a DuckDB
                oracle in oracle_sql() (same column names/types).
oracle_sql()  - independent closed-form recomputations (interval logic,
                half-plane PIP, baked split boundaries, CRT md5%10), NOT
                ports of the Spark plans - genuine cross-checks.

Determinism notes: float outputs are rounded in BOTH engines; ranks use
explicit id tiebreaks; integer outputs cast to BIGINT on both sides.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from geeflow_spark.functions import hex as _hex
from geeflow_spark.functions import masks
from geeflow_spark.functions import s2 as _s2
from geeflow_spark.functions import utm as _utm
from geeflow_spark.functions import text as T
from geeflow_spark.operators import dedup, knn, similarity, spatial_join, splits, tiles
from geeflow_spark.operators import chunking, sampling, text_metrics
from geeflow_spark.plans import corpus, generate, layout
from geeflow_spark.sources import catalog, derived, synth

# ---------------------------------------------------------------------------
# Fixed geo fixtures shared by Spark queries and SQL oracles.
# ---------------------------------------------------------------------------

# Axis-aligned rectangles (region_id, x0, y0, x1, y1) in lon/lat.
RECTS = [
    (0, -80.0, 20.0, -30.0, 60.0),
    (1, -10.0, -40.0, 60.0, 30.0),
    (2, 100.0, -20.0, 170.0, 50.0),
]

# Convex polygons (ccw): triangle + pentagon, as (region_id, ring).
TRI = (10, [-120.0, -50.0, -60.0, -45.0, -90.0, 10.0])
PENT = (11, [20.0, 35.0, 60.0, 40.0, 75.0, 60.0, 45.0, 71.0, 15.0, 55.0])

# Tile-assignment fixture: one synthetic zone bbox (UTM meters).
ZONE_BBOX = {"32T": (200000.0, 1000000.0, 1160000.0, 1960000.0)}
NUM_SPLITS = 4
PLOT_SIZE = 960.0
CELL_SIZE = 10.0
PRED_HW = 4


def _rect_regions_pdf() -> pd.DataFrame:
    rows = []
    for rid, x0, y0, x1, y1 in RECTS:
        rows.append({"region_id": rid,
                     "ring": [x0, y0, x1, y0, x1, y1, x0, y1]})
    return pd.DataFrame(rows)


def _convex_regions_pdf() -> pd.DataFrame:
    return pd.DataFrame([{"region_id": TRI[0], "ring": TRI[1]},
                         {"region_id": PENT[0], "ring": PENT[1]}])


def _widen(df):
    """Widens an under-partitioned input before CPU-heavy row-local
    stages (r7). The test parquet tables are single files with ONE row
    group, so however many byte-range splits the scan planner makes,
    only one task reads rows and every scan-rooted stage runs on one
    core of local[N]. dedup._spread only ever INCREASES parallelism -
    a no-op on any real at-scale table (>= defaultParallelism
    partitions), the same contract the dedup battery queries have used
    since r5 ("spread: the testdata table is ONE parquet file").
    """
    return dedup._spread(
        df, df.sparkSession.sparkContext.defaultParallelism)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT widened: the geo kernels batch whole partitions through
    # numpy (mapInArrow/pandas UDFs) and are fast on the single-row-
    # group test file; measured with _widen the extra round-robin
    # shuffle cost more than the added parallelism bought
    # (geo_cell_counts 0.55 -> 1.06 s at sf1.0).
    return derived.with_geo(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    sf_dir = "/root/testdata/sf0.001"
    docs = derived.with_spans(_docs(spark, sf_dir))
    # Larger regions: the sf0.001 table has only 500 docs spread over the
    # whole globe, so unit-test-sized polygons would rarely match.
    regions = synth.regions_pdf(40, radius_scale=4.0)
    ex = generate.generate_examples(
        docs.select("doc_id", "spans", "lat", "lon"), regions, cell_level=7)
    return ex.select("doc_id", "spans", "lat", "lon", "region_id",
                     "gridcode", "utm_zone", "tile_x", "tile_y", "split")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_geo_pip_rectangles(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = spatial_join.join_points_regions(
        docs.select("doc_id", "lat", "lon"), _rect_regions_pdf(), level=6)
    # No orderBy: the gate compares order-insensitively and a global
    # sort is a range Exchange the 100 TB plan must not pay.
    return out.select("doc_id", F.col("region_id").cast("long")
                      .alias("region_id"))


def _source_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """Content fingerprint (names + sizes + mtimes) of a source parquet
    table: fixture caches keyed on it can never silently reuse a stale
    clustered copy after the test data is regenerated in place, and
    concurrent harnesses over different data can't collide on one /tmp
    path."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    parts = [src]
    files = (sorted(os.listdir(src)) if os.path.isdir(src) else [""])
    for f in files:
        st = os.stat(os.path.join(src, f) if f else src)
        parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def _q_geo_pip_pruned(spark, sf_dir):
    # The 100 TB scan story under the oracle: the SAME rectangle PIP
    # join as geo_pip_rectangles, but answered through a cell-CLUSTERED
    # copy of the documents table (plans/layout.py) so the region
    # covers become a directory-level partition filter and the scan
    # reads only the touched coarse cells. Output is identical to
    # geo_pip_rectangles, so the same independent half-plane SQL oracle
    # applies. The one-time clustering write is a cached fixture keyed
    # on the SOURCE's content fingerprint (bench warmups absorb it, so
    # timed runs never include it; regenerated test data invalidates
    # it). The executed plan must carry a NON-EMPTY PartitionFilters -
    # the query fails loudly (RuntimeError, -O-proof) if pruning
    # regresses.
    base = os.path.basename(os.path.normpath(sf_dir))
    fp = _source_fingerprint(sf_dir)
    path = f"/tmp/geeflow_clustered_l6c3_{base}_{fp}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        layout.write_cell_clustered(
            _docs(spark, sf_dir).select("doc_id", "lat", "lon"), path,
            level=6, coarse_level=3)
    out = layout.join_points_regions_pruned(
        spark, path, _rect_regions_pdf(), level=6, coarse_level=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    if not re.search(r"PartitionFilters: \[[^\]]", plan):
        raise RuntimeError(
            "pruned-scan PIP join lost its partition filter")
    return out.select("doc_id", F.col("region_id").cast("long")
                      .alias("region_id"))


def _q_geo_pip_convex(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = spatial_join.join_points_regions(
        docs.select("doc_id", "lat", "lon"), _convex_regions_pdf(), level=6)
    return out.select("doc_id", F.col("region_id").cast("long")
                      .alias("region_id"))


def _q_geo_tile_assign(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("doc_id").alias("id"), "utm_x", "utm_y",
        (F.col("doc_id") % 3 - 1).cast("int").alias("dy"),
        (F.floor(F.col("doc_id") / 3) % 3 - 1).cast("int").alias("dx"),
        F.lit("32T").alias("utm_zone"))
    out = tiles.assign_tiles(docs, zone_bboxes=ZONE_BBOX,
                             cell_size=CELL_SIZE, plot_size_m=PLOT_SIZE,
                             num_splits=NUM_SPLITS, pred_h=PRED_HW,
                             pred_w=PRED_HW)
    return out.select("doc_id", F.col("xs").cast("long").alias("xs"),
                      F.col("ys").cast("long").alias("ys"))


def _q_geo_knn(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "lat", "lon")
    q = docs.filter(F.col("doc_id") < 20) \
        .select(F.col("doc_id").alias("query_id"), "lat", "lon")
    d = docs.select(F.col("doc_id").alias("data_id"), "lat", "lon")
    # threshold=0: the gate exercises the RING path (the scale
    # machinery) even though the gate-sized data would take the
    # cost-based brute-force shortcut by default.
    out = knn.knn(q, d, k=5, level=4, brute_force_threshold=0)
    return out.select("query_id", "data_id",
                      F.col("rank").cast("long").alias("rank"))


@pandas_udf(LongType())
def _md5_mod10_str(s: pd.Series) -> pd.Series:
    return s.map(lambda v: int(hashlib.md5(str(v).encode("utf-8"))
                               .hexdigest(), 16) % 10)


def _q_geo_split_bucket(spark, sf_dir):
    # Reference split-hash semantics (export_beam_tfds.py:103): full
    # 128-bit md5 of the decimal string, mod 10. The oracle recomputes it
    # via CRT digit decomposition - independent formulation.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = docs.select(_md5_mod10_str(F.col("doc_id").cast("string"))
                      .alias("bucket"))
    return out.groupBy("bucket").agg(F.count("*").alias("n")) \
        .select(F.col("bucket").cast("long").alias("bucket"), "n")


def _q_geo_tile_origin(spark, sf_dir):
    # UTM tile origins. ORACLED: utm.tile_origin_sql_query recomputes
    # the full Snyder series + zone/letter rules + tile snap in DuckDB
    # (bit-exact on 1.3M validation points).
    docs = _docs(spark, sf_dir)
    tiled = docs.select("doc_id", generate.tile_udf(10.0, 96)(
        F.col("lat"), F.col("lon")).alias("t"))
    return tiled.select("doc_id", "t.utm_zone", "t.tile_x", "t.tile_y")


def _q_geo_cell_counts(spark, sf_dir):
    # Salted per-cell aggregation at level 5. ORACLED: s2.cell_sql_query
    # replays the exact S2 encode (face/st/Hilbert) in pure SQL.
    docs = _docs(spark, sf_dir).select("doc_id", "lat", "lon")
    enc = spatial_join.with_cell(docs, level=5)
    # no sort: gate is order-free. Salt on the unique doc_id so even
    # duplicate points spread (see salted_cell_counts docstring).
    return spatial_join.salted_cell_counts(enc, salt_cols=["doc_id"])


def _q_geo_cell_counts_hex(spark, sf_dir):
    # Hex-twin index (north rule: H3 sibling next to S2): per-cell doc
    # counts at res 6. ORACLED - hex.hex_cell_sql recomputes the packed
    # cell id in pure SQL (same literals, same floor(x+0.5) tie rule).
    docs = _docs(spark, sf_dir).select("doc_id", "lat", "lon")
    enc = spatial_join.with_cell(docs, level=6, index="hex")
    return (enc.groupBy("cell").agg(F.count("*").alias("n"))
            .select(F.col("cell").cast("long").alias("cell"), "n"))


def _q_rel_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").alias("count_order")))


def _q_rel_q3(spark, sf_dir):
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # lineitem is the probe side of the join and the test file has ~2
    # row groups -> 2-core scan; widening it measured 5.0 -> 3.8 s at
    # sf1.0 (widening orders too added nothing - it is the broadcast-
    # subtree side).
    li = _widen(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    return (cu.filter(F.col("c_mktsegment") == "BUILDING")
            .join(o, cu.c_custkey == o.o_custkey)
            .join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
            .limit(10))


def _q_rel_topk_window(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.col("rnk").cast("long").alias("rnk")))


def _q_rel_events_sessions(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts")
           - F.unix_timestamp(F.lag("ts").over(w)))
    return (ev.withColumn("new_sess",
                          F.when(gap.isNull() | (gap > 1800), 1)
                          .otherwise(0))
            .groupBy("user_id")
            .agg(F.sum("new_sess").alias("n_sessions"),
                 F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value")))


def _q_rel_part_brand(spark, sf_dir):
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return (p.groupBy("p_brand")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
                 F.max("p_size").cast("long").alias("max_size")))


def _q_text_token_counts(spark, sf_dir):
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return d.select("doc_id",
                    T.token_count(F.col("text")).cast("long")
                    .alias("n_tokens"),
                    F.length("text").cast("long").alias("n_chars"))


def _q_text_quality(spark, sf_dir):
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return d.select(
        "doc_id",
        F.round(T.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(T.mean_word_length(F.col("text")), 6).alias("mean_word_len"))


def _q_text_lang_id(spark, sf_dir):
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return (d.select(T.lang_id(F.col("text")).alias("lang_guess"))
            .groupBy("lang_guess").agg(F.count("*").alias("n")))


def _q_text_repetition(spark, sf_dir):
    # Repetition quality signals (the Gopher-style web filters):
    # distinct-word fraction, most-frequent-word share, duplicate-
    # bigram fraction - all integer-count ratios, so bit-stable across
    # partitionings and exactly replayable in SQL.
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return text_metrics.repetition_metrics(d)


def _q_dedup_exact(spark, sf_dir):
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return dedup.exact_dedup(d, "text", "doc_id").select("doc_id")


def _q_dedup_minhash(spark, sf_dir):
    # Banded-LSH candidates -> exact Jaccard >= 0.6 verification. The
    # DuckDB oracle is EXACT all-pairs string-shingle Jaccard: it checks
    # both LSH recall (16x4 banding misses a J>=0.6 pair w.p. <=
    # (1-J^4)^16, ~4e-8 at the gate corpus's minimum true J=0.9) and the
    # verification predicate (hashed-set Jaccard == string-set Jaccard
    # up to 64-bit shingle collisions).
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # spread: the testdata table is ONE parquet file; without it the
    # whole signature stage runs on a single core (no-op at scale).
    pairs = dedup.minhash_duplicate_pairs(
        d, num_perm=64, bands=16, verify_jaccard=0.6,
        spread=spark.sparkContext.defaultParallelism)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def _q_dedup_simhash(spark, sf_dir):
    # Banded simhash near-dup pairs with the md5 hash family: md5 is
    # computable in BOTH engines, so the DuckDB oracle recomputes the
    # ENTIRE pipeline exactly (token md5-64 -> poly shingle fold mod
    # 2^64 -> distinct -> per-bit majority -> 16-bit banding -> popcount
    # <= 16) - same recipe that made the hex index driver-verifiable.
    # The xxh64 production family is pytest-covered: the bit-exact twin
    # is tests/test_pipeline_misc.py::test_xxh64_twin_matches_spark and
    # the xxh64 simhash path runs in tests/test_pipeline_misc.py's
    # simhash tests.
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.simhash_candidate_pairs(
        d, shingle_k=2, bands=4, max_hamming=16, hash_family="md5",
        spread=spark.sparkContext.defaultParallelism)
    return out.select("a", "b", F.col("hamming").cast("long")
                      .alias("hamming"))


def _q_dedup_ngram(spark, sf_dir):
    # EXACT all-pairs 3-gram Jaccard >= 0.5 (small-scale ground truth
    # the LSH paths are judged against); SQL oracle via DuckDB list
    # comprehensions over the same shingle definition.
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.ngram_jaccard_pairs(
        d, threshold=0.5, shingle_k=3,
        spread=spark.sparkContext.defaultParallelism)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def _q_dedup_components(spark, sf_dir):
    # Near-dup CLUSTERS: pairs -> connected components (component =
    # min member id = the canonical survivor), closing the dedup
    # pipeline. Edges = the exact 3-gram J>=0.5 pair graph, so the
    # DuckDB oracle independently recomputes BOTH the edges (list-
    # comprehension shingle Jaccard) and the closure (recursive-CTE
    # min-label propagation) - a genuine cross-check of the iterative
    # Spark algorithm, not a replay.
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(
        d, threshold=0.5, shingle_k=3,
        spread=spark.sparkContext.defaultParallelism)
    comp = dedup.connected_components(pairs)
    return comp.select(F.col("id").cast("long").alias("id"),
                       F.col("component").cast("long")
                       .alias("component"))


def _q_dedup_survivors(spark, sf_dir):
    # The corpus-level dedup deliverable: pairs -> components -> the
    # FILTERED corpus (drop non-canonical members; docs in no pair
    # pass through). r6: the pair stage is the PRODUCTION scale path
    # (banded minhash + exact-Jaccard verify, the dedup_minhash_pairs
    # recipe) instead of the labeled all-pairs oracle path - the
    # all-pairs stage made the battery wall quadratic-by-design
    # (18.5s of a 40s battery at sf0.1) while measuring nothing about
    # the survivors operator itself. Oracle: the recursive-CTE closure
    # over EXACT all-pairs Jaccard >= 0.6 feeding a NOT-IN filter over
    # documents - edges and closure independently recomputed by
    # DuckDB, so the row ALSO re-proves banding recall 1.0 at the
    # gate corpus (same argument as dedup_minhash_pairs).
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_duplicate_pairs(
        d, num_perm=64, bands=16, verify_jaccard=0.6,
        spread=spark.sparkContext.defaultParallelism)
    out = dedup.dedup_survivors(d, pairs)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


_SAMPLE_FRACS = {"en": 0.5, "de": 0.25, "zh": 0.75}
_SAMPLE_DEFAULT = 0.1
_MIX_RATES = {"src0": 2.5, "src1": 0.4, "src2": 0.0}


def _q_corpus_sample(spark, sf_dir):
    # Deterministic stratified sampling (md5 family so DuckDB replays
    # the exact per-row draw): per-language keep fractions with a
    # default for unlisted strata. Membership is a pure function of
    # (lang, doc_id, seed) - identical across runs, partitionings,
    # and cluster sizes.
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sampling.stratified_sample(
        d, _SAMPLE_FRACS, strata_col="lang",
        default_fraction=_SAMPLE_DEFAULT, seed=7, hash_family="md5")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "lang")


def _q_corpus_mix(spark, sf_dir):
    # Rate-based training-mix: per-source rates incl. upsampling
    # (2.5 -> two full epochs + a deterministic 50% third) and a full
    # drop; epoch-tagged output, row-local explode (no join).
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sampling.mix_corpus(
        d, _MIX_RATES, strata_col="source", default_rate=1.0,
        seed=3, hash_family="md5")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "source", F.col("epoch").cast("long").alias("epoch"))


def _q_corpus_chunks(spark, sf_dir):
    # Context-window chunking (40-token windows, 8-token overlap):
    # row-local JVM explode/slice, no UDF, no shuffle; the token array
    # is split once per doc (explode-then-slice shape - the bound
    # column, not a re-evaluated split expression).
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return chunking.chunk_documents(d, max_tokens=40, overlap=8)


def _q_corpus_shuffle_rank(spark, sf_dir):
    # Deterministic global permutation (md5 family): rank = position
    # in (hash(doc_id, seed), doc_id) order, computed scalably via
    # value-range buckets + cumulative offsets instead of a
    # single-partition global window.
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sampling.shuffle_rank(d, seed=11, hash_family="md5")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "rank")


def _q_corpus_pack(spark, sf_dir):
    # The composed training-export pipeline: chunk -> deterministic
    # global shuffle -> concatenate-and-cut packing at a 128-token
    # budget. Small bucket knobs (64 rank buckets, 256-row pack
    # buckets) so the multi-bucket offset paths are exercised at gate
    # scale, not just the single-bucket degenerate. Built through
    # plans/corpus so the chunk -> shuffle -> pack chain has one shared
    # implementation (same chunked-unmixed shuffle key
    # concat_ws("#", doc_id, chunk_id), seeds and knobs as a manual
    # composition, so identical rows). No chunk-frame pin applies to
    # this config: the pipeline pins only behind a dedup, substrings
    # or decontaminate step, and a bare scan + chunk re-derives faster
    # than a persist encodes (measured, see plans/corpus).
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    cfg = {"chunk": {"max_tokens": 40, "overlap": 8},
           "shuffle": {"seed": 13, "n_buckets": 64},
           "pack": {"budget": 128, "bucket_size": 256}}
    out = corpus.build_corpus_pipeline(d, cfg, hash_family="md5")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "chunk_id", "rank", "prefix_tokens", "pack_id",
                      "pack_offset")


_E2E_CFG = {
    "sample": {"fractions": {"en": 1.0, "de": 0.5}, "strata_col": "lang",
               "default_fraction": 0.25, "seed": 7},
    # the synthetic corpus has no English stopwords; the naturalness
    # rule uses its own frequent function words (documented override)
    "quality": {"min_words": 30,
                "stopwords": ("scan", "column", "window", "order")},
    "chunk": {"max_tokens": 40, "overlap": 8},
    "shuffle": {"seed": 13, "n_buckets": 64},
    "pack": {"budget": 128, "bucket_size": 256},
}

_E2E_CLEAN_CFG = {
    "sample": {"fractions": {"en": 1.0, "de": 0.5}, "strata_col": "lang",
               "default_fraction": 0.25, "seed": 7},
    "clean": {},
    "quality": {"min_words": 30,
                "stopwords": ("scan", "column", "window", "order")},
    "substrings": {"window": 8},
    "chunk": {"max_tokens": 40, "overlap": 8},
    "shuffle": {"seed": 13, "n_buckets": 64},
    "pack": {"budget": 128, "bucket_size": 256},
}


def _q_corpus_e2e(spark, sf_dir):
    # The WHOLE config-driven corpus export chain - stratified sample
    # -> Gopher quality gate -> chunk -> deterministic shuffle -> pack
    # - built by plans/corpus.build_corpus_pipeline from one dict and
    # replayed end-to-end by a single DuckDB oracle (md5 family
    # throughout). The strongest composition check in the battery:
    # any drift in any stage breaks the hash.
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    out = corpus.build_corpus_pipeline(d, _E2E_CFG, hash_family="md5")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "chunk_id", "rank", "prefix_tokens", "pack_id",
                      "pack_offset")


def _q_text_gopher(spark, sf_dir):
    # The published Gopher web-filter rule set, one boolean per rule
    # plus the conjunction - row-local integer-count ratios, so every
    # threshold comparison replays bit-identically in SQL.
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return text_metrics.gopher_quality_flags(d)


def _q_text_c4_clean(spark, sf_dir):
    # C4 line rules over a deterministically derived multi-line form
    # of the corpus (the flat synthetic text has no newlines or
    # punctuation, which would make every rule vacuous): ' spark '
    # occurrences become sentence boundaries ('.' + newline), giving
    # real variation - punctuated/unpunctuated tails, short lines.
    # The oracle replays the derivation AND the rules.
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    lined = d.select("doc_id",
                     F.replace(F.col("text"), F.lit(" spark "),
                               F.lit(".\n")).alias("text"))
    return text_metrics.c4_line_clean(lined)


def _pii_augment(d):
    # Deterministic PII planting from doc_id (the synthetic text is
    # pure lowercase words, so without it every PII rule is vacuous -
    # the c4 lesson); the oracles replay the same concatenation.
    did = F.col("doc_id")
    return d.select(
        "doc_id", "lang",
        F.concat(
            F.col("text"),
            F.when(did % 5 == 0, F.concat(
                F.lit(" contact u"), did.cast("string"),
                F.lit("@ex-"), (did % 13).cast("string"),
                F.lit(".org now"))).otherwise(F.lit("")),
            F.when(did % 7 == 0, F.concat(
                F.lit(" from 10."), (did % 256).cast("string"),
                F.lit(".0."), (did % 254 + 1).cast("string"),
                F.lit(" logged"))).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.concat(
                F.lit(" call 555-010-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" today"))).otherwise(F.lit("")),
        ).alias("text"))


def _q_text_pii_redact(spark, sf_dir):
    # PII masking over the deterministically PII-augmented corpus;
    # the oracle replays the augmentation AND the sequential
    # count+replace chain with the same RE2/Java-compatible patterns.
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    aug = _pii_augment(d).drop("lang")
    out = text_metrics.pii_redact(aug)
    return out.select("doc_id", "pii_email", "pii_ipv4", "pii_phone",
                      F.col("text").alias("clean_text"))


def _q_corpus_e2e_clean(spark, sf_dir):
    # The corpus chain WITH the round-6 cleaning stages composed in -
    # sample -> clean (PII masking) -> quality -> substrings
    # (duplicate-run cuts) -> chunk -> shuffle -> pack - over the
    # PII-augmented corpus, built by plans/corpus from one dict and
    # replayed end-to-end by ONE DuckDB oracle. Chunk counts, the
    # permutation and the pack prefix math all run on text the
    # cleaning stages rewrote, so any drift in either new stage (or
    # its position in the chain) breaks the hash. Plan note: the
    # substrings step's two input references re-derive the row-local
    # upstream (sample filter + regexp + quality conjunction - map
    # CPU only, no extra shuffle; the Window/groupBy exchanges dedup
    # via ReusedExchange at runtime). Steady-state bench at sf0.1:
    # 7.4 s vs corpus_e2e's 1.8 s - the delta is real added work
    # (three regex passes + the dup-window pipeline + the upstream
    # re-derivation), all map-side. At 10^12 docs a production chain
    # materializes each stage through plans/checkpoint (resumability
    # requires it anyway), which removes the re-derivation; the
    # composed-lazy form here exists to put the WHOLE chain under one
    # oracle hash.
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    out = corpus.build_corpus_pipeline(_pii_augment(d), _E2E_CLEAN_CFG,
                                       hash_family="md5")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "chunk_id", "rank", "prefix_tokens", "pack_id",
                      "pack_offset")


def _q_dedup_substrings(spark, sf_dir):
    # Duplicate-substring removal (Lee et al. 2022 ExactSubstr at
    # token granularity): every 8-token run occurring >= 2 times
    # corpus-wide is cut from all but its first occurrence. The
    # planted near-dup structure in the documents table gives ~2k
    # duplicated window occurrences at sf0.01. Oracle: occurrences
    # recomputed from the window STRINGS themselves (independent of
    # the operator's 64-bit rolling fingerprints - the minhash verify
    # argument), keep-first rank and the token-level rebuild replayed
    # exactly.
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.substring_dedup(
        d, window=8, spread=spark.sparkContext.defaultParallelism)
    return out.select("doc_id", "ss_n_tokens", "ss_n_removed",
                      F.col("text").alias("clean_text"))


def _q_corpus_decontaminate(spark, sf_dir):
    # Benchmark decontamination (test-set n-gram overlap removal):
    # docs with id % 10 == 0 act as the held-out benchmark; every
    # training doc sharing an 8-token window with any of them is
    # dropped (near-dup copies of benchmark docs are the real-world
    # leak this catches). Counted broadcast gate on the benchmark
    # fingerprint set; oracle recomputes the window-string overlap
    # from scratch.
    d = _widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    train = d.filter(F.col("doc_id") % 10 != 0)
    bench = d.filter(F.col("doc_id") % 10 == 0)
    out = dedup.decontaminate(train, bench, window=8)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def _q_dedup_survivors_quality(spark, sf_dir):
    # Quality-aware survivor selection: keep the LONGEST member of
    # each duplicate cluster (ties -> min id) instead of the arbitrary
    # min-id one - what production pipelines actually want. Same
    # production pair stage as dedup_survivors; the oracle recomputes
    # closure AND the (length DESC, id ASC) winner per component from
    # scratch. At sf0.01 20 of the 24 dropped ids differ from the
    # min-id rule, so this row pins the argmax semantics, not a
    # relabeling of dedup_survivors.
    # Widen ONLY the pair-stage input (minhash spreads internally via
    # `spread`); the docs frame itself is consumed three times
    # (members join + anti-join + here) and widening it paid the
    # round-robin shuffle on every consumer (measured +3 s at sf1.0).
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .withColumn("_len", F.length("text")))
    pairs = dedup.minhash_duplicate_pairs(
        d, num_perm=64, bands=16, verify_jaccard=0.6,
        spread=spark.sparkContext.defaultParallelism)
    out = dedup.dedup_survivors(d, pairs, quality_col="_len")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def _q_dedup_simhash_manku(spark, sf_dir):
    # The SCALE banding under the driver oracle: Manku block-
    # combination keys (blocks=6, t=3 -> 20 tables of ~32-bit keys,
    # guaranteed recall for hamming <= 3) on the md5-family simhash.
    # BENCH/SF1.md shows this is the path that survives 10^7+ docs
    # (16-bit bands go quadratic there by pigeonhole); the oracle
    # replays signature AND banding from scratch in DuckDB, so the
    # CORRECTNESS row covers exactly the path production runs.
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.simhash_candidate_pairs(
        d, shingle_k=2, blocks=6, block_t=3, max_hamming=3,
        hash_family="md5",
        spread=spark.sparkContext.defaultParallelism)
    return out.select("a", "b", F.col("hamming").cast("long")
                      .alias("hamming"))


def _q_dedup_containment(spark, sf_dir):
    # Directional containment via the rolling-fingerprint inverted
    # index (the signal symmetric Jaccard misses: short doc quoted
    # inside a long one). Oracle: containment recomputed from the
    # window STRINGS themselves (list comprehensions), so the row
    # checks the fingerprint pipeline end-to-end up to 64-bit
    # collisions - the minhash verify argument.
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.containment_pairs(
        d, threshold=0.5, window=8,
        spread=spark.sparkContext.defaultParallelism)
    return out.select("a", "b",
                      F.round("containment", 6).alias("containment"))


def _q_dedup_spans(spark, sf_dir):
    # Span-level (paragraph) dedup over the interleaved table: a text
    # span is dropped iff its normalized text already occurred at a
    # smaller (doc_id, position) ANYWHERE in the corpus; media and
    # empty spans pass; surviving spans keep their original relative
    # order (span_idx re-derived by posexplode, so the oracle's
    # survivor-rank check pins order preservation too). Oracle: the
    # span derivation replayed as in spans_explode, first-occurrence
    # ranking recomputed by window over the normalized text itself
    # (the operator groups by dual digest of the same key - identical
    # up to engineered 128-bit collisions, exact_dedup's argument).
    d = derived.with_spans(_widen(spark.read.parquet(
        f"{sf_dir}/documents.parquet")))
    out = dedup.span_dedup(d)
    # posexplode_outer + isNotNull, same rows as posexplode: the plain
    # generator's inferred size(spans)>0 filter re-evaluated the whole
    # rebuilt-spans expression per row (guide §4.4's duplicated-
    # evaluation trap, here on a JVM transform).
    ex = out.select("doc_id",
                    F.posexplode_outer("spans").alias("span_idx", "s")) \
        .filter(F.col("s").isNotNull())
    return ex.select("doc_id",
                     F.col("span_idx").cast("long").alias("span_idx"),
                     F.col("s.kind").alias("kind"),
                     F.col("s.offset").cast("long").alias("offset"),
                     F.coalesce(F.col("s.text"), F.col("s.media_ref"))
                     .alias("content"))


def _q_dedup_embedding(spark, sf_dir):
    # Embedding-cosine near-dup pairs (brute-force exact at gate scale;
    # similarity.lsh_topk is the scale path for the same predicate).
    e = _widen(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    ed = e.select("vec_id", F.transform(F.col("embedding"),
                                        lambda x: x.cast("double"))
                  .alias("embedding"))
    a = ed.select(F.col("vec_id").alias("a"),
                  F.col("embedding").alias("_ea"))
    b = ed.select(F.col("vec_id").alias("b"),
                  F.col("embedding").alias("_eb"))
    cand = (a.crossJoin(b).filter(F.col("a") < F.col("b"))
            .withColumn("cos", similarity.cosine_col(F.col("_ea"),
                                                     F.col("_eb")))
            .filter(F.col("cos") >= 0.4))
    return cand.select("a", "b", F.round("cos", 6).alias("cos"))


def _q_sim_cosine_topk(spark, sf_dir):
    # RAW float column in, per-element double cast inside the unrolled
    # codegen'd dot (same values as a transform-cast wrapper, which
    # ProjectCollapse would otherwise inline dim times per row).
    e = _widen(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    ed = e.select("vec_id", "embedding")
    q = ed.filter(F.col("vec_id") < 10) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.brute_force_topk(q, ed, k=5)
    return out.select("query_id", "vec_id",
                      F.col("rank").cast("long").alias("rank"))


def _q_sim_sq8_topk(spark, sf_dir):
    # SQ8 scalar-quantized ANN (the FAISS int8 recipe): per-vector
    # scale + floor(x/scale + 0.5), score = integer dot x both scales.
    # The 10^12-scale payoff is bytes (4x smaller vectors on every
    # scan/shuffle/inverted-list file); the score stays exact integer
    # math, so the oracle recomputes quantization + dot + scales from
    # the raw floats and the qscore VALUES hash-match, not just ranks.
    e = _widen(spark.read.parquet(f"{sf_dir}/embeddings.parquet")) \
        .select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 10) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.sq8_topk(q, e, k=5)
    return out.select("query_id", "vec_id",
                      F.round("qscore", 6).alias("qscore"),
                      F.col("rank").cast("long").alias("rank"))


def _q_sim_ivf_topk(spark, sf_dir):
    # IVF ANN plumbing end-to-end (coarse quantizer -> inverted-list
    # assignment -> probe join -> exact re-rank). Full probe
    # (nprobe = n_centroids) makes the output EXACT top-k, so the
    # DuckDB cosine oracle checks the whole path row-for-row; the
    # pruning recall is pytest-covered (test_ivf_partial_probe_recall).
    e = _widen(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    ed = e.select("vec_id", "embedding")  # raw column; see sim_cosine_topk
    q = ed.filter(F.col("vec_id") < 8) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_topk(q, ed, k=3, n_centroids=8, nprobe=8,
                              train_rows=512)
    return out.select("query_id", "vec_id",
                      F.col("rank").cast("long").alias("rank"))


def _q_sim_ivf_sq8(spark, sf_dir):
    # The SQ8 x IVF composition under its own oracle: inverted lists
    # store UNIT-quantized int8 payloads, probe scoring is the
    # quantized-dot cosine approximation. Full probe makes the output
    # the exact unit-SQ8 ranking - no k-means replay needed - so the
    # oracle recomputes normalization, quantization, integer dot and
    # both scales from the raw floats; score VALUES hash-match at 6dp
    # (sequential-fold norm order pinned on both engines).
    e = _widen(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    ed = e.select("vec_id", "embedding")
    q = ed.filter(F.col("vec_id") < 8) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_topk(q, ed, k=3, n_centroids=8, nprobe=8,
                              train_rows=512, quantize=True)
    return out.select("query_id", "vec_id",
                      F.round("score", 6).alias("score"),
                      F.col("rank").cast("long").alias("rank"))


def _q_sim_lsh_topk(spark, sf_dir):
    # Sign-LSH ANN plumbing end-to-end under the oracle: per-band
    # bucket keys -> candidate bucket join -> id-pair dedup ->
    # broadcast query rerank -> per-query top-k. n_planes=0 / bands=1
    # collapses the bucketing to one bucket, which makes the output
    # EXACT top-k (the sim_ivf_topk recipe - full probe = exact), so
    # the DuckDB cosine oracle checks the whole path row-for-row. The
    # bucket-PRUNING recall is covered by
    # tests/test_pipeline_misc.py::test_lsh_topk_high_recall and the
    # sized-bucket 1M/10M recall@10=1.0 measurements in BENCH/SF1.md.
    e = _widen(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    ed = e.select("vec_id", "embedding")
    q = ed.filter(F.col("vec_id") < 10) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.lsh_topk(q, ed, k=5, dim=64, n_planes=0, bands=1)
    return out.select("query_id", "vec_id",
                      F.col("rank").cast("long").alias("rank"))


# sim_lsh_pruned config: the PRODUCTION sized-bucket path (not the
# degenerate-exact one): 16 hyperplanes in 4 bands of 4 sign bits over
# the 500-vector table -> ~31-vector buckets, real candidate pruning.
# One tuple so the Spark query and the DuckDB replay can never drift.
_LSH_PRUNED = dict(dim=64, n_planes=16, bands=4, seed=3, k=5)


def _q_sim_lsh_pruned(spark, sf_dir):
    # The sized-bucket LSH path under the FULL oracle: the DuckDB side
    # replays the seeded hyperplane signs (plane components as
    # literals, CASE WHEN dot > 0 sign bits, per-band key packing -
    # the dedup_simhash_manku recipe), recomputes the band-bucket
    # candidate join from scratch, and re-ranks by exact cosine - so
    # the CORRECTNESS row covers exactly the pruning configuration
    # production runs, approximation and all (top-k WITHIN the
    # candidate set, not the global top-k).
    e = _widen(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    ed = e.select("vec_id", "embedding")
    q = ed.filter(F.col("vec_id") < 10) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    c = _LSH_PRUNED
    out = similarity.lsh_topk(q, ed, k=c["k"], dim=c["dim"],
                              n_planes=c["n_planes"], bands=c["bands"])
    return out.select("query_id", "vec_id",
                      F.col("rank").cast("long").alias("rank"))


def _q_sim_norms(spark, sf_dir):
    e = _widen(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    norm = F.sqrt(F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0), lambda a, x: a + x * x))
    return e.select("vec_id", F.round(norm, 6).alias("norm"))


def _q_spans_explode(spark, sf_dir):
    # Interleaved span derivation + order-preserving explode (the
    # span-sequence invariant surfaced as an oracle-checkable query).
    d = derived.with_spans(_widen(spark.read.parquet(
        f"{sf_dir}/documents.parquet")))
    # posexplode_outer + isNotNull (see _q_dedup_spans): avoids the
    # inferred size(spans)>0 filter re-running the span transform.
    ex = d.select("doc_id",
                  F.posexplode_outer("spans").alias("span_idx", "s")) \
        .filter(F.col("s").isNotNull())
    return ex.select("doc_id",
                     F.col("span_idx").cast("long").alias("span_idx"),
                     F.col("s.kind").alias("kind"),
                     F.col("s.offset").cast("long").alias("offset"),
                     F.coalesce(F.col("s.text"), F.col("s.media_ref"))
                     .alias("content"))


def _q_src_s2_cloudfree_mosaic(spark, sf_dir):
    # Registry-driven: named TableSource -> standing corruption filter
    # (<=100%) -> cloud-% helper (<30) -> QA60 bitmask -> most-recent
    # clear scene per cell -> NDVI. Mirrors the reference's
    # filter_by_cloud_percentage + im_cloud_mask + mosaic flow
    # (ee_data.py:209-230) through the catalog mechanism.
    src = catalog.demo_s2_source(sf_dir)
    df = catalog.cloud_filtered(src, spark, 30.0)
    df = df.filter(masks.s2_qa60_cloud_mask_col(F.col("QA60")) == 1)
    w = Window.partitionBy("cell").orderBy(F.col("ts").desc(),
                                           F.col("scene_id").desc())
    return (df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cell", "scene_id",
                    F.round((F.col("B8") - F.col("B4"))
                            / (F.col("B8") + F.col("B4")), 6)
                    .alias("ndvi")))


def _q_src_s2_quality_mosaic(spark, sf_dir):
    # qualityMosaic(band) reducer (ee_algo.py:255-256) through the real
    # engine path: catalog source -> standing + cloud filters -> per-cell
    # per-pixel argmax composite by an NDVI quality band. Ordering runs
    # in full double precision (ties pinned to ts, scene_id - later
    # wins); outputs are re-rounded to the exact 0.1 grid the synth
    # bands live on, so the float32 patch contract cannot smear them.
    from geeflow_spark.operators import reducers
    src = catalog.demo_s2_source(sf_dir)
    df = catalog.cloud_filtered(src, spark, 30.0)
    df = df.select(
        "cell", "ts", "scene_id",
        F.array(F.col("B4")).alias("b4"),
        F.array(F.col("B8")).alias("b8"),
        F.array((F.col("B8") - F.col("B4"))
                / (F.col("B8") + F.col("B4"))).alias("ndvi"),
        F.array(F.lit(1).cast("tinyint")).alias("mask"))
    red = reducers.reduce_scenes(df, ["b4", "b8", "ndvi"], "qualityMosaic",
                                 key_cols=["cell"], quality_band="ndvi")
    return red.select(
        F.col("cell").cast("long").alias("cell"),
        F.round(F.col("b4")[0].cast("double"), 1).alias("b4"),
        F.round(F.col("b8")[0].cast("double"), 1).alias("b8"),
        F.col("valid")[0].cast("long").alias("nvalid"))


def _q_mm_decode_shapes(spark, sf_dir):
    # Multimodal plumbing through the REAL mapInPandas decode operator:
    # documents -> binary media table -> decode (deterministic stub -
    # no codec libs in this container, honestly documented) -> shape
    # metadata. The ORACLE checks everything except the stubbed pixel
    # values: schema, batching, per-row shape propagation, pixel COUNT.
    from geeflow_spark.operators import multimodal
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = d.select(
        F.concat(F.lit("media/"), F.col("doc_id").cast("string"))
        .alias("media_ref"),
        F.lit("image").alias("kind"),
        F.sha2(F.col("doc_id").cast("string"), 256).cast("binary")
        .alias("payload"),
        (F.col("doc_id") % 48 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 32 + 16).cast("int").alias("height"))
    out = multimodal.decode_image(media, fake=True)
    return out.select(
        "media_ref",
        F.col("height").cast("long").alias("height"),
        F.col("width").cast("long").alias("width"),
        F.col("channels").cast("long").alias("channels"),
        F.size("pixels").cast("long").alias("n_px"))


def _q_stats_moments(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy("event_type")
            .agg(F.round(F.sum("value"), 4).alias("sum"),
                 F.round(F.sum(F.col("value") * F.col("value")), 4)
                 .alias("sum2"),
                 F.count("value").alias("n"),
                 F.round(F.min("value"), 6).alias("min"),
                 F.round(F.max("value"), 6).alias("max")))


def _q_stats_hist_bins(spark, sf_dir):
    # CounterAccumulator integer binning: truncation toward zero
    # (stats_util.py:212-214 astype(int)).
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.select("event_type",
                      F.col("value").cast("long").alias("bin"))
            .groupBy("event_type", "bin").agg(F.count("*").alias("cnt")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "geo_pip_rectangles": _q_geo_pip_rectangles,
        "geo_pip_pruned": _q_geo_pip_pruned,
        "geo_pip_convex": _q_geo_pip_convex,
        "geo_tile_assign": _q_geo_tile_assign,
        "geo_knn": _q_geo_knn,
        "geo_split_bucket": _q_geo_split_bucket,
        "geo_tile_origin": _q_geo_tile_origin,
        "geo_cell_counts": _q_geo_cell_counts,
        "geo_cell_counts_hex": _q_geo_cell_counts_hex,
        "rel_q1_pricing": _q_rel_q1,
        "rel_q3_revenue": _q_rel_q3,
        "rel_topk_window": _q_rel_topk_window,
        "rel_events_sessions": _q_rel_events_sessions,
        "rel_part_brand": _q_rel_part_brand,
        "text_token_counts": _q_text_token_counts,
        "text_quality": _q_text_quality,
        "text_lang_id": _q_text_lang_id,
        "text_repetition": _q_text_repetition,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_pairs": _q_dedup_minhash,
        "dedup_simhash_pairs": _q_dedup_simhash,
        "dedup_ngram_pairs": _q_dedup_ngram,
        "dedup_components": _q_dedup_components,
        "dedup_survivors": _q_dedup_survivors,
        "dedup_survivors_quality": _q_dedup_survivors_quality,
        "corpus_sample": _q_corpus_sample,
        "corpus_mix": _q_corpus_mix,
        "corpus_chunks": _q_corpus_chunks,
        "corpus_shuffle_rank": _q_corpus_shuffle_rank,
        "corpus_pack": _q_corpus_pack,
        "corpus_decontaminate": _q_corpus_decontaminate,
        "text_gopher_flags": _q_text_gopher,
        "text_c4_clean": _q_text_c4_clean,
        "text_pii_redact": _q_text_pii_redact,
        "dedup_substrings": _q_dedup_substrings,
        "corpus_e2e": _q_corpus_e2e,
        "corpus_e2e_clean": _q_corpus_e2e_clean,
        "dedup_simhash_manku": _q_dedup_simhash_manku,
        "dedup_spans": _q_dedup_spans,
        "dedup_containment": _q_dedup_containment,
        "dedup_embedding_pairs": _q_dedup_embedding,
        "sim_cosine_topk": _q_sim_cosine_topk,
        "sim_sq8_topk": _q_sim_sq8_topk,
        "sim_ivf_sq8": _q_sim_ivf_sq8,
        "sim_ivf_topk": _q_sim_ivf_topk,
        "sim_lsh_topk": _q_sim_lsh_topk,
        "sim_lsh_pruned": _q_sim_lsh_pruned,
        "sim_norms": _q_sim_norms,
        "spans_explode": _q_spans_explode,
        "src_s2_cloudfree_mosaic": _q_src_s2_cloudfree_mosaic,
        "src_s2_quality_mosaic": _q_src_s2_quality_mosaic,
        "mm_decode_shapes": _q_mm_decode_shapes,
        "stats_moments": _q_stats_moments,
        "stats_hist_bins": _q_stats_hist_bins,
    }


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

_LAT = derived.LAT_SQL
_LON = derived.LON_SQL
_UX = derived.UTM_X_SQL
_UY = derived.UTM_Y_SQL


def _rect_oracle() -> str:
    parts = []
    for rid, x0, y0, x1, y1 in RECTS:
        parts.append(f"""
          SELECT doc_id, CAST({rid} AS BIGINT) AS region_id
          FROM (SELECT doc_id, {_LAT} AS lat, {_LON} AS lon FROM documents)
          WHERE lon >= {x0} AND lon <= {x1} AND lat >= {y0} AND lat <= {y1}
        """)
    # NOTE boundary semantics: the kernel's half-open edge rule differs
    # from closed intervals only ON the boundary - unreachable for the
    # congruential lat/lon values (never exactly integral).
    return " UNION ALL ".join(parts)


def _halfplane(ring: list[float], rid: int) -> str:
    k = len(ring) // 2
    conds = []
    for i in range(k):
        # parenthesize constants: a bare "--5.0" is a SQL comment
        x0, y0 = f"({ring[2 * i]})", f"({ring[2 * i + 1]})"
        x1 = f"({ring[(2 * i + 2) % (2 * k)]})"
        y1 = f"({ring[(2 * i + 3) % (2 * k)]})"
        conds.append(f"(({x1}-{x0})*(lat-{y0}) - ({y1}-{y0})*(lon-{x0})) > 0")
    return f"""
      SELECT doc_id, CAST({rid} AS BIGINT) AS region_id
      FROM (SELECT doc_id, {_LAT} AS lat, {_LON} AS lon FROM documents)
      WHERE {' AND '.join(conds)}
    """


def _tile_oracle() -> str:
    x0, y0, x1, y1 = ZONE_BBOX["32T"]
    xsb, ysb = tiles.get_split_boundaries(x0, y0, x1, y1, PLOT_SIZE,
                                          NUM_SPLITS)
    half = PLOT_SIZE // 2
    ext = PRED_HW * CELL_SIZE
    xs_cases_lo = "CASE xs " + " ".join(
        f"WHEN {i} THEN {xsb[i]}" for i in range(NUM_SPLITS)) + " END"
    xs_cases_hi = "CASE xs " + " ".join(
        f"WHEN {i} THEN {xsb[i + 1]}" for i in range(NUM_SPLITS)) + " END"
    ys_cases_lo = "CASE ys " + " ".join(
        f"WHEN {i} THEN {ysb[i]}" for i in range(NUM_SPLITS)) + " END"
    ys_cases_hi = "CASE ys " + " ".join(
        f"WHEN {i} THEN {ysb[i + 1]}" for i in range(NUM_SPLITS)) + " END"
    return f"""
      WITH plots AS (
        SELECT doc_id, {_UX} AS utm_x, {_UY} AS utm_y,
               CAST(doc_id % 3 - 1 AS INT) AS dy,
               CAST((doc_id // 3) % 3 - 1 AS INT) AS dx
        FROM documents
      ), cand AS (
        SELECT p.*, g1.range AS xs, g2.range AS ys
        FROM plots p, range(0, {NUM_SPLITS}) g1, range(0, {NUM_SPLITS}) g2
      )
      SELECT doc_id, CAST(xs AS BIGINT) AS xs, CAST(ys AS BIGINT) AS ys
      FROM cand
      WHERE NOT (utm_x + dx*{CELL_SIZE} - {half} + {ext} <= ({xs_cases_lo})
              OR utm_x + dx*{CELL_SIZE} - {half} >= ({xs_cases_hi}))
        AND NOT (utm_y - dy*{CELL_SIZE} + {half} <= ({ys_cases_lo})
              OR utm_y - dy*{CELL_SIZE} + {half} - {ext} >= ({ys_cases_hi}))
    """


def _knn_oracle() -> str:
    return f"""
      WITH pts AS (
        SELECT doc_id, {_LAT} AS lat, {_LON} AS lon FROM documents
      ), pairs AS (
        SELECT q.doc_id AS query_id, d.doc_id AS data_id,
               2.0 * 6371010.0 * asin(sqrt(
                 pow(sin(radians(d.lat - q.lat) / 2), 2) +
                 cos(radians(q.lat)) * cos(radians(d.lat)) *
                 pow(sin(radians(d.lon - q.lon) / 2), 2))) AS dist_m
        FROM pts q, pts d WHERE q.doc_id < 20
      )
      SELECT query_id, data_id, CAST(rnk AS BIGINT) AS rank FROM (
        SELECT query_id, data_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist_m ASC, data_id ASC) AS rnk
        FROM pairs)
      WHERE rnk <= 5
    """


def _ngram_jaccard_oracle(k: int, threshold: float) -> str:
    """EXACT all-pairs k-token-shingle Jaccard >= threshold in DuckDB.

    Independent formulation (string shingles + list_intersect) of the
    engine's hashed-set Jaccard; serves both the exact crossJoin
    operator (dedup_ngram_pairs) and the LSH operator
    (dedup_minhash_pairs) - for the latter it checks candidate recall
    AND verification in one shot.
    """
    return rf"""
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE
                 WHEN len(string_split_regex(trim(text), '\s+')) >= {k}
                 THEN [array_to_string(
                        string_split_regex(trim(text), '\s+')[i:i+{k - 1}],
                        ' ')
                       for i in range(
                         1,
                         len(string_split_regex(trim(text),
                                                '\s+')) - {k - 2})]
                 WHEN length(trim(text)) > 0
                 THEN [array_to_string(
                         string_split_regex(trim(text), '\s+'), ' ')]
                 ELSE []
               END) AS s
        FROM documents)
      SELECT x.doc_id AS a, y.doc_id AS b,
             ROUND(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                   / (len(x.s) + len(y.s)
                      - len(list_intersect(x.s, y.s))), 6) AS jaccard
      FROM sh x, sh y
      WHERE x.doc_id < y.doc_id
        AND (len(x.s) + len(y.s)) > 0
        AND CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / (len(x.s) + len(y.s)
               - len(list_intersect(x.s, y.s))) >= {threshold}
    """


# Full-pipeline simhash recompute (md5 hash family; see _q_dedup_simhash).
# _SIMHASH_PREFIX ends at the `hb` CTE (signed 64-bit simhash per doc);
# two banding suffixes share it: 16-bit bands (_SIMHASH_ORACLE) and the
# Manku block-combination tables (_simhash_manku_oracle).
_SIMHASH_PREFIX = r"""
  WITH tok AS (
    SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                               x -> x <> '') AS ws
    FROM documents),
  th AS (
    SELECT doc_id, list_transform(ws, w ->
      CAST(CAST(('0x' || substr(md5(w), 1, 16)) AS UBIGINT) AS HUGEINT))
      AS hs
    FROM tok),
  sh AS (
    SELECT doc_id, list_distinct(
      CASE WHEN len(hs) >= 2
           THEN [ (hs[i] * 1099511628211 + hs[i+1])
                  % 18446744073709551616
                  for i in range(1, len(hs)) ]
           ELSE hs END) AS shs
    FROM th),
  bitsum AS (
    SELECT t.doc_id, b.range AS bit,
           SUM(CASE WHEN (u.s // CAST(power(2.0, b.range) AS HUGEINT))
                         % 2 = 1
                    THEN 1 ELSE -1 END) AS ssum
    FROM sh t, unnest(t.shs) AS u(s), range(0, 64) b
    GROUP BY t.doc_id, b.range),
  hv AS (
    SELECT s.doc_id,
           COALESCE(SUM(CASE WHEN bs.ssum > 0
                        THEN CAST(power(2.0, bs.bit) AS HUGEINT)
                        ELSE 0 END), 0) AS hu
    FROM sh s LEFT JOIN bitsum bs ON s.doc_id = bs.doc_id
    GROUP BY s.doc_id),
  hb AS (
    SELECT doc_id, hu,
           CAST(CASE WHEN hu >= 9223372036854775808
                THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS h
    FROM hv)"""

_SIMHASH_ORACLE = _SIMHASH_PREFIX + r""",
  bands AS (
    SELECT doc_id, h, b.range AS band,
           (hu // CAST(power(2.0, 16 * b.range) AS HUGEINT)) % 65536
             AS bval
    FROM hb, range(0, 4) b),
  pairs AS (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           bit_count(xor(x.h, y.h)) AS hamming
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
  SELECT a, b, CAST(hamming AS BIGINT) AS hamming FROM pairs
  WHERE hamming <= 16
"""


def _simhash_manku_oracle(blocks: int, block_t: int,
                          max_hamming: int) -> str:
    """Manku block-combination banding replay on the md5 simhash.

    The C(blocks, block_t) combination masks are plain signed-int64
    constants (dedup._block_combo_masks - the SAME function the Spark
    path uses, but the masks are just integer literals here, and the
    bitwise AND + equality grouping is recomputed by DuckDB from
    scratch on its own md5 pipeline). Two's-complement AND on BIGINT
    equals the unsigned AND bit-for-bit, so masked-value equality is
    exact.
    """
    masks = dedup._block_combo_masks(blocks, block_t)
    values = ", ".join(f"({i}, CAST({m} AS BIGINT))"
                       for i, m in enumerate(masks))
    return _SIMHASH_PREFIX + f""",
  combos(band, mask) AS (SELECT * FROM (VALUES {values})),
  bands AS (
    SELECT doc_id, h, band, h & mask AS bval
    FROM hb, combos),
  pairs AS (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           bit_count(xor(x.h, y.h)) AS hamming
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
  SELECT a, b, CAST(hamming AS BIGINT) AS hamming FROM pairs
  WHERE hamming <= {max_hamming}
"""


def _lsh_pruned_oracle() -> str:
    """Sized-bucket sign-LSH replay in DuckDB (the Manku-mask recipe
    applied to hyperplanes): the seeded planes are deterministic
    numpy constants, so their components become full-precision SQL
    literals; sign bits are CASE WHEN dot > 0 comparisons on the
    float64 dot (same promotion as the UDF's float32-matrix x
    float64-planes matmul); per-band keys pack bits with the same
    1<<i weights and band<<32 tag as hyperplane_buckets_udf; the
    band-bucket candidate join, pair dedup, exact-cosine re-rank, and
    per-query top-k are all recomputed by DuckDB from scratch. The
    oracle therefore pins the PRUNED output - top-k within the
    candidate set the hashing actually admits - not the global top-k.
    """
    c = _LSH_PRUNED
    rng = np.random.default_rng(c["seed"])
    planes = rng.standard_normal((c["n_planes"], c["dim"]))
    per_band = c["n_planes"] // c["bands"]
    dots = ",\n         ".join(
        "(" + " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {float(planes[p, i])!r}"
            for i in range(c["dim"])) + f") AS d{p}"
        for p in range(c["n_planes"]))
    keys = ", ".join(
        f"CAST({b} * 4294967296 + " + " + ".join(
            f"(CASE WHEN d{b * per_band + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(per_band)) + " AS BIGINT)"
        for b in range(c["bands"]))
    return f"""
  WITH dots AS (
    SELECT vec_id, embedding,
         {dots}
    FROM embeddings),
  bk AS (
    SELECT vec_id, unnest([{keys}]) AS bucket FROM dots),
  q AS (SELECT vec_id AS query_id, embedding FROM embeddings
        WHERE vec_id < 10),
  cand AS (
    SELECT DISTINCT a.vec_id AS query_id, b.vec_id
    FROM bk a JOIN bk b ON a.bucket = b.bucket
    WHERE a.vec_id < 10),
  pairs AS (
    SELECT c.query_id, c.vec_id,
           list_cosine_similarity(q.embedding, d.embedding) AS score
    FROM cand c JOIN q ON c.query_id = q.query_id
                JOIN embeddings d ON c.vec_id = d.vec_id)
  SELECT query_id, vec_id, CAST(rnk AS BIGINT) AS rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, vec_id ASC) AS rnk
    FROM pairs)
  WHERE rnk <= {c["k"]}
"""


def _split_bucket_oracle() -> str:
    # int(md5_hex, 16) % 10 via CRT: mod 2 from the last hex digit, mod 5
    # from the hex-digit sum (16 === 1 mod 5).
    # bucket = (6*(digsum%5) + 5*(lastdigit%2)) % 10.
    def hexval(expr: str) -> str:
        return (f"(CASE WHEN {expr} BETWEEN '0' AND '9' "
                f"THEN CAST({expr} AS INT) "
                f"ELSE 10 + ascii({expr}) - ascii('a') END)")

    digsum = " + ".join(hexval(f"substr(hx, {i}, 1)") for i in range(1, 33))
    return f"""
      WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
      digs AS (SELECT ({digsum}) AS digsum,
                      {hexval("substr(hx, 32, 1)")} AS lastd
               FROM h)
      SELECT CAST((6 * (digsum % 5) + 5 * (lastd % 2)) % 10 AS BIGINT)
               AS bucket,
             COUNT(*) AS n
      FROM digs GROUP BY 1
    """


def oracle_sql() -> dict[str, str]:
    sqls = {
        "geo_pip_rectangles": _rect_oracle(),
        # identical result contract to geo_pip_rectangles - the pruned
        # scan must not change a single row.
        "geo_pip_pruned": _rect_oracle(),
        "geo_pip_convex": (_halfplane(TRI[1], TRI[0]) + " UNION ALL "
                           + _halfplane(PENT[1], PENT[0])),
        "geo_tile_assign": _tile_oracle(),
        "geo_knn": _knn_oracle(),
        "geo_split_bucket": _split_bucket_oracle(),
        "geo_cell_counts_hex": f"""
          SELECT {_hex.hex_cell_sql(_LAT, _LON, 6)} AS cell,
                 COUNT(*) AS n
          FROM documents GROUP BY 1
        """,
        # Bit-exact SQL recomputation of the level-5 S2 encode (cube
        # face + quadratic st + 5 explicit Hilbert rounds); validated
        # 0 mismatches on 1.2M points vs the numpy kernel.
        "geo_cell_counts": f"""
          SELECT cell, COUNT(*) AS count
          FROM ({_s2.cell_sql_query("documents", _LAT, _LON, 5)})
          GROUP BY cell
        """,
        # Full Snyder-series UTM forward transform + tile snap in SQL.
        "geo_tile_origin": _utm.tile_origin_sql_query(
            "documents", _LAT, _LON, 10.0, 96),
        "rel_q1_pricing": """
          SELECT l_returnflag, l_linestatus,
                 ROUND(SUM(l_quantity), 2) AS sum_qty,
                 ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                   AS sum_disc_price,
                 ROUND(AVG(l_quantity), 4) AS avg_qty,
                 ROUND(AVG(l_discount), 4) AS avg_disc,
                 COUNT(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02'
          GROUP BY l_returnflag, l_linestatus
        """,
        "rel_q3_revenue": """
          SELECT o_orderkey,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM customer JOIN orders ON c_custkey = o_custkey
                        JOIN lineitem ON o_orderkey = l_orderkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY o_orderkey
          ORDER BY revenue DESC, o_orderkey ASC
          LIMIT 10
        """,
        "rel_topk_window": """
          SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk FROM (
            SELECT o_custkey, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC,
                                               o_orderkey ASC) AS rnk
            FROM orders)
          WHERE rnk <= 3
        """,
        "rel_events_sessions": """
          WITH g AS (
            SELECT user_id, value,
                   epoch(ts) - epoch(lag(ts) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
            FROM events)
          SELECT user_id,
                 CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                 COUNT(*) AS n_events,
                 ROUND(SUM(value), 4) AS total_value
          FROM g GROUP BY user_id
        """,
        "rel_part_brand": """
          SELECT p_brand, COUNT(*) AS n,
                 ROUND(AVG(p_retailprice), 4) AS avg_price,
                 CAST(MAX(p_size) AS BIGINT) AS max_size
          FROM part GROUP BY p_brand
        """,
        "text_token_counts": r"""
          SELECT doc_id,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+'))
                      END AS BIGINT) AS n_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars
          FROM documents
        """,
        "text_quality": r"""
          SELECT doc_id,
                 ROUND(CASE WHEN length(text) > 0 THEN
                   CAST(length(regexp_replace(text,
                        '[^!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE)
                   / length(text) ELSE 0.0 END, 6) AS punct_ratio,
                 ROUND(CASE WHEN len(string_split_regex(trim(text), '\s+'))
                            > 0 THEN
                   CAST(list_sum(list_transform(
                        string_split_regex(trim(text), '\s+'),
                        w -> length(w))) AS DOUBLE)
                   / len(string_split_regex(trim(text), '\s+'))
                   ELSE 0.0 END, 6) AS mean_word_len
          FROM documents
        """,
        "text_lang_id": r"""
          WITH w AS (
            SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents),
          s AS (
            SELECT
              len(list_filter(ws, x -> x IN ('the','and','of','to','is')))
                AS s_en,
              len(list_filter(ws, x -> x IN ('der','die','und','ist','das')))
                AS s_de,
              len(list_filter(ws, x -> x IN ('le','la','et','les','des')))
                AS s_fr,
              len(list_filter(ws, x -> x IN ('el','la','los','que','y')))
                AS s_es
            FROM w),
          g AS (
            SELECT CASE
              WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
              WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
              WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
              WHEN s_en >= s_de THEN 'en'
              ELSE 'de' END AS lang_guess
            FROM s)
          SELECT lang_guess, COUNT(*) AS n FROM g GROUP BY lang_guess
        """,
        "dedup_exact": r"""
          SELECT MIN(doc_id) AS doc_id FROM (
            SELECT doc_id,
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS k
            FROM documents)
          GROUP BY k
        """,
        "dedup_ngram_pairs": _ngram_jaccard_oracle(3, 0.5),
        # components of the same exact pair graph via recursive-CTE
        # min-label closure - independent of the Spark iteration.
        "dedup_components": f"""
          WITH RECURSIVE e AS MATERIALIZED (
            SELECT a, b FROM ({_ngram_jaccard_oracle(3, 0.5)})
          ),
          sym AS MATERIALIZED (
            SELECT a AS s, b AS d FROM e
            UNION ALL SELECT b, a FROM e
          ),
          reach(n, l) AS (
            SELECT s, s FROM sym
            UNION
            SELECT sym.d, reach.l FROM reach JOIN sym ON sym.s = reach.n
          )
          SELECT CAST(n AS BIGINT) AS id,
                 CAST(MIN(l) AS BIGINT) AS component
          FROM reach GROUP BY n
        """,
        # survivors = documents minus non-canonical component members;
        # closure recomputed as in dedup_components, but the edge set
        # is EXACT all-pairs Jaccard >= 0.6 - the truth the Spark
        # side's production minhash+verify pair stage must equal (the
        # dedup_minhash_pairs recall argument, re-proven here through
        # the closure).
        "dedup_survivors": f"""
          WITH RECURSIVE e AS MATERIALIZED (
            SELECT a, b FROM ({_ngram_jaccard_oracle(3, 0.6)})
          ),
          sym AS MATERIALIZED (
            SELECT a AS s, b AS d FROM e
            UNION ALL SELECT b, a FROM e
          ),
          reach(n, l) AS (
            SELECT s, s FROM sym
            UNION
            SELECT sym.d, reach.l FROM reach JOIN sym ON sym.s = reach.n
          ),
          comp AS (SELECT n, MIN(l) AS component FROM reach GROUP BY n)
          SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
          WHERE doc_id NOT IN (SELECT n FROM comp WHERE component <> n)
        """,
        # deterministic stratified sampling: DuckDB replays the exact
        # md5 draw ((top-64-bits of md5) mod 2^63) against the same
        # integer thresholds the Spark side embeds (both come from
        # sampling.threshold_u63 - engine float rounding can't
        # disagree).
        "corpus_sample": f"""
          SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
          FROM documents
          WHERE (('0x' || substr(md5(lang || '|' ||
                     CAST(doc_id AS VARCHAR) || ':7'), 1, 16))::UBIGINT
                 % 9223372036854775808)
                < CASE lang
                    {' '.join(f"WHEN '{s}' THEN {sampling.threshold_u63(v)}"
                              for s, v in sorted(_SAMPLE_FRACS.items()))}
                    ELSE {sampling.threshold_u63(_SAMPLE_DEFAULT)} END
        """,
        # rate-based mixing: whole-epoch count + the same Bernoulli
        # draw for the fractional extra copy, exploded via a lateral
        # generate_series (empty when copies = 0).
        "corpus_mix": f"""
          WITH c AS (
            SELECT doc_id, source,
                   CASE source
                     {' '.join(f"WHEN '{s}' THEN {int(v)}"
                               for s, v in sorted(_MIX_RATES.items()))}
                     ELSE 1 END
                   + CASE WHEN (('0x' || substr(md5(source || '|' ||
                         CAST(doc_id AS VARCHAR) || ':3'), 1, 16))::UBIGINT
                         % 9223372036854775808)
                       < CASE source
                           {' '.join(
                               f"WHEN '{s}' THEN "
                               f"{sampling.threshold_u63(v - int(v))}"
                               for s, v in sorted(_MIX_RATES.items()))}
                           ELSE 0 END
                     THEN 1 ELSE 0 END AS copies
            FROM documents)
          SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
                 CAST(unnest([i for i in range(0, copies)]) AS BIGINT)
                   AS epoch
          FROM c
        """,
        # chunking: same windows via DuckDB list slicing (1-based,
        # INCLUSIVE end -> [start+1 : start+max]); n_chunks =
        # ceil((n - overlap) / stride) floored at 1.
        "corpus_chunks": """
          WITH w AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
            FROM documents),
          c AS (
            SELECT doc_id, ws,
                   greatest(CAST(ceil((len(ws) - 8) / 32.0) AS BIGINT),
                            1) AS nc
            FROM w),
          e AS (
            SELECT doc_id, ws,
                   unnest([i for i in range(0, nc)]) AS ci
            FROM c)
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(ci AS BIGINT) AS chunk_id,
                 array_to_string(ws[ci * 32 + 1 : ci * 32 + 40], ' ')
                   AS chunk_text,
                 CAST(least(40, len(ws) - ci * 32) AS BIGINT)
                   AS chunk_tokens
          FROM e
        """,
        # C4 line rules: derivation (sentence boundaries from a
        # literal replace) + per-line keep conditions + page tells,
        # all replayed; counts are integers so flags match exactly.
        "text_c4_clean": r"""
          WITH li AS (
            SELECT doc_id,
                   trim(replace(text, ' spark ', '.' || chr(10))) AS t
            FROM documents),
          m AS (
            SELECT doc_id, t,
                   list_filter(list_transform(
                       string_split(t, chr(10)), x -> trim(x)),
                     x -> length(x) > 0) AS lines
            FROM li),
          k AS (
            SELECT doc_id, t, lines,
                   list_filter(lines, x ->
                     len(string_split_regex(x, '\s+')) >= 3
                     AND NOT contains(lower(x), 'javascript')
                     AND regexp_matches(x, '[.!?"]$')) AS kept
            FROM m)
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 COALESCE(array_to_string(kept, chr(10)), '')
                   AS clean_text,
                 CAST(len(kept) AS BIGINT) AS n_lines_kept,
                 CAST(len(lines) - len(kept) AS BIGINT)
                   AS n_lines_dropped,
                 (len(kept) >= 1
                  AND NOT contains(lower(t), 'lorem ipsum')
                  AND NOT contains(t, '{')
                  AND NOT contains(t, '}')) AS c4_keep
          FROM k
        """,
        # PII masking: the doc_id-keyed augmentation, then the same
        # sequential count+replace chain (each count on the PREVIOUS
        # stage's output) with the identical RE2-compatible patterns;
        # DuckDB regexp_replace needs the explicit 'g' flag to match
        # Spark's replace-all.
        "text_pii_redact": r"""
          WITH aug AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 5 = 0 THEN
                        ' contact u' || CAST(doc_id AS VARCHAR)
                        || '@ex-' || CAST(doc_id % 13 AS VARCHAR)
                        || '.org now' ELSE '' END
                   || CASE WHEN doc_id % 7 = 0 THEN
                        ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.0.' || CAST(doc_id % 254 + 1 AS VARCHAR)
                        || ' logged' ELSE '' END
                   || CASE WHEN doc_id % 11 = 0 THEN
                        ' call 555-010-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || ' today' ELSE '' END AS t0
            FROM documents),
          s1 AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t0,
                     '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'
                     )) AS BIGINT) AS pii_email,
                   regexp_replace(t0,
                     '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g') AS t1
            FROM aug),
          s2 AS (
            SELECT doc_id, pii_email,
                   CAST(len(regexp_extract_all(t1,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'
                     )) AS BIGINT) AS pii_ipv4,
                   regexp_replace(t1,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                     '<IP>', 'g') AS t2
            FROM s1)
          SELECT doc_id, pii_email, pii_ipv4,
                 CAST(len(regexp_extract_all(t2,
                   '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT)
                   AS pii_phone,
                 regexp_replace(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b',
                                '<PHONE>', 'g') AS clean_text
          FROM s2
        """,
        # duplicate-substring removal: positional 8-token windows from
        # the window STRINGS (independent of the operator's rolling
        # fingerprints), corpus-wide occurrence count + keep-first
        # rank over (doc_id, pos), covered-token union, token-level
        # rebuild. Short docs (0 < T < 8 tokens) form ONE whole-doc
        # window; empty docs pass through with ''.
        "dedup_substrings": r"""
          WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               x -> x <> '') AS ws
            FROM documents),
          g AS (
            SELECT doc_id, ws, len(ws) AS n,
                   unnest([i for i in range(0,
                     CASE WHEN len(ws) >= 8 THEN len(ws) - 7
                          WHEN len(ws) > 0 THEN 1 ELSE 0 END)]) AS pos
            FROM base),
          win AS (
            SELECT doc_id, n, pos,
                   array_to_string(ws[pos+1:least(pos+8, n)], ' ')
                     AS wstr
            FROM g),
          r AS (
            SELECT doc_id, n, pos,
                   COUNT(*) OVER (PARTITION BY wstr) AS cnt,
                   ROW_NUMBER() OVER (PARTITION BY wstr
                                      ORDER BY doc_id, pos) AS rn
            FROM win),
          cov AS (
            SELECT DISTINCT doc_id,
                   unnest([j for j in range(pos,
                                            least(pos+8, n))]) AS j
            FROM r WHERE cnt >= 2 AND rn >= 2),
          toks AS (
            SELECT doc_id, unnest(ws) AS t,
                   unnest([j for j in range(0, len(ws))]) AS j
            FROM base),
          kept AS (
            SELECT k.doc_id, k.j, k.t
            FROM toks k LEFT JOIN cov c
              ON c.doc_id = k.doc_id AND c.j = k.j
            WHERE c.doc_id IS NULL),
          rebuilt AS (
            SELECT doc_id, string_agg(t, ' ' ORDER BY j) AS ct
            FROM kept GROUP BY doc_id),
          nrm AS (
            SELECT doc_id, COUNT(*) AS nr FROM cov GROUP BY doc_id)
          SELECT b.doc_id,
                 CAST(len(b.ws) AS BIGINT) AS ss_n_tokens,
                 CAST(COALESCE(nrm.nr, 0) AS BIGINT) AS ss_n_removed,
                 COALESCE(rebuilt.ct, '') AS clean_text
          FROM base b
          LEFT JOIN rebuilt ON rebuilt.doc_id = b.doc_id
          LEFT JOIN nrm ON nrm.doc_id = b.doc_id
        """,
        # the corpus chain WITH the cleaning stages: PII augmentation
        # + sequential redaction, the md5 sample draw, the Gopher
        # conjunction on the REDACTED text, duplicate-window cuts over
        # the quality survivors (window strings, keep-first), then
        # chunk counts / permutation / pack prefix math on the text
        # the cleaning stages rewrote - one composed replay.
        "corpus_e2e_clean": f"""
          WITH aug AS (
            SELECT doc_id, lang,
                   text
                   || CASE WHEN doc_id % 5 = 0 THEN
                        ' contact u' || CAST(doc_id AS VARCHAR)
                        || '@ex-' || CAST(doc_id % 13 AS VARCHAR)
                        || '.org now' ELSE '' END
                   || CASE WHEN doc_id % 7 = 0 THEN
                        ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.0.' || CAST(doc_id % 254 + 1 AS VARCHAR)
                        || ' logged' ELSE '' END
                   || CASE WHEN doc_id % 11 = 0 THEN
                        ' call 555-010-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || ' today' ELSE '' END AS t0
            FROM documents),
          red AS (
            SELECT doc_id, lang,
                   regexp_replace(regexp_replace(regexp_replace(t0,
                     '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}',
                     '<EMAIL>', 'g'),
                     '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b',
                     '<IP>', 'g'),
                     '\\b\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b',
                     '<PHONE>', 'g') AS text
            FROM aug),
          samp AS (
            SELECT doc_id, text FROM red
            WHERE (('0x' || substr(md5(lang || '|' ||
                       CAST(doc_id AS VARCHAR) || ':7'), 1, 16))::UBIGINT
                   % 9223372036854775808)
                  < CASE lang
                      WHEN 'en' THEN {sampling.threshold_u63(1.0)}
                      WHEN 'de' THEN {sampling.threshold_u63(0.5)}
                      ELSE {sampling.threshold_u63(0.25)} END),
          g AS (
            SELECT doc_id, trim(text) AS t,
                   string_split_regex(lower(trim(text)), '\\s+') AS ws
            FROM samp),
          q AS (
            SELECT doc_id, t FROM (
              SELECT doc_id, t, ws,
                CASE WHEN length(t) = 0 THEN 0 ELSE len(ws) END AS nw,
                CASE WHEN length(t) = 0 THEN 0.0 ELSE
                  CAST(list_sum(list_transform(ws, w -> length(w)))
                       AS DOUBLE) / len(ws) END AS mwl,
                CASE WHEN length(t) = 0 THEN 0.0 ELSE
                  ((length(t) - length(replace(t, '#', '')))
                   + (length(t) - length(replace(t, '...', ''))) / 3)
                  / len(ws) END AS sym,
                list_filter(list_transform(string_split_regex(t, '\\n'),
                    x -> trim(x)), x -> length(x) > 0) AS lines,
                len(list_filter(ws,
                    w -> regexp_matches(w, '[a-z]'))) AS alpha,
                len(list_intersect(list_distinct(ws),
                    ['scan', 'column', 'window', 'order'])) AS swh
              FROM g) f
            WHERE nw BETWEEN 30 AND 100000
              AND mwl BETWEEN 3.0 AND 10.0 AND sym <= 0.1
              AND (len(lines) = 0 OR
                   CAST(len(list_filter(lines,
                       x -> starts_with(x, '-') OR starts_with(x, '*')))
                     AS DOUBLE) / len(lines) < 0.9)
              AND (len(lines) = 0 OR
                   CAST(len(list_filter(lines, x -> ends_with(x, '...')))
                     AS DOUBLE) / len(lines) < 0.3)
              AND (nw > 0 AND CAST(alpha AS DOUBLE) / nw >= 0.8)
              AND swh >= 2),
          sbase AS (
            SELECT doc_id,
                   list_filter(string_split_regex(t, '\\s+'),
                               x -> x <> '') AS wr
            FROM q),
          sg AS (
            SELECT doc_id, wr, len(wr) AS n,
                   unnest([i for i in range(0,
                     CASE WHEN len(wr) >= 8 THEN len(wr) - 7
                          WHEN len(wr) > 0 THEN 1 ELSE 0 END)]) AS pos
            FROM sbase),
          sr AS (
            SELECT doc_id, n, pos,
                   COUNT(*) OVER (PARTITION BY wstr) AS cnt,
                   ROW_NUMBER() OVER (PARTITION BY wstr
                                      ORDER BY doc_id, pos) AS rn
            FROM (SELECT doc_id, n, pos,
                         array_to_string(wr[pos+1:least(pos+8, n)], ' ')
                           AS wstr
                  FROM sg)),
          scov AS (
            SELECT DISTINCT doc_id,
                   unnest([j for j in range(pos,
                                            least(pos+8, n))]) AS j
            FROM sr WHERE cnt >= 2 AND rn >= 2),
          srebuilt AS (
            SELECT k.doc_id, string_agg(k.t, ' ' ORDER BY k.j) AS ct
            FROM (SELECT doc_id, unnest(wr) AS t,
                         unnest([j for j in range(0, len(wr))]) AS j
                  FROM sbase) k
            LEFT JOIN scov c ON c.doc_id = k.doc_id AND c.j = k.j
            WHERE c.doc_id IS NULL
            GROUP BY k.doc_id),
          clean AS (
            SELECT q.doc_id,
                   string_split_regex(trim(COALESCE(srebuilt.ct, '')),
                                      '\\s+') AS ws2
            FROM q LEFT JOIN srebuilt ON srebuilt.doc_id = q.doc_id),
          c AS (
            SELECT doc_id, ws2,
                   greatest(CAST(ceil((len(ws2) - 8) / 32.0) AS BIGINT),
                            1) AS nc
            FROM clean),
          tk AS (
            SELECT doc_id, chunk_id,
                   least(40, len(ws2) - chunk_id * 32) AS t,
                   CAST(doc_id AS VARCHAR) || '#' ||
                     CAST(chunk_id AS VARCHAR) AS k
            FROM (SELECT doc_id, ws2,
                         unnest([i for i in range(0, nc)]) AS chunk_id
                  FROM c)),
          rk AS (
            SELECT doc_id, chunk_id, t,
                   row_number() OVER (ORDER BY
                     (('0x' || substr(md5(k || ':13'), 1, 16))::UBIGINT
                      % 9223372036854775808), k) - 1 AS rank
            FROM tk),
          p AS (
            SELECT doc_id, chunk_id, rank,
                   COALESCE(SUM(t) OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS prefix
            FROM rk)
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(chunk_id AS BIGINT) AS chunk_id,
                 CAST(rank AS BIGINT) AS rank,
                 CAST(prefix AS BIGINT) AS prefix_tokens,
                 CAST(prefix // 128 AS BIGINT) AS pack_id,
                 CAST(prefix % 128 AS BIGINT) AS pack_offset
          FROM p
        """,
        # the whole corpus chain in one replay: stratified-sample
        # thresholds, the Gopher conjunction (corpus stopwords), chunk
        # windows, the md5 permutation, and the pack prefix math.
        "corpus_e2e": f"""
          WITH samp AS (
            SELECT doc_id, text FROM documents
            WHERE (('0x' || substr(md5(lang || '|' ||
                       CAST(doc_id AS VARCHAR) || ':7'), 1, 16))::UBIGINT
                   % 9223372036854775808)
                  < CASE lang
                      WHEN 'en' THEN {sampling.threshold_u63(1.0)}
                      WHEN 'de' THEN {sampling.threshold_u63(0.5)}
                      ELSE {sampling.threshold_u63(0.25)} END),
          g AS (
            SELECT doc_id, trim(text) AS t,
                   string_split_regex(lower(trim(text)), '\\s+') AS ws
            FROM samp),
          q AS (
            SELECT doc_id, ws FROM (
              SELECT doc_id, ws,
                CASE WHEN length(t) = 0 THEN 0 ELSE len(ws) END AS nw,
                CASE WHEN length(t) = 0 THEN 0.0 ELSE
                  CAST(list_sum(list_transform(ws, w -> length(w)))
                       AS DOUBLE) / len(ws) END AS mwl,
                CASE WHEN length(t) = 0 THEN 0.0 ELSE
                  ((length(t) - length(replace(t, '#', '')))
                   + (length(t) - length(replace(t, '...', ''))) / 3)
                  / len(ws) END AS sym,
                list_filter(list_transform(string_split_regex(t, '\\n'),
                    x -> trim(x)), x -> length(x) > 0) AS lines,
                len(list_filter(ws,
                    w -> regexp_matches(w, '[a-z]'))) AS alpha,
                len(list_intersect(list_distinct(ws),
                    ['scan', 'column', 'window', 'order'])) AS swh
              FROM g) f
            WHERE nw BETWEEN 30 AND 100000
              AND mwl BETWEEN 3.0 AND 10.0 AND sym <= 0.1
              AND (len(lines) = 0 OR
                   CAST(len(list_filter(lines,
                       x -> starts_with(x, '-') OR starts_with(x, '*')))
                     AS DOUBLE) / len(lines) < 0.9)
              AND (len(lines) = 0 OR
                   CAST(len(list_filter(lines, x -> ends_with(x, '...')))
                     AS DOUBLE) / len(lines) < 0.3)
              AND (nw > 0 AND CAST(alpha AS DOUBLE) / nw >= 0.8)
              AND swh >= 2),
          c AS (
            SELECT doc_id, ws,
                   greatest(CAST(ceil((len(ws) - 8) / 32.0) AS BIGINT),
                            1) AS nc
            FROM q),
          tok AS (
            SELECT doc_id,
                   unnest([i for i in range(0, nc)]) AS chunk_id,
                   ws
            FROM c),
          tk AS (
            SELECT doc_id, chunk_id,
                   least(40, len(ws) - chunk_id * 32) AS t,
                   CAST(doc_id AS VARCHAR) || '#' ||
                     CAST(chunk_id AS VARCHAR) AS k
            FROM tok),
          rk AS (
            SELECT doc_id, chunk_id, t,
                   row_number() OVER (ORDER BY
                     (('0x' || substr(md5(k || ':13'), 1, 16))::UBIGINT
                      % 9223372036854775808), k) - 1 AS rank
            FROM tk),
          p AS (
            SELECT doc_id, chunk_id, rank,
                   COALESCE(SUM(t) OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS prefix
            FROM rk)
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(chunk_id AS BIGINT) AS chunk_id,
                 CAST(rank AS BIGINT) AS rank,
                 CAST(prefix AS BIGINT) AS prefix_tokens,
                 CAST(prefix // 128 AS BIGINT) AS pack_id,
                 CAST(prefix % 128 AS BIGINT) AS pack_offset
          FROM p
        """,
        # Gopher rules: every ratio is an integer-count division, so
        # the boolean thresholds replay exactly; line rules over
        # trimmed non-empty lines, vacuous at zero lines.
        "text_gopher_flags": r"""
          WITH b AS (
            SELECT doc_id, trim(text) AS t,
                   string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents),
          m AS (
            SELECT doc_id, t, ws,
                   CASE WHEN length(t) = 0 THEN 0 ELSE len(ws) END
                     AS nw,
                   list_filter(list_transform(
                       string_split_regex(t, '\n'), x -> trim(x)),
                     x -> length(x) > 0) AS lines
            FROM b),
          r AS (
            SELECT doc_id, nw,
                   CASE WHEN nw > 0 THEN
                     CAST(list_sum(list_transform(ws,
                         w -> length(w))) AS DOUBLE) / nw
                   ELSE 0.0 END AS mwl,
                   CASE WHEN nw > 0 THEN
                     ((length(t) - length(replace(t, '#', '')))
                      + (length(t) - length(replace(t, '...', ''))) / 3)
                     / nw
                   ELSE 0.0 END AS sym,
                   len(lines) AS nl,
                   len(list_filter(lines,
                       x -> starts_with(x, '-') OR starts_with(x, '*')))
                     AS bullet,
                   len(list_filter(lines, x -> ends_with(x, '...')))
                     AS elend,
                   len(list_filter(ws,
                       w -> regexp_matches(w, '[a-z]'))) AS alpha,
                   len(list_intersect(list_distinct(ws),
                       ['the', 'be', 'to', 'of', 'and', 'that',
                        'have', 'with'])) AS swh
            FROM m)
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(nw AS BIGINT) AS n_words,
                 nw BETWEEN 50 AND 100000 AS wc_ok,
                 mwl BETWEEN 3.0 AND 10.0 AS mwl_ok,
                 sym <= 0.1 AS symbol_ok,
                 (nl = 0 OR CAST(bullet AS DOUBLE) / nl < 0.9)
                   AS bullet_ok,
                 (nl = 0 OR CAST(elend AS DOUBLE) / nl < 0.3)
                   AS ellipsis_ok,
                 (nw > 0 AND CAST(alpha AS DOUBLE) / nw >= 0.8)
                   AS alpha_ok,
                 swh >= 2 AS stopword_ok,
                 (nw BETWEEN 50 AND 100000)
                   AND mwl BETWEEN 3.0 AND 10.0 AND sym <= 0.1
                   AND (nl = 0 OR CAST(bullet AS DOUBLE) / nl < 0.9)
                   AND (nl = 0 OR CAST(elend AS DOUBLE) / nl < 0.3)
                   AND (nw > 0 AND CAST(alpha AS DOUBLE) / nw >= 0.8)
                   AND swh >= 2 AS gopher_pass
          FROM r
        """,
        # decontamination: benchmark window-string set, training docs
        # sharing any window dropped - the same list-comprehension
        # window derivation the containment oracle uses.
        "corpus_decontaminate": r"""
          WITH w AS (
            SELECT doc_id,
                   list_distinct([array_to_string(ws[i:i+7], ' ')
                     for i in range(1, greatest(len(ws) - 7, 1) + 1)])
                     AS fps
            FROM (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\s+')
                           AS ws
                  FROM documents WHERE trim(text) <> '') t),
          b AS (
            SELECT DISTINCT unnest(fps) AS f FROM w
            WHERE doc_id % 10 = 0),
          bad AS (
            SELECT DISTINCT e.doc_id
            FROM (SELECT doc_id, unnest(fps) AS f FROM w
                  WHERE doc_id % 10 <> 0) e
            JOIN b USING (f))
          SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
          WHERE doc_id % 10 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM bad)
        """,
        # the composed pipeline: chunk windows -> md5-draw permutation
        # over the composite chunk key -> exclusive prefix sum in rank
        # order -> integer pack math. One DuckDB window replays the
        # distributed bucket-offset machinery end-to-end.
        "corpus_pack": """
          WITH w AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
            FROM documents),
          c AS (
            SELECT doc_id, ws,
                   greatest(CAST(ceil((len(ws) - 8) / 32.0) AS BIGINT),
                            1) AS nc
            FROM w),
          ch AS (
            SELECT doc_id,
                   unnest([i for i in range(0, nc)]) AS chunk_id,
                   ws
            FROM c),
          tok AS (
            SELECT doc_id, chunk_id,
                   least(40, len(ws) - chunk_id * 32) AS t,
                   CAST(doc_id AS VARCHAR) || '#' ||
                     CAST(chunk_id AS VARCHAR) AS k
            FROM ch),
          rk AS (
            SELECT doc_id, chunk_id, t,
                   row_number() OVER (ORDER BY
                     (('0x' || substr(md5(k || ':13'), 1, 16))::UBIGINT
                      % 9223372036854775808), k) - 1 AS rank
            FROM tok),
          p AS (
            SELECT doc_id, chunk_id, rank,
                   COALESCE(SUM(t) OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS prefix
            FROM rk)
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(chunk_id AS BIGINT) AS chunk_id,
                 CAST(rank AS BIGINT) AS rank,
                 CAST(prefix AS BIGINT) AS prefix_tokens,
                 CAST(prefix // 128 AS BIGINT) AS pack_id,
                 CAST(prefix % 128 AS BIGINT) AS pack_offset
          FROM p
        """,
        # global permutation: the exact md5 draw, ranked by
        # (draw, doc_id) - one window in DuckDB replays what Spark
        # computes via range buckets + offsets.
        "corpus_shuffle_rank": """
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(row_number() OVER (ORDER BY d, doc_id) - 1
                      AS BIGINT) AS rank
          FROM (
            SELECT doc_id,
                   (('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                        || ':11'), 1, 16))::UBIGINT
                    % 9223372036854775808) AS d
            FROM documents)
        """,
        # quality-aware winner: same closure, then the (length DESC,
        # id ASC) rank-1 member per component survives; everything in
        # a component but not rank-1 is dropped.
        "dedup_survivors_quality": f"""
          WITH RECURSIVE e AS MATERIALIZED (
            SELECT a, b FROM ({_ngram_jaccard_oracle(3, 0.6)})
          ),
          sym AS MATERIALIZED (
            SELECT a AS s, b AS d FROM e
            UNION ALL SELECT b, a FROM e
          ),
          reach(n, l) AS (
            SELECT s, s FROM sym
            UNION
            SELECT sym.d, reach.l FROM reach JOIN sym ON sym.s = reach.n
          ),
          comp AS (SELECT n, MIN(l) AS component FROM reach GROUP BY n),
          m AS (
            SELECT comp.n, comp.component, length(d.text) AS q
            FROM comp JOIN documents d ON d.doc_id = comp.n),
          w AS (
            SELECT n, row_number() OVER (
                PARTITION BY component ORDER BY q DESC, n ASC) AS rk
            FROM m)
          SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
          WHERE doc_id NOT IN (SELECT n FROM w WHERE rk > 1)
        """,
        "dedup_minhash_pairs": _ngram_jaccard_oracle(3, 0.6),
        "dedup_simhash_pairs": _SIMHASH_ORACLE,
        "dedup_simhash_manku": _simhash_manku_oracle(6, 3, 3),
        "dedup_embedding_pairs": """
          WITH e AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings)
          SELECT a.vec_id AS a, b.vec_id AS b,
                 ROUND(list_sum(list_transform(
                         list_zip(a.emb, b.emb),
                         p -> p[1] * p[2]))
                       / (sqrt(list_sum(list_transform(a.emb,
                                                       x -> x * x)))
                          * sqrt(list_sum(list_transform(b.emb,
                                                         x -> x * x)))),
                       6) AS cos
          FROM e a, e b
          WHERE a.vec_id < b.vec_id
            AND list_sum(list_transform(list_zip(a.emb, b.emb),
                                        p -> p[1] * p[2]))
                / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
                   * sqrt(list_sum(list_transform(b.emb, x -> x * x))))
                >= 0.4
        """,
        # SQ8: quantization (per-vector abs-max scale, floor(x/s+0.5)),
        # the integer dot, and both scales recomputed from the raw
        # floats; integer dots are exact in double on both engines, so
        # qscore VALUES match at 6dp, not just the ranking.
        "sim_sq8_topk": """
          WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          s AS (
            SELECT vec_id, v,
                   CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS sc
            FROM (SELECT vec_id, v,
                         list_max(list_transform(v, x -> abs(x))) AS m
                  FROM e)),
          q8 AS (
            SELECT vec_id, sc,
                   [floor(v[x+1] / sc + 0.5) for x in range(0, 64)] AS qv
            FROM s),
          p AS (
            SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                   list_sum([a.qv[x+1] * b.qv[x+1]
                             for x in range(0, 64)])
                     * a.sc * b.sc AS qscore
            FROM q8 a, q8 b WHERE a.vec_id < 10)
          SELECT query_id, vec_id, ROUND(qscore, 6) AS qscore,
                 CAST(rnk AS BIGINT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY qscore DESC, vec_id ASC) AS rnk
            FROM p)
          WHERE rnk <= 5
        """,
        # SQ8 x IVF: unit normalization (sequential-fold norm - the
        # same left-fold order Spark's interpreted aggregate uses, via
        # list_reduce, NOT list_sum whose float order is unspecified),
        # scale-invariant quantization (the norm cancels inside q_i),
        # exact integer dot, both unit scales; full probe = the exact
        # unit-SQ8 ranking, so no k-means replay is needed.
        "sim_ivf_sq8": """
          WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          s AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS m,
                   sqrt(list_reduce([v[i+1] * v[i+1]
                                     for i in range(0, 64)],
                                    (a, b) -> a + b)) AS n
            FROM e),
          q8 AS (
            SELECT vec_id,
                   CASE WHEN n = 0 THEN 1.0
                        ELSE (CASE WHEN m = 0 THEN 1.0
                              ELSE m / 127.0 END) / n END AS sc,
                   [floor(v[x+1] / (CASE WHEN m = 0 THEN 1.0
                                    ELSE m / 127.0 END) + 0.5)
                    for x in range(0, 64)] AS qv
            FROM s),
          p AS (
            SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                   list_sum([a.qv[x+1] * b.qv[x+1]
                             for x in range(0, 64)])
                     * a.sc * b.sc AS score
            FROM q8 a, q8 b WHERE a.vec_id < 8)
          SELECT query_id, vec_id, ROUND(score, 6) AS score,
                 CAST(rnk AS BIGINT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, vec_id ASC) AS rnk
            FROM p)
          WHERE rnk <= 3
        """,
        "sim_cosine_topk": """
          WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                     WHERE vec_id < 10),
          pairs AS (
            SELECT q.query_id, d.vec_id,
                   list_cosine_similarity(q.embedding, d.embedding) AS score
            FROM q, embeddings d)
          SELECT query_id, vec_id, CAST(rnk AS BIGINT) AS rank FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id ASC)
                     AS rnk
            FROM pairs)
          WHERE rnk <= 5
        """,
        # identical contract to sim_cosine_topk - the degenerate-exact
        # LSH path must reproduce exact top-5 row-for-row.
        "sim_lsh_topk": """
          WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                     WHERE vec_id < 10),
          pairs AS (
            SELECT q.query_id, d.vec_id,
                   list_cosine_similarity(q.embedding, d.embedding) AS score
            FROM q, embeddings d)
          SELECT query_id, vec_id, CAST(rnk AS BIGINT) AS rank FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id ASC)
                     AS rnk
            FROM pairs)
          WHERE rnk <= 5
        """,
        "sim_lsh_pruned": _lsh_pruned_oracle(),
        "sim_ivf_topk": """
          WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                     WHERE vec_id < 8),
          pairs AS (
            SELECT q.query_id, d.vec_id,
                   list_cosine_similarity(q.embedding, d.embedding) AS score
            FROM q, embeddings d)
          SELECT query_id, vec_id, CAST(rnk AS BIGINT) AS rank FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id ASC)
                     AS rnk
            FROM pairs)
          WHERE rnk <= 3
        """,
        "sim_norms": """
          SELECT vec_id,
                 ROUND(sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
                   AS norm
          FROM embeddings
        """,
        # containment from window strings: build each doc's distinct
        # 8-word rolling windows (partial windows when the doc is
        # shorter, matching the Spark kernel's greatest(n-w+1, 1)
        # index range), then ordered-pair intersect / |a| - the
        # fingerprint layer is checked implicitly (hashing is a
        # set-preserving map up to 64-bit collisions).
        "dedup_containment": r"""
          WITH w AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents
            WHERE trim(text) <> ''),
          f AS (
            SELECT doc_id,
                   list_distinct([array_to_string(
                       ws[i:i+7], ' ')
                     for i in range(1, greatest(len(ws) - 7, 1) + 1)])
                     AS fps
            FROM w)
          SELECT a.doc_id AS a, b.doc_id AS b,
                 ROUND(len(list_intersect(a.fps, b.fps))
                       / CAST(len(a.fps) AS DOUBLE), 6) AS containment
          FROM f a JOIN f b ON a.doc_id <> b.doc_id
          WHERE len(list_intersect(a.fps, b.fps))
                / CAST(len(a.fps) AS DOUBLE) >= 0.5
        """,
        # span-level dedup: the derivation of spans_explode, then
        # first-occurrence ranking by normalized span text (window
        # over (doc_id, pos)); media/empty spans bypass the ranking;
        # span_idx recomputed as the survivor rank inside each doc so
        # the row also checks order preservation.
        "dedup_spans": r"""
          WITH base AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
            FROM documents),
          s AS (
            SELECT doc_id, g.range AS pos, words
            FROM base, range(0, 4) g),
          exp AS (
            SELECT doc_id, pos,
                   CASE WHEN pos % 2 = 0 THEN 'text' ELSE 'media' END
                     AS kind,
                   CAST(pos * 32 + doc_id % 7 AS BIGINT) AS offset,
                   CASE WHEN pos % 2 = 0 THEN
                     array_to_string(words[CAST(pos*2+1 AS INT):
                                           CAST(pos*2+2 AS INT)], ' ')
                   ELSE 'media/' || CAST(doc_id AS VARCHAR) || '/'
                        || CAST(pos AS VARCHAR) END AS content
            FROM s),
          k AS (
            SELECT *,
                   CASE WHEN kind = 'text' AND length(trim(content)) > 0
                        THEN lower(trim(regexp_replace(content,
                                                       '\s+', ' ', 'g')))
                   END AS nk
            FROM exp),
          r AS (
            SELECT *,
                   CASE WHEN nk IS NULL THEN 1
                        ELSE row_number() OVER (PARTITION BY nk
                                                ORDER BY doc_id, pos)
                   END AS rn
            FROM k)
          SELECT doc_id,
                 CAST(row_number() OVER (PARTITION BY doc_id
                                         ORDER BY pos) - 1 AS BIGINT)
                   AS span_idx,
                 kind, r."offset" AS offset, content
          FROM r WHERE rn = 1
        """,
        # repetition metrics: integer-count ratios recomputed from the
        # same lowercase whitespace tokenization (unnest + group for
        # the top-word share, list functions for the array-shape
        # metrics), rounded identically.
        "text_repetition": r"""
          WITH w AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents
            WHERE text IS NOT NULL AND length(trim(text)) > 0),
          ex AS (SELECT doc_id, unnest(ws) AS word FROM w),
          wc AS (SELECT doc_id, word, count(*) AS c
                 FROM ex GROUP BY doc_id, word),
          top AS (SELECT doc_id, max(c) AS topc FROM wc GROUP BY doc_id),
          shape AS (
            SELECT doc_id, len(ws) AS n,
                   len(list_distinct(ws)) AS nd,
                   CASE WHEN len(ws) >= 2 THEN
                     list_transform(range(2, len(ws) + 1),
                                    i -> ws[i-1] || ' ' || ws[i])
                   ELSE [] END AS bgs
            FROM w)
          SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_words,
                 ROUND(s.nd / CAST(s.n AS DOUBLE), 6)
                   AS distinct_word_frac,
                 ROUND(t.topc / CAST(s.n AS DOUBLE), 6)
                   AS top_word_frac,
                 ROUND(CASE WHEN len(s.bgs) > 0 THEN
                         1.0 - len(list_distinct(s.bgs))
                               / CAST(len(s.bgs) AS DOUBLE)
                       ELSE 0.0 END, 6) AS dup_bigram_frac
          FROM shape s JOIN top t ON s.doc_id = t.doc_id
        """,
        "spans_explode": r"""
          WITH base AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
            FROM documents),
          s AS (
            SELECT doc_id, g.range AS span_idx, words
            FROM base, range(0, 4) g)
          SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx,
                 CASE WHEN span_idx % 2 = 0 THEN 'text' ELSE 'media' END
                   AS kind,
                 CAST(span_idx * 32 + doc_id % 7 AS BIGINT) AS offset,
                 CASE WHEN span_idx % 2 = 0 THEN
                   array_to_string(words[CAST(span_idx*2+1 AS INT):
                                         CAST(span_idx*2+2 AS INT)], ' ')
                 ELSE 'media/' || CAST(doc_id AS VARCHAR) || '/'
                      || CAST(span_idx AS VARCHAR) END AS content
          FROM s
        """,
        "src_s2_cloudfree_mosaic": f"""
          WITH s2 AS (
            SELECT event_id AS scene_id, user_id % 50 AS cell, ts,
                   {catalog.DEMO_CLOUD_SQL} AS cpp,
                   {catalog.DEMO_B4_SQL} AS B4,
                   {catalog.DEMO_B8_SQL} AS B8,
                   {catalog.DEMO_QA60_SQL} AS QA60
            FROM events),
          f AS (
            SELECT * FROM s2
            WHERE cpp <= 100 AND cpp < 30
              AND (CAST(QA60 AS BIGINT) & 1024) = 0
              AND (CAST(QA60 AS BIGINT) & 2048) = 0),
          r AS (
            SELECT cell, scene_id, B4, B8,
                   row_number() OVER (PARTITION BY cell
                                      ORDER BY ts DESC, scene_id DESC)
                     AS rn
            FROM f)
          SELECT cell, scene_id, ROUND((B8 - B4) / (B8 + B4), 6) AS ndvi
          FROM r WHERE rn = 1
        """,
        "src_s2_quality_mosaic": f"""
          WITH s2 AS (
            SELECT event_id AS scene_id, user_id % 50 AS cell, ts,
                   {catalog.DEMO_CLOUD_SQL} AS cpp,
                   {catalog.DEMO_B4_SQL} AS B4,
                   {catalog.DEMO_B8_SQL} AS B8
            FROM events),
          f AS (SELECT * FROM s2 WHERE cpp <= 100 AND cpp < 30),
          r AS (
            SELECT cell, B4, B8,
                   COUNT(*) OVER (PARTITION BY cell) AS nvalid,
                   row_number() OVER (
                     PARTITION BY cell
                     ORDER BY (B8 - B4) / (B8 + B4) DESC,
                              ts DESC, scene_id DESC) AS rn
            FROM f)
          SELECT CAST(cell AS BIGINT) AS cell,
                 ROUND(B4, 1) AS b4, ROUND(B8, 1) AS b8,
                 CAST(nvalid AS BIGINT) AS nvalid
          FROM r WHERE rn = 1
        """,
        "mm_decode_shapes": """
          SELECT 'media/' || CAST(doc_id AS VARCHAR) AS media_ref,
                 CAST(doc_id % 32 + 16 AS BIGINT) AS height,
                 CAST(doc_id % 48 + 16 AS BIGINT) AS width,
                 CAST(3 AS BIGINT) AS channels,
                 CAST((doc_id % 32 + 16) * (doc_id % 48 + 16) * 3
                      AS BIGINT) AS n_px
          FROM documents
        """,
        "stats_moments": """
          SELECT event_type,
                 ROUND(SUM(value), 4) AS sum,
                 ROUND(SUM(value * value), 4) AS sum2,
                 COUNT(value) AS n,
                 ROUND(MIN(value), 6) AS min,
                 ROUND(MAX(value), 6) AS max
          FROM events GROUP BY event_type
        """,
        "stats_hist_bins": """
          SELECT event_type, CAST(trunc(value) AS BIGINT) AS bin,
                 COUNT(*) AS cnt
          FROM events GROUP BY event_type, bin
        """,
    }
    return sqls
