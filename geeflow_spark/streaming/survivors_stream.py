"""Streaming near-dup survivors: the batch pairs -> components ->
filtered-corpus pipeline (operators/dedup.py) composed onto a
micro-batch stream, with CROSS-BATCH component state.

`dedup_stream_builtin` handles exact duplicates; this module is the
near-dup tail: a late-arriving document must join the component of
documents seen in EARLIER micro-batches and be dropped if that
component already has a survivor. State is the compact per-doc simhash
signature table (8 bytes + id per doc - the same 64-bit signature the
batch Manku banding uses, so state size is O(corpus), not
O(shingles)), appended per batch under `state_dir`.

Per micro-batch (foreachBatch - the documented composition point for
batch-only operators like iterative connected components, which
Structured Streaming cannot express natively):

  1. simhash the batch (same simhash_udf as batch dedup);
  2. Manku block-combination banding of batch signatures against
     (state UNION batch) - candidate pairs must touch >= 1 batch doc,
     so per-batch cost is proportional to the batch's bucket
     neighborhoods, not to |state|^2;
  3. connected components over the found pairs (pointer jumping, the
     batch operator); a batch doc survives iff its component contains
     NO previously-seen doc and it is the component's canonical
     min-id member (docs in no pair pass through);
  4. survivors append to `out_dir`; ALL batch signatures (survivors
     AND dropped - transitive chains need the dropped ones) append to
     `state_dir`.

First-arrival-wins contract (append-only streams cannot retract
committed output; this is the standard streaming relaxation, NOT full
batch equivalence):

  - when a LATER batch delivers a smaller id than an already-kept
    member of the same component, the earlier arrival stays;
  - when a later doc BRIDGES two components that each already
    committed a survivor (hamming(a, c) and hamming(b, c) within the
    radius while hamming(a, b) is not - the triangle inequality
    permits this), both earlier survivors stay and only the bridge
    doc drops; batch dedup_survivors over the union would keep one.

Both cases over-KEEP, never over-drop: every streamed survivor set is
a superset of the batch survivor set containing >= 1 member per
component. On corpora where every component is fully delivered before
a bridging doc arrives - in particular when no bridge exists, e.g.
components are cliques of radius <= max_hamming/2 - the result is
row-identical to batch dedup_survivors over the union of all batches
(both properties tested: the cross-batch chain case and the planted
bridge case).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geeflow_spark.operators import dedup
from geeflow_spark.pins import Pins


def _pairs_vs_state(sigs_all: DataFrame, id_col: str, blocks: int,
                    block_t: int, max_hamming: int) -> DataFrame:
    """Near-dup pairs (a < b, hamming <= max_hamming) over signature
    rows (id, _h, _new), restricted to pairs touching >= 1 NEW doc.

    Same Manku C(blocks, block_t) combination keys as the batch
    operator (dedup._block_combo_masks); the bucket join keys
    partition the work, and the new-side filter keeps the join output
    proportional to the batch's bucket neighborhoods."""
    masks = dedup._block_combo_masks(blocks, block_t)
    combo = F.explode(F.array(*[
        F.struct(F.lit(i).alias("band"), F.lit(m).alias("_m"))
        for i, m in enumerate(masks)])).alias("c")
    bh = sigs_all.select(id_col, "_h", "_new", combo).select(
        id_col, "_h", "_new", F.col("c.band").alias("band"),
        F.col("_h").bitwiseAND(F.col("c._m")).alias("bval"))
    # singleton-bucket prefilter (shares the (band, bval) hash
    # partitioning with the join): nearly all buckets are singletons.
    wb = Window.partitionBy("band", "bval")
    bh = (bh.withColumn("_n", F.count("*").over(wb))
          .filter(F.col("_n") > 1).drop("_n"))
    x = bh.filter("_new").select(F.col(id_col).alias("_xa"),
                                 F.col("_h").alias("_ha"),
                                 "band", "bval")
    y = bh.select(F.col(id_col).alias("_xb"), F.col("_h").alias("_hb"),
                  "band", "bval")
    return (x.join(y, ["band", "bval"])
            .filter(F.col("_xa") != F.col("_xb"))
            .select(F.least("_xa", "_xb").alias("a"),
                    F.greatest("_xa", "_xb").alias("b"),
                    F.bit_count(F.expr("_ha ^ _hb")).alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def survivors_foreach_batch(state_dir: str, out_dir: str,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            shingle_k: int = 2, blocks: int = 6,
                            block_t: int = 3, max_hamming: int = 3,
                            hash_family: str = "xxh64"):
    """Returns the foreachBatch function; wire it with

        stream.writeStream.foreachBatch(
            survivors_foreach_batch(state_dir, out_dir))
              .option("checkpointStreamLocation"...)

    or use start_survivors_stream for the assembled query."""
    sim = dedup.simhash_udf(shingle_k, hash_family=hash_family)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # This batch's signature checkpoint and component labels are
        # released when the batch ends - only its own blocks, so a
        # session holding other CC results alongside the stream is
        # safe.
        with Pins() as scratch:
            # One signature pass per batch, materialized: consumed by
            # the pair join, the survivor anti-join, and the state
            # append.
            sigs_new = scratch.checkpoint(
                batch_df.select(F.col(id_col),
                                sim(F.col(text_col)).alias("_h")),
                eager=True)
            # state = earlier batches' signatures; excluding this
            # batch's own partition makes the body idempotent under
            # foreachBatch replay (a half-committed replayed batch
            # must not see its own signatures as already-seen - every
            # batch doc would drop as "component has a seen member")
            try:
                seen = (spark.read.parquet(state_dir)
                        .filter(F.col("batch_id") != batch_id)
                        .select(id_col, "_h"))
            except AnalysisException:  # first batch: no state yet
                seen = spark.createDataFrame([], sigs_new.schema)
            sigs_all = (sigs_new.withColumn("_new", F.lit(True))
                        .unionByName(seen.withColumn("_new",
                                                     F.lit(False))))
            pairs = _pairs_vs_state(sigs_all, id_col, blocks, block_t,
                                    max_hamming)
            labels = dedup._connected_components(pairs, "a", "b", 50,
                                                 scratch)
            comp = labels.select(F.col("_n").alias("id"),
                                 F.col("_l").alias("component"))
            # components containing ANY previously-seen doc already
            # have a committed survivor - every batch member of those
            # drops; in fresh components the canonical min-id member
            # survives (component label == min member id by
            # construction).
            seen_comps = (comp.join(seen.select(F.col(id_col)
                                                .alias("id")), "id")
                          .select("component").distinct())
            members_new = comp.join(
                sigs_new.select(F.col(id_col).alias("id")), "id")
            drop = (members_new.join(seen_comps, "component",
                                     "left_semi")
                    .select("id")
                    .unionByName(members_new
                                 .filter(F.col("id")
                                         != F.col("component"))
                                 .select("id"))
                    .distinct().withColumnRenamed("id", id_col))
            survivors = batch_df.join(drop, id_col, "left_anti")
            # Output FIRST (it consumes the component checkpoint
            # blocks), then the state append. idempotent per-batch
            # sinks (the streaming/ingest.py pattern): a replayed
            # batch overwrites its own batch_id partition instead of
            # appending duplicates
            survivors.write.mode("overwrite") \
                .parquet(f"{out_dir}/batch_id={batch_id}")
            sigs_new.write.mode("overwrite") \
                .parquet(f"{state_dir}/batch_id={batch_id}")

    return process


def start_survivors_stream(docs_stream: DataFrame, state_dir: str,
                           out_dir: str, checkpoint_dir: str,
                           **kwargs):
    """Assembled availableNow query: drains everything currently in
    the source through the survivors pipeline and stops; re-launch to
    pick up late files (exactly-once file pickup via the stream
    checkpoint - same pattern as streaming/ingest.py)."""
    return (docs_stream.writeStream
            .foreachBatch(survivors_foreach_batch(state_dir, out_dir,
                                                  **kwargs))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
