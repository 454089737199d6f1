"""Streaming duplicate-substring removal: the batch ExactSubstr pass
(operators/dedup.substring_dedup) composed onto a micro-batch stream
with CROSS-BATCH window-fingerprint state.

A late-arriving document must have its window-token runs cut when the
same run was already delivered in an EARLIER micro-batch - otherwise a
crawler that re-fetches boilerplate across days re-introduces every
duplicate the batch pass would have cut. State is the DISTINCT set of
window fingerprints seen so far (8 bytes each, appended per batch
under `state_dir`). Unlike the survivors stream's O(docs) signature
state, this state is O(distinct windows) - inherent to substring
dedup (the state IS the window inverted index, minus postings); at
10^12 docs it is a large hash-partitioned table and the per-batch
membership probe below is the bucketed semi-join against it.

Per micro-batch (foreachBatch, the documented batch-composition
point):

  1. positional window fingerprints of the batch
     (dedup._window_occurrences - the pure-JVM Horner fold, one pass);
  2. an occurrence is cut iff its fingerprint is IN STATE (seen in an
     earlier batch - every batch occurrence cuts, there is no
     first-keeper left to protect) OR it is a repeat within this
     batch (batch-local keep-first rank by (id, position), the batch
     operator's rule);
  3. covered positions aggregate per doc and the cut text rebuilds
     through the same `_cut_token_positions` the batch operator uses;
     rebuilt rows append to `out_dir`;
  4. the batch's distinct NEW fingerprints append to `state_dir`.

Replay safety: foreachBatch is at-least-once - a crash between a
sink write and the stream-checkpoint commit replays the batch. Both
sinks are per-batch OVERWRITE partitions (batch_id=N, the
streaming/ingest.py pattern) and the state read excludes the current
batch's own partition, so a replay rewrites exactly its own output
and state instead of appending duplicates or seeing its own
half-committed fingerprints (tested by invoking the batch body twice
with the same batch_id).

First-arrival-wins contract (append-only output cannot retract): the
occurrence that SURVIVES a duplicated run is the first to ARRIVE, not
the global (doc_id, position) minimum. When batches deliver documents
in ascending doc_id order the two orders coincide and the streamed
output is row-identical to batch `substring_dedup(min_count=2,
keep_first=True)` over the union of all batches (tested); under
out-of-order delivery the same occurrences are cut in the same
number, only WHICH copy survives differs (tested). min_count is fixed
at 2: higher thresholds need per-fingerprint counts in state, not
membership - a different (heavier) state contract.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geeflow_spark.operators import dedup
from geeflow_spark.pins import Pins


def substring_foreach_batch(state_dir: str, out_dir: str,
                            window: int = 8,
                            text_col: str = "text",
                            id_col: str = "doc_id"):
    """Returns the foreachBatch function; wire it with
    stream.writeStream.foreachBatch(...) or use
    start_substring_stream for the assembled query."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one fingerprint pass, materialized: consumed by the cut
        # pipeline AND the state write (without the checkpoint it
        # would run twice per batch); released when the batch ends.
        with Pins() as scratch:
            occ = scratch.checkpoint(dedup._window_occurrences(
                batch_df, window, text_col, id_col), eager=True)
            # state read: everything EARLIER batches committed. The
            # exclusion of this batch's own partition makes the whole
            # body idempotent under foreachBatch's at-least-once
            # replay - a crash after the state write but before the
            # stream-checkpoint commit re-runs the batch, which must
            # NOT see its own half-committed fingerprints as "seen"
            # (it would cut the first keepers too).
            try:
                seen = (spark.read.parquet(state_dir)
                        .filter(F.col("batch_id") != batch_id)
                        .select("_f"))
            except AnalysisException:  # first batch: no state yet
                seen = spark.createDataFrame([], "_f long")
            hit = (occ.join(seen.withColumn("_seen", F.lit(True)),
                            "_f", "left")
                   .withColumn("_seen", F.coalesce(F.col("_seen"),
                                                   F.lit(False))))
            # Partial-aggregated count + keep-first winner, NOT
            # Window.partitionBy("_f") (r7: the batch operator's
            # skew-safe shape, applied to the per-batch form - a hot
            # boilerplate fingerprint would colocate every in-batch
            # occurrence in one window task). min(struct(id, pos))
            # reproduces row_number()=1 under orderBy(id, pos), and
            # the join-back reads the occurrence CHECKPOINT blocks,
            # so nothing re-derives the fingerprint pass.
            agg = (hit.groupBy("_f")
                   .agg(F.count("*").alias("_cnt"),
                        F.min(F.struct(F.col(id_col).alias("i"),
                                       F.col("_p").alias("p")))
                        .alias("_w")))
            removed = (hit.join(agg, "_f")
                       .filter(F.col("_seen")
                               | ((F.col("_cnt") >= 2)
                                  & ((F.col(id_col) != F.col("_w.i"))
                                     | (F.col("_p")
                                        != F.col("_w.p"))))))
            cov = dedup._covered_positions(removed, window, id_col)
            out = dedup._cut_token_positions(batch_df, cov, text_col,
                                             id_col, metrics=False)
            # idempotent per-batch sinks (the streaming/ingest.py
            # pattern): a replayed batch OVERWRITES its own batch_id
            # partition instead of appending duplicates. Output first
            # (it consumes the occurrence checkpoint), then state.
            out.write.mode("overwrite") \
                .parquet(f"{out_dir}/batch_id={batch_id}")
            (occ.select("_f").distinct()
             .join(seen, "_f", "left_anti")
             .write.mode("overwrite")
             .parquet(f"{state_dir}/batch_id={batch_id}"))

    return process


def start_substring_stream(docs_stream: DataFrame, state_dir: str,
                           out_dir: str, checkpoint_dir: str,
                           **kwargs):
    """Assembled availableNow query: drains everything currently in
    the source through the substring-dedup pipeline and stops;
    re-launch to pick up late files (exactly-once file pickup via the
    stream checkpoint - the streaming/ingest.py pattern)."""
    return (docs_stream.writeStream
            .foreachBatch(substring_foreach_batch(state_dir, out_dir,
                                                  **kwargs))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
