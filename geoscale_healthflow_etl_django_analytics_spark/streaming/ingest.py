"""Streaming form of the ingest ACCEPT gate (VERDICT r8 next-round
#7): ``dedup_incremental_ingest`` is the BATCH shape of a streaming
ingest — this module wires the identical decision through
``foreachBatch`` so a continuously-arriving document stream is
deduplicated micro-batch by micro-batch against the persisted index.

Semantics contract (pinned by tests/test_streaming_ingest.py against
the registered batch query): for a stream whose micro-batches arrive
in ``doc_id`` order, the union of per-micro-batch ACCEPTs equals the
one-shot batch gate's output EXACTLY —

* exact gate: a doc is dropped if its canonical fingerprint exists in
  the index OR in any PRIOR seen batch doc OR in a smaller-id doc of
  its own micro-batch (rank-1 per fp) — together exactly the batch
  form's ``index anti-join + whole-batch rank-1``;
* near gate: ``incremental_minhash_pairs`` runs per micro-batch with
  the index side = original index ∪ ALL previously seen batch docs
  (accepted or not — the batch form's greedy rule lets a DROPPED
  smaller-id doc still veto a later near-dup, deliberately not
  transitive closure), so a cross-micro-batch near pair surfaces as a
  ``batch_index`` link whose victim is the later doc — the same
  victim the batch form's (both-new → larger id loses) rule picks.

State across micro-batches lives in two append-only parquet stores
(the ``foreach_batch_upsert`` precedent): ``seen/`` (every processed
batch doc — the near gate's growing index side) and ``accepted/``
(the gate's output).  Both are written per-batch into
``batch_id=N`` subdirectories with overwrite, so a foreachBatch
retry of the same batch id is idempotent.  At 100 TB the ``seen``
side is the persisted ``(band, bh)``-bucketed band-table artifact
(see operators/incremental.py — recomputing it per batch here only
over-states the cost, the stateless-harness caveat that module
documents).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from ..operators.incremental import incremental_minhash_pairs

_DOC_COLS = ["doc_id", "text", "n_chars"]


def _store_read(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """Read an append store if it has data, else an empty frame with
    the same schema."""
    try:
        return spark.read.parquet(path).select(*like.columns)
    except Exception:
        return spark.createDataFrame([], like.schema)


def accept_batch(batch: DataFrame, index_docs: DataFrame) -> DataFrame:
    """The per-micro-batch ACCEPT decision — the batch-query gate with
    ``index_docs`` standing in for (original index ∪ previously seen
    stream docs).  Returns accepted (doc_id, n_chars) rows."""
    fps_new = batch.select(
        "doc_id", "n_chars", fingerprint(F.col("text")).alias("fp")
    )
    index_fp = index_docs.select(
        fingerprint(F.col("text")).alias("fp")
    ).distinct()
    b1 = fps_new.join(index_fp.hint("shuffle_hash"), "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy(F.asc("doc_id"))
    b2 = (
        b1.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_chars")
    )
    tagged = (
        index_docs.select(*_DOC_COLS)
        .withColumn("is_new", F.lit(False))
        .unionByName(
            batch.select(*_DOC_COLS).withColumn("is_new", F.lit(True))
        )
    )
    pairs = incremental_minhash_pairs(tagged)
    # victim rule, identical to dedup_incremental_ingest: both-new →
    # larger id loses (batch_batch pairs have doc_a < doc_b, so doc_b
    # drops); new×index → the new doc loses.  A batch_index pair
    # carries the batch doc on whichever side its id sorts to, so the
    # victim is the side that is in the current batch (exactly one
    # is).  Cross-micro-batch both-new pairs arrive here as
    # batch_index with the LATER doc on the batch side — the same
    # victim the one-shot batch form's larger-id rule picks.
    v_bb = pairs.filter(F.col("link_type") == "batch_batch").select(
        F.col("doc_b").alias("doc_id")
    )
    v_bi = (
        pairs.filter(F.col("link_type") == "batch_index")
        .select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .join(batch.select("doc_id"), "doc_id", "left_semi")
    )
    victims = v_bb.unionByName(v_bi).distinct()
    return b2.join(victims.hint("shuffle_hash"), "doc_id", "left_anti")


def drain_parquet_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    per_batch,
) -> None:
    """Drain a parquet file source with an AvailableNow trigger
    (one file per micro-batch; drains everything
    then stops, the ev_* replay pattern), calling
    ``per_batch(batch_df, batch_id)`` in ``foreachBatch``.  Blocks until
    the drain ends."""
    schema = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(source_dir)
        .schema
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(source_dir)
        .writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_streaming_ingest(
    spark: SparkSession,
    batch_source_dir: str,
    index_docs: DataFrame,
    work_dir: str,
) -> str:
    """Run the ACCEPT gate as a Structured Streaming query over a
    parquet file source (:func:`drain_parquet_stream`).  Returns the
    accepted-store path.

    ``index_docs`` must be a re-readable frame (it is evaluated once
    per micro-batch inside foreachBatch).
    """
    seen_dir = os.path.join(work_dir, "seen")
    accepted_dir = os.path.join(work_dir, "accepted")

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select(*_DOC_COLS).localCheckpoint()
        if b.isEmpty():
            return
        prior = _store_read(
            b.sparkSession, seen_dir, index_docs.select(*_DOC_COLS)
        )
        index = index_docs.select(*_DOC_COLS).unionByName(prior)
        acc = accept_batch(b, index)
        acc.write.mode("overwrite").parquet(
            os.path.join(accepted_dir, f"batch_id={batch_id}")
        )
        # every processed doc joins the seen side, accepted or not
        b.write.mode("overwrite").parquet(
            os.path.join(seen_dir, f"batch_id={batch_id}")
        )

    drain_parquet_stream(
        spark, batch_source_dir, os.path.join(work_dir, "checkpoint"), _gate
    )
    return accepted_dir
