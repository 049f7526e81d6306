"""Incremental (new-batch vs indexed-corpus) MinHash dedup.

The production problem (extends the dedup family in
``operators/dedup.py``; the reference pipelines re-clean whole uploads
per request, cf. ``app/etl_app/views`` — no incremental form exists
there): a training corpus is not deduplicated once, it is INGESTED —
every arriving batch must be checked against the already-deduplicated
index AND against itself, without re-running the corpus×corpus
pipeline.  The whole-corpus operator (``dedup_minhash_lsh``) re-pays
the full banded self-join per run; at 100 TB that is a corpus-sized
shuffle to discover that 99.9% of buckets contain no new document.

The incremental form makes the work batch-proportional:

1. band hashes for the batch are computed fresh; the index side's
   band table is a PERSISTED artifact in production (the same
   ``(band, bh)``-bucketed layout ``similarity.write_bucketed_index``
   uses for vectors) — here it is recomputed from the corpus because
   the gate harness is stateless, which only over-states the cost;
2. the distinct ``(band, bh)`` keys of the BATCH select the touched
   buckets with a left-semi join (pinned ``shuffle_hash`` — the key
   set grows with the batch, and the scale curves grow the batch with
   the corpus, so it must never ride an AQE broadcast guess);
3. pair expansion runs only inside touched buckets and only emits
   pairs with at least one batch doc — old×old pairs (already
   adjudicated when the index was built) are never generated, so the
   per-bucket expansion is new×all, bounded by batch occupancy
   rather than bucket-size-squared;
4. survivors are exact-verified with shingle Jaccard, identical to
   the whole-corpus tier.

Candidate semantics are the UNSALTED band join (the adaptive
bucket-cap salting of ``minhash_lsh_pairs`` exists for whole-corpus
self-join mega-buckets; here the old×old exclusion already removes
the quadratic term a mega-bucket would contribute, and a batch-side
mega-bucket is bounded by the batch).  The full chain — md5-derived
shingle hashes, the affine permutation family, banded collision,
batch restriction, exact verify — is DuckDB-replayable, so the
operator carries a full value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import PAIR_JACCARD, _verify_candidates, minhash_perm_band_hashes


def incremental_minhash_pairs(
    docs: DataFrame,
    new_pred=None,
    tagged: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs touching at least one NEW document.

    Batch membership comes from ONE of two join-free forms: pass
    ``new_pred`` (a callable mapping the ``doc_id`` Column to a
    boolean Column) for the one-band-pass form — ``is_new`` is then
    ignored — or mark ``docs`` with a boolean ``is_new`` column for the
    two-pass persisted-index form (see the branch comment below for
    the measured trade).  Every non-batch row is the
    already-deduplicated index.  Output:
    ``(doc_a, doc_b, jaccard, link_type)`` with doc_a < doc_b,
    exact shingle Jaccard >= ``PAIR_JACCARD``, and link_type
    ``'batch_batch'`` (both new — duplicates inside the batch) or
    ``'batch_index'`` (a new doc duplicating an indexed one — the
    batch doc is the one to drop).

    THIRD form: pass ``tagged`` — a pre-built
    ``(doc_id, band, bh, __new)`` table — and both derivations are
    skipped.  This is the persisted-index shape: the index side's band
    table is a stored artifact read back from disk and only the
    arriving batch is band-hashed fresh (see
    ``operators/splitting.py::incremental_pairs_vs_index``).
    ``is_new``/``new_pred`` are ignored; the caller owns the flag.
    A caller-supplied ``tagged`` is used as-is: restricting it to the
    buckets a batch key touches is the caller's job.  An unscreened
    table gives the same pairs (the candidate filter needs a batch doc
    on one side), only at the cost of expanding untouched buckets.
    """
    # Never a flag JOIN (a docs(doc_id, is_new) projection looks
    # broadcast-cheap at gate SF, but it is corpus-sized: the exact
    # AQE-broadcast-guess trap the decontamination semijoin tier pins
    # against).  Two join-free forms:
    #
    # * ``new_pred`` given (a doc_id Column -> boolean Column
    #   callable): ONE band pass over the whole corpus, flag derived
    #   in-plan from the id.  The form dedup_minhash_incremental and
    #   dedup_incremental_ingest register — the r8 x500 stage split
    #   measured the two-pass form's double
    #   signature derivation at 267.9s of a 282.4s cell (two parquet
    #   scans + two groupBys over the 20/80 splits), pushing the
    #   stateless-gate cell ABOVE the whole-corpus tier that the
    #   pair restriction beats at x200.  Production analogue: batch
    #   membership is known from provenance metadata, not a join.
    # * no ``new_pred``: band-hash the two sides separately with
    #   LITERAL flags — the persisted-index shape (the index band
    #   table is a stored artifact read back with its identity known,
    #   batch rows flagged by construction).
    #
    # Construction-time execution contract mirrors minhash_lsh_pairs:
    # the tagged band table materializes once; the key-distinct, both
    # expansion sides and the verify semi-join all read its blocks.
    if tagged is None:
        if new_pred is not None:
            tagged = (
                minhash_perm_band_hashes(docs)
                .withColumn("__new", new_pred(F.col("doc_id")))
                .localCheckpoint()
            )
        else:
            # NULL-flag semantics (ADVICE r8): a raw boolean filter on a
            # nullable column excludes NULL rows from BOTH sides (neither
            # ``is_new`` nor ``~is_new`` is true), silently dropping an
            # unflagged doc from dedup entirely.  Coalesce NULL to False
            # — "not marked new" means "already in the index", the
            # conservative reading (an indexed doc can still be matched
            # against, whereas a vanished doc escapes dedup).  Documented
            # here as THE contract for the two-pass form.
            is_new = F.coalesce(F.col("is_new").cast("boolean"), F.lit(False))
            tagged = (
                minhash_perm_band_hashes(docs.filter(is_new))
                .withColumn("__new", F.lit(True))
                .unionByName(
                    minhash_perm_band_hashes(docs.filter(~is_new)).withColumn(
                        "__new", F.lit(False)
                    )
                )
                .localCheckpoint()
            )
        # bucket screen: keep only buckets a batch key touches
        new_keys = (
            tagged.filter(F.col("__new")).select("band", "bh").distinct()
        )
        tagged = tagged.join(
            new_keys.hint("shuffle_hash"), ["band", "bh"], "left_semi"
        )
    n_part = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    banded = tagged.repartition(n_part, "band", "bh")
    a_side = banded.select(
        "band",
        "bh",
        F.col("doc_id").alias("doc_a"),
        F.col("__new").alias("new_a"),
    )
    b_side = banded.select(
        "band",
        "bh",
        F.col("doc_id").alias("doc_b"),
        F.col("__new").alias("new_b"),
    )
    candidates = (
        a_side.join(b_side, ["band", "bh"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("new_a") | F.col("new_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("new_a") & F.col("new_b"), F.lit("batch_batch"))
            .otherwise(F.lit("batch_index"))
            .alias("link_type"),
        )
        .distinct()
        .localCheckpoint()
    )
    return _verify_candidates(docs, candidates, PAIR_JACCARD)
