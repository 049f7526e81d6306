"""Maintenance of append-maintained parquet artifacts: one re-run
ledger and small-file compaction.

Two persisted artifacts are maintained here: the split family's
cluster table (``operators/splitting.py``) and the IVF-PQ index
(``operators/pq_index.py``).  Each is built over an index subset of a
corpus and then grown by an ordered chain of append-only batches
(``fold_batch_into_cluster_table``, ``add_to_ivfpq_index``); no stored
row is ever rewritten.  Appends are NOT idempotent, so replay safety
lives in one place, :func:`ensure_artifact`, which each family's single
``ensure_*`` entry point calls with its build, append and compaction
steps.  The ledger ``_meta.json`` records the rows the artifact covers
(index plus every batch), the batch count and any family build setting
(the IVF-PQ Lloyd rounds).  A run whose ledger matches is a no-op, so
a completed lifecycle is reused across processes and no batch is ever
appended twice; anything else rebuilds from scratch.  The ledger is
removed before a rebuild starts and written once, after the last
append and the compaction, so no ledger ever validates a partial chain.
The row counts are the currency check: a corpus edit that keeps every
count is not caught (a production catalog versions the corpus snapshot
id into the ledger instead).

After many appends the artifacts fragment: a list directory holds one
small file per add, and scan cost becomes file-count-bound instead of
byte-bound (the classic small-files problem every LSM/lakehouse system
compacts its way out of; Delta/Iceberg ship this as OPTIMIZE /
rewrite_data_files).  :func:`compact_parquet_dir` is the generic
rewrite: read the directory, repartition so each output partition
directory lands ``files_per_partition`` files, write to a sibling temp
directory, then swap.  Content is BIT-IDENTICAL (parquet round-trips
the rows; order inside a parquet table is not part of any reader's
contract — every consumer here aggregates or joins), so compaction
leaves the ledger's counts unchanged.

The swap is rename-aside / rename-in / remove-last.  Every crash point
leaves a LOUD state: before the aside-rename nothing changed; between
aside and rename-in the directory is missing, so the next read fails
immediately (and the ``__compact_*`` siblings on disk show exactly
what happened); after rename-in only the doomed ``__compact_old``
directory can leak, and the data is already correct.  Still not atomic
— a production deployment swaps via catalog pointer or a
Delta/Iceberg commit — but a crash inside a maintained chain happens
before the ledger is written, so the next ``ensure_*`` rebuilds.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def parquet_file_count(path: str) -> int:
    """Data files under ``path`` (recursive, parquet parts only)."""
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    partition_by: str | None = None,
    files_per_partition: int = 1,
) -> dict:
    """Rewrite ``path`` with a compact file layout; returns
    ``{"files_before": int, "files_after": int}``.

    With ``partition_by`` (e.g. the IVF index's ``list_id``), the
    rewrite repartitions by (``partition_by``, salt) where salt is a
    row-content hash mod ``files_per_partition``, so each partition
    value's rows spread over up to ``files_per_partition`` tasks and
    land that many files per partition directory (ADVICE r11 #2: a
    bare ``repartition(n, partition_by)`` hashes on the partition
    column alone, so n never changed the one-file-per-value outcome).
    Without ``partition_by``, the whole table coalesces to
    ``files_per_partition`` files."""
    before = parquet_file_count(path)
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    if partition_by is not None:
        n = df.select(partition_by).distinct().count() * files_per_partition
        keys: list = [F.col(partition_by)]
        if files_per_partition > 1:
            keys.append(
                F.pmod(F.hash(*df.columns), F.lit(files_per_partition))
            )
        (
            df.repartition(n, *keys)
            .write.mode("overwrite")
            .partitionBy(partition_by)
            .parquet(tmp)
        )
    else:
        df.coalesce(files_per_partition).write.mode("overwrite").parquet(tmp)
    # swap: aside -> in -> remove (see module docstring — a crash can
    # leave a missing directory, never a validating ledger over
    # partial data)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {"files_before": before, "files_after": parquet_file_count(path)}


def compact_ivfpq_index(spark: SparkSession, path: str) -> dict:
    """Compact a persisted IVF-PQ index's two corpus-sized artifacts
    (codes and vectors, both partitioned by ``list_id``) after a run
    of ``add_to_ivfpq_index`` batches.  Queries are bit-identical
    before and after (pinned in tests/test_compaction.py); the probe
    path simply reads fewer files per probed list."""
    out = {}
    for sub in ("codes", "vectors"):
        out[sub] = compact_parquet_dir(
            spark, os.path.join(path, sub), partition_by="list_id"
        )
    return out


def compact_cluster_table(spark: SparkSession, path: str) -> dict:
    """Compact a persisted cluster table's clusters and bands tables
    after a run of ``fold_batch_into_cluster_table`` ingests.  The
    bands table is the corpus-sized one (16 rows per doc) and is the
    one later ingests scan; 4 output files keep its scan parallel."""
    out = {}
    for sub, nfiles in (("clusters", 1), ("bands", 4)):
        out[sub] = compact_parquet_dir(
            spark, os.path.join(path, sub), files_per_partition=nfiles
        )
    return out


def ensure_artifact(
    frame: DataFrame,
    key: str,
    index_pred,
    batch_preds,
    path: str,
    build,
    append,
    compact,
    **settings,
) -> None:
    """Materialize the artifact under ``path`` unless its ledger says
    it is current (module docstring).

    ``frame`` is the whole corpus and ``key`` its id column; each
    predicate maps that Column to a membership boolean.  ``build(
    index_frame, path)`` writes the artifact over the ``index_pred``
    rows; ``append(visible, batch_pred, path)`` then adds each of
    ``batch_preds`` in order, ``visible`` being the corpus visible at
    that ingest (the index plus every batch up to this one); ``compact
    (spark, path)``, if given, runs last.  ``settings`` are family
    build settings the ledger also keys on."""
    col = F.col(key)
    preds = [index_pred, *batch_preds]
    # ONE aggregation job for every ledger count (the membership
    # predicates are projections of the same scan), also on ledger hits
    counts = frame.agg(
        *[F.sum(p(col).cast("long")).alias(f"c{i}") for i, p in enumerate(preds)]
    ).collect()[0]
    want = {
        "rows": sum(int(c or 0) for c in counts),
        "batches": len(batch_preds),
        **settings,
    }
    ledger = os.path.join(path, "_meta.json")
    try:
        with open(ledger) as fh:
            if json.load(fh) == want:
                return
    except (OSError, ValueError):
        pass
    if os.path.exists(ledger):
        os.remove(ledger)
    build(frame.filter(index_pred(col)), path)
    visible = index_pred(col)
    for bp in batch_preds:
        visible = visible | bp(col)
        append(frame.filter(visible), bp, path)
    if compact is not None:
        compact(frame.sparkSession, path)
    with open(ledger, "w") as fh:
        json.dump(want, fh)
