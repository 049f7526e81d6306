"""Small-file compaction for append-maintained parquet artifacts.

The r11 maintenance verbs (`splitting.fold_batch_into_cluster_table`,
`pq_index.add_to_ivfpq_index`) are deliberately APPEND-ONLY: each
ingest adds files to the clusters/bands tables and to every touched
inverted-list partition directory.  That is the right write path —
no stored row is ever rewritten — but after many ingests the
artifacts fragment: a list directory holds one small file per add,
and scan cost becomes file-count-bound instead of byte-bound (the
classic small-files problem every LSM/lakehouse system compacts its
way out of; Delta/Iceberg ship this as OPTIMIZE / rewrite_data_files).

:func:`compact_parquet_dir` is the generic rewrite: read the
directory, repartition so each output partition directory lands
``files_per_partition`` files, write to a sibling temp directory,
then swap.  Content is BIT-IDENTICAL (parquet round-trips the rows;
order inside a parquet table is not part of any reader's contract —
every consumer here aggregates or joins), so compaction composes with
any later ensure/fold/add: the meta ledgers key on row counts and
fold/add counters, which compaction does not change.

The swap is rename-aside / rename-in / remove-last (ADVICE r11 #1 —
the former rmtree-then-rename left a SILENT failure window: a crash
between remove and rename lost the directory while the artifact's
``_meta.json`` ledger still validated, so a later ``ensure_*`` would
return early and queries would read partial data without any error).
Now every crash point leaves a LOUD state: before the aside-rename
nothing changed; between aside and rename-in the directory is
missing, so the next read fails immediately (and the ``__compact_*``
siblings on disk show exactly what happened); after rename-in only
the doomed ``__compact_old`` directory can leak, and the data is
already correct.  Still not atomic — a production deployment swaps
via catalog pointer or a Delta/Iceberg commit — but no crash can
leave a validating ledger over partial data.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
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
