"""MERGE-style parquet upsert: fold a change batch into a keyed table.

Plain parquet has no transactional MERGE (that is Delta/Iceberg's
job), but the *semantics* — "apply this batch of keyed changes to the
stored table, latest version wins, deletes honored" — are a pure
DataFrame program plus an atomic directory swap. Rules encoded here:

- **Latest-wins resolution** is deterministic: one row per key, chosen
  by (version DESC, then a total tiebreak on the remaining sort
  columns). The same inputs always produce the same table — the
  rerun/backfill guarantee every other sink in this repo makes.
- **Deletes are data, not absence**: a change row with
  ``_deleted = true`` tombstones its key. Absence of a key in the batch
  means "unchanged", never "delete" — the CDC convention that makes
  partial batches safe.
- **Atomic publish**: the merged table is published with
  ``sinks.compaction.rewrite_store`` — staged beside the table, then
  one atomic retarget of the table's symlink pointer — so a reader, or
  a crash at any step, sees the old table or the new one, never a
  half-merged or missing table.

Scale shape: the merge is ONE shuffle keyed on the merge key (union →
row_number window). The rewrite cost is the real constraint at 100 TB —
production would partition the table (e.g. by key range or date) and
rewrite only partitions the batch touches; ``merge_upsert`` exposes
that as the dataframe-level operation, and callers with partitioned
layouts apply it per touched partition.

No reference counterpart (the reference's only sink is stdout RDF;
north-star extension).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wikidatabots_spark.sinks.compaction import resolve_store, rewrite_store

DELETED_COL = "_deleted"


def merge_upsert(
    current: DataFrame,
    changes: DataFrame,
    key: str,
    version_col: str,
) -> DataFrame:
    """Latest-wins merge of ``changes`` into ``current`` → the new table.

    Both frames must share the data schema; ``changes`` may carry a
    boolean ``_deleted`` column (missing ⇒ no deletes). Resolution per
    key: highest ``version_col`` wins; ties prefer the CHANGE row (so
    re-applying an already-applied batch is idempotent); among change
    rows that STILL tie (same key, same version, one batch) the row
    content's hash breaks the tie — arbitrary but DETERMINISTIC, so
    re-runs converge on the same table instead of whichever row the
    shuffle happened to order first. Tombstone winners are dropped.
    """
    if DELETED_COL not in changes.columns:
        changes = changes.withColumn(DELETED_COL, F.lit(False))
    cur = current.withColumn(DELETED_COL, F.lit(False)).withColumn(
        "__is_change", F.lit(0)
    )
    chg = changes.withColumn("__is_change", F.lit(1))
    unioned = cur.unionByName(chg)
    data_cols = [c for c in current.columns]
    w = Window.partitionBy(key).orderBy(
        F.col(version_col).desc(),
        F.col("__is_change").desc(),
        F.xxhash64(*[F.col(c) for c in data_cols]),
    )
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (~F.col(DELETED_COL)))
        .drop("__rn", "__is_change", DELETED_COL)
    )


def upsert_parquet(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    key: str,
    version_col: str,
) -> None:
    """Apply ``changes`` to the parquet table at ``table_dir`` and
    publish the result with ``rewrite_store``; creates the table if
    absent."""
    if os.path.isdir(table_dir) and any(
        f.endswith(".parquet") for f in os.listdir(table_dir)
    ):
        current = spark.read.parquet(resolve_store(table_dir))
    else:
        current = changes.limit(0).drop(
            *([DELETED_COL] if DELETED_COL in changes.columns else [])
        )
    rewrite_store(merge_upsert(current, changes, key, version_col), table_dir)
