"""The canonical import pipeline (SURVEY.md §3.2 / §7 step 2):

    read → cast → arity filter → batch dedupe (newest file wins) →
    guarded MERGE into the month-partitioned fact table
    (first-write-wins for powered-off shifts).

This replaces the reference's serial per-row loop (2 DB round-trips
per row, commit per row — /root/reference/src/main_01.py:366-437)
with one distributed plan: the per-row existence probes collapse into
a single anti-join, and the physical write only rewrites the month
partitions present in the batch (dynamic partition overwrite) — the
merge cost scales with the batch's months, not the table's history.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tms_etl_spark.operators.checkpoints import unpersist_checkpoint
from tms_etl_spark.operators.merge import dedupe_batch, upsert_guarded
from tms_etl_spark.sources.fs import path_exists
from tms_etl_spark.tms.quality import is_tear_desligado
from tms_etl_spark.tms.schema import MERGE_KEYS
from tms_etl_spark.tms.source import arity_filter, read_daily


@dataclass
class ImportStats:
    """``batch_rows`` is the deduplicated batch's size; ``table_rows``
    counts the month partitions this batch touched (post-merge), not
    the whole table — the stat stays O(batch), not O(history). The
    versioned import reads ``table_rows`` off the committed manifest's
    per-file row counts when they are exact (no deletion vectors,
    every file holding one month), and scans the touched months
    otherwise."""

    batch_rows: int
    table_rows: int


def prepare_batch(df: DataFrame) -> DataFrame:
    """Clean + dedupe a raw typed batch: arity filter, then one row
    per (DataTurno, Tear): newest source file wins, filename as the
    deterministic tie-break. NOTE this is an intentional deterministic
    redefinition, not fidelity — the reference's newest-first loop +
    UPDATE-on-match (/root/reference/src/main_01.py:330,:408-422)
    effectively lets the oldest file win on cross-file collisions; see
    ``operators.merge.dedupe_batch`` (SURVEY.md §7 risk note)."""
    clean = arity_filter(df)
    return dedupe_batch(
        clean,
        keys=list(MERGE_KEYS),
        precedence=[F.col("_src_mtime"), F.col("_src_file")],  # larger wins
        content_tiebreak=True,  # deterministic within-file dup pick
    ).drop("_src_file", "_src_mtime")


def import_daily(
    spark: SparkSession,
    lake_root: str,
    target_path: str,
    months: list[str] | None = None,
    encoding: str = "UTF-8",
) -> ImportStats:
    """Incremental import of daily shift CSVs into the fact table.

    Idempotent under replay (T2): re-importing the same files leaves
    the table unchanged. Powered-off rows (P3) only insert — an
    existing record for the same shift key is never overwritten by a
    desligado row (P4, /root/reference/src/main_01.py:460-473).
    """
    batch = prepare_batch(read_daily(spark, lake_root, months, encoding))
    batch_rows = batch.count()
    months_touched = [r[0] for r in batch.select("month").distinct().collect()]

    # Explicit filesystem probe, never `except Exception` around the
    # read: a transient read error on an existing table must fail the
    # job, not take the first-write overwrite branch (data loss).
    if not path_exists(spark, target_path):
        # First load: desligado rows may insert (no prior record).
        merged = batch
        merged.write.mode("overwrite").partitionBy("month").parquet(target_path)
    else:
        target = spark.read.parquet(target_path)
        target_slice = target.where(F.col("month").isin(months_touched))
        merged = upsert_guarded(
            target_slice,
            batch,
            keys=list(MERGE_KEYS),
            insert_only=is_tear_desligado(),
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # The merge plan reads the same partitions the write replaces:
        # break the dependency by materializing first (localCheckpoint
        # here; a staging path + atomic rename on a real cluster).
        ckpt = merged.localCheckpoint(eager=True)
        ckpt.write.mode("overwrite").partitionBy("month").parquet(target_path)
        # written and re-read from disk below: the pin is dead state
        unpersist_checkpoint(ckpt)

    # Post-write stat over the TOUCHED partitions only (partition
    # pruning on `month`) — a full-table count here would be a 100 TB
    # scan per incremental batch, for a number nobody needs exactly.
    table_rows = (
        spark.read.parquet(target_path)
        .where(F.col("month").isin(months_touched))
        .count()
    )
    return ImportStats(batch_rows=batch_rows, table_rows=table_rows)


def import_daily_versioned(
    spark: SparkSession,
    lake_root: str,
    table_dir: str,
    months: list[str] | None = None,
    encoding: str = "UTF-8",
    txn_id: str | None = None,
    commit_retries: int = 0,
) -> ImportStats:
    """`import_daily` landing in a VERSIONED lakehouse table — the
    flagship domain pipeline running on the engine's own lakehouse
    layer (VERDICT r10 What's missing #1: before composite MERGE keys
    this needed a surrogate concat column).

    Same contract as the parquet path: idempotent under replay (T2 —
    re-merging identical rows is value-idempotent; pass ``txn_id``
    for commit-level exactly-once from streaming/retry contexts), and
    desligado rows only insert (P4 first-write-wins,
    /root/reference/src/main_01.py:460-473) — expressed as
    ``WHEN MATCHED AND NOT <desligado> THEN UPDATE`` on the
    copy-on-write MERGE keyed on the reference's composite
    ``(DataTurno, Tear)`` (/root/reference/src/main_01.py:243).
    Extras the parquet path can't give: time travel across imports,
    CDC (`read_version_changes`), snapshot tags, and O(touched-files)
    merge cost via the tuple zonemap cut instead of month-partition
    overwrite.

    Driver cost: the batch (CSV parse + dedupe shuffle) is pinned once
    and computed once — its row count and touched months come from
    one aggregate over the pin, which the MERGE then reuses instead
    of pinning its own copy. ``table_rows`` comes from the committed
    manifest's per-file row counts when they are exact, with no scan
    (see `ImportStats`)."""
    from tms_etl_spark.operators.versioned import (
        count_rows,
        current_version,
        merge_version,
        write_version,
    )
    from tms_etl_spark.tms.quality import is_tear_desligado_sql

    batch = prepare_batch(
        read_daily(spark, lake_root, months, encoding)
    ).localCheckpoint(eager=False)
    try:
        stat = batch.agg(
            F.count(F.lit(1)).alias("n"), F.collect_set("month").alias("m")
        ).head()
        if current_version(spark, table_dir) == 0:
            # first load: desligado rows may insert (no prior record);
            # month partitioning becomes a table property
            write_version(
                batch,
                table_dir,
                "append",
                partition_by=["month"],
                txn_id=txn_id,
                commit_retries=commit_retries,
            )
        else:
            merge_version(
                spark,
                table_dir,
                batch,
                key=list(MERGE_KEYS),
                txn_id=txn_id,
                when_matched_condition=(
                    f"NOT ({is_tear_desligado_sql('source')})"
                ),
                # optimistic concurrency: a lost race against a
                # DISJOINT writer (another month's import, an append)
                # re-runs; a real conflict raises the named error —
                # safe because the batch derives deterministically
                # from the CSV files
                commit_retries=commit_retries,
            )
    finally:
        unpersist_checkpoint(batch)
    months_touched = sorted(stat["m"])
    # `month` is data-derived (a substring of DataTurno from CSVs), so
    # it travels as values, never as interpolated SQL text: a quote in
    # a malformed value would break the expression AFTER the merge
    # already committed
    table_rows = (
        count_rows(spark, table_dir, where_in=("month", months_touched))
        if months_touched
        else 0
    )
    return ImportStats(batch_rows=stat["n"], table_rows=table_rows)
