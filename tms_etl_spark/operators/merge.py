"""Join-based MERGE / upsert (SURVEY.md S8, J2, J3, P4).

The reference upserts row-at-a-time into MariaDB keyed on
``(dataTurno, tear)`` — existence probe then UPDATE-or-INSERT
(/root/reference/src/main_01.py:235-305). Here the whole batch merges
in one distributed plan:

    merged = source ∪ (target ⟕anti source on keys)

i.e. source rows win on key collision ("last writer wins", matching
the reference's UPDATE-on-match), and untouched target rows pass
through. ``first_write_wins_filter`` adds the reference's special
case: rows flagged "powered-off" (desligado) may only INSERT, never
UPDATE (/root/reference/src/main_01.py:460-473).

Scale posture: the anti-join shuffles both sides on the key columns —
at 100 TB the target side should be a partitioned table so the merge
rewrites only the partitions the batch touches (dynamic partition
overwrite); see ``upsert_partitioned``. When the batch is small
relative to the target (the common incremental case) Spark's AQE
converts the anti-join to a broadcast, which avoids shuffling the
target entirely.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dedupe_batch(
    source: DataFrame,
    keys: Sequence[str],
    precedence: Sequence[Column] | None = None,
    content_tiebreak: bool = False,
) -> DataFrame:
    """Keep one row per key within a batch, by explicit precedence —
    the row whose ``precedence`` tuple is LARGEST wins (lexicographic).

    Deliberate divergence from the reference: the reference sorts
    files newest-first (/root/reference/src/main_01.py:330) then
    upserts row-at-a-time with UPDATE-on-match (:408-422), so on a
    cross-file key collision the LAST-processed (i.e. oldest) file's
    row ends up final — an accident of iteration order, not a policy.
    This engine redefines the outcome deterministically as
    newest-source-wins (SURVEY.md §7 risk note): order-dependent
    results are unacceptable in a distributed merge, and "newest data
    wins" is the defensible policy the reference presumably intended.

    Implemented as ``max_by`` aggregation, not a row_number window:
    (a) a hash aggregate partial-combines duplicates map-side before
    the shuffle, so the exchange moves one row per (partition, key)
    instead of every row — the window form shuffles everything; (b) a
    hot key degrades into partial-agg work, not a single-reducer sort;
    (c) it sidesteps a Spark 4.1 WindowGroupLimit planner bug (missing
    exchange under unions of reused rank-limited subplans:
    "Can't zip RDDs with unequal numbers of partitions").

    ``content_tiebreak=True`` appends ``xxhash64`` of the non-key
    columns as the FINAL precedence component: rows whose explicit
    precedence ties (e.g. duplicates within one source file, where
    mtime and filename are equal) resolve deterministically by row
    content instead of by whichever partition's partial aggregate
    lands last. 8 bytes of extra shuffle payload, not a row copy.

    The row struct is one SQL expression and the unpack is
    ``__row.*``: a wide batch (the TMS fact has 70+ columns) would
    otherwise pay a few py4j round trips per column on the driver."""
    others = [c for c in source.columns if c not in keys]
    pref = list(precedence) if precedence is not None else [F.lit(1)]
    row = F.expr(f"struct({', '.join(sql_ident(c) for c in others)})")
    if content_tiebreak:
        pref.append(F.xxhash64(row))
    won = source.groupBy(*keys).agg(
        F.max_by(row, F.struct(*pref)).alias("__row")
    )
    return won.select(*keys, "__row.*")


def upsert(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """MERGE: source rows override target rows on key equality.

    Equivalent SQL:
        SELECT * FROM source
        UNION ALL
        SELECT t.* FROM target t LEFT ANTI JOIN source s USING (keys)
    """
    cols = target.columns
    kept = target.join(source.select(*keys).distinct(), on=list(keys), how="left_anti")
    return source.select(*cols).unionByName(kept)


def upsert_guarded(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    insert_only: Column,
) -> DataFrame:
    """MERGE with a first-write-wins guard (P4 semantics).

    Source rows matching ``insert_only`` may only insert: if their key
    already exists in the target, the target row is kept. All other
    source rows upsert normally. This encodes the reference's
    ``should_process_tear_desligado`` (/root/reference/src/main_01.py:460-473):
    a powered-off shift row never overwrites an earlier real record.

    A NULL guard counts as TRUE (insert-only): when the predicate
    can't decide, the conservative fate is to never overwrite an
    existing record — and it keeps this path row-for-row aligned
    with the versioned MERGE expression of the same contract
    (``WHEN MATCHED AND NOT <guard>`` coalesces NULL to false: target
    kept on match, insert when unmatched). Without the coalesce,
    NULL-guard rows fell out of BOTH branches — neither updating nor
    inserting — silently dropping them from the merge.
    """
    ins = F.coalesce(insert_only, F.lit(True))
    guarded = source.where(ins)
    normal = source.where(~ins)
    # Guarded rows that collide with an existing target key are dropped.
    guarded_new = guarded.join(
        target.select(*keys).distinct(), on=list(keys), how="left_anti"
    )
    # Explicit re-shuffle on the keys: both union branches arrive
    # hash-partitioned(keys) from upstream windows/joins, and Spark
    # 4.1's planner then skips the exchange under the downstream
    # anti-join even though the union doubled the partition count
    # ("Can't zip RDDs with unequal numbers of partitions"). The
    # repartition also de-skews the merge input, which is what a
    # 100 TB deployment wants here anyway.
    effective = normal.unionByName(guarded_new).repartition(*keys)
    return upsert(target, effective, keys)


def upsert_partitioned(
    spark_target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_col: str,
) -> None:
    """Physical MERGE for a parquet table without Delta/Iceberg.

    Rewrites only the ``partition_col`` partitions present in the
    batch (dynamic partition overwrite) — the 100 TB-safe strategy:
    read back just those partitions, merge in memory, overwrite them.

    Two safety rules (the difference between a MERGE and data loss):

    - the existence check is an explicit filesystem probe, never a
      broad ``except`` around the read — a transient read/schema error
      on an existing table must fail the job, not silently take the
      "first write" branch and drop every pre-existing row in the
      touched partitions;
    - the merged plan reads the same files the write replaces, which
      Spark (correctly) rejects — materialize first
      (``localCheckpoint`` here; a staging path + atomic rename on a
      real deployment).
    """
    from tms_etl_spark.sources.fs import path_exists

    from tms_etl_spark.operators.checkpoints import unpersist_checkpoint

    spark = source.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ours = None  # OUR checkpoint only — never touch the caller's df
    if path_exists(spark, spark_target_path):
        touched = [r[0] for r in source.select(partition_col).distinct().collect()]
        target = spark.read.parquet(spark_target_path).where(
            F.col(partition_col).isin(touched)
        )
        merged = ours = upsert(target, source, keys).localCheckpoint(eager=True)
    else:  # first write: nothing to merge with
        merged = source
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(
        spark_target_path
    )
    # the checkpointed batch is dead once written — release its
    # blocks so a long-lived session doesn't accumulate one pinned
    # batch per MERGE (guide §5)
    unpersist_checkpoint(ours)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """CDC between two table versions: one row per changed key with
    ``change_type`` in {insert, update, delete} — the diff a
    downstream incremental consumer replays. ``compare_cols`` limits
    update detection to the named columns (default: every non-key
    column both sides share).

    Shape: ONE full-outer join on the key columns (same single
    exchange as the upsert above), change classification as a CASE
    over null-side markers and column inequality. NULL-safe equality
    (``eqNullSafe``) so a NULL→value transition counts as an update,
    not a spurious match. Unchanged keys are dropped BEFORE the
    result materializes, so the output is |changes|, not |table| —
    at 100 TB the diff of two daily snapshots is batch-sized.
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    o = old.select(*keys, *compare_cols, F.lit(1).alias("__o"))
    n = new.select(*keys, *compare_cols, F.lit(1).alias("__n"))
    on = [o[k].eqNullSafe(n[k]) for k in keys]
    j = o.alias("o").join(n.alias("n"), on, "full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change_type = (
        F.when(F.col("o.__o").isNull(), F.lit("insert"))
        .when(F.col("n.__n").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    key_cols = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys
    ]
    return (
        j.withColumn("change_type", change_type)
        .where(F.col("change_type").isNotNull())
        .select(*key_cols, "change_type")
    )
