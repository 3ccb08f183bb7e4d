"""File-level Bloom indexes for versioned tables — point-lookup file
skipping where zonemaps can't help.

A zonemap prunes range predicates, but on a HIGH-CARDINALITY key with
no clustering every file's [min, max] spans the whole domain and a
point read still scans everything. The lakehouse answer is a per-file
Bloom filter: ~1.2 bytes/key for a 1% false-positive rate, stored in
a SIDECAR parquet (`_indexes/<col>/v<version>-bloom`), consulted at
plan time — a `key = value` read then scans only the files whose
bloom admits the value (plus rare false positives; the residual
filter keeps results exact).

The index build is fully distributed and JVM-side: each row emits its
k hash positions as (word, mask) pairs ARRAY-SIDE (one explode of a
k-element array), and `bit_or` — a partial-combining aggregate —
folds them into the per-(file, word) bitmap words. No Python in the
hot path, no driver-side bitsets; the sidecar is (files x words)
rows, written once per indexed version like any other data.

Hashes: xxhash64(col, seed=i) for i in 0..k-1 — deterministic across
engines/runs, so an index built anywhere prunes the same files."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tms_etl_spark.operators.versioned import (
    _live_rel_files,
    _manifest_path,
    _read_files,
    _read_json,
    _scan_with_deletes,
    current_version,
    path_exists,
)

_BITS = 1 << 20  # 1 Mi bits per file ≈ 131 kB; ~1% FP at ~100k keys
_K = 4


def _canon(p: str) -> str:
    """Normalize file:///x, file:/x, /x to one canonical /x form."""
    import re

    return re.sub(r"^file:/+", "/", p)


def _index_dir(table_dir: str, col: str, version: int) -> str:
    return f"{table_dir}/_indexes/{col}/v{version:06d}-bloom"


def build_bloom_index(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: int | None = None,
) -> str:
    """Build the per-file Bloom sidecar for ``col`` at ``version``
    (default: current). One pass over the version's data projected to
    (file, col); returns the sidecar path. Rebuild after commits that
    add files (an index is valid for the exact file set it indexed —
    readers fall back to scanning un-indexed files). Bits-per-file
    and hash count are module constants so build and probe can never
    disagree.

    The build scans the version's LIVE FILES directly — deliberately
    NOT through `_scan_with_deletes`: if the tombstone anti-join
    executed as a shuffle join (large delete vector, broadcast
    disabled), `input_file_name()` returns '' past the shuffle and
    the sidecar would index no real files — silently degrading every
    point read to a full scan. Skipping tombstone subtraction is
    sound for a Bloom PRE-FILTER: a deleted key admitted to a file's
    bloom can only cause a false-positive file read; the residual
    `col = value` filter plus the reader's tombstone handling keep
    results exact."""
    bits, n_hashes = _BITS, _K
    cur = current_version(spark, table_dir)
    v = version if version is not None else cur
    man = _read_json(spark, _manifest_path(table_dir, v))
    live = _live_rel_files(spark, table_dir, man)
    paths = [
        f"{table_dir}/{rel}" for rels in live.values() for rel in rels
    ]
    if not paths:
        raise ValueError(
            f"version {v} of {table_dir} has no live files to index"
        )
    from tms_etl_spark.operators.versioned import _column_map

    # raw file read: a renamed column lives under its PHYSICAL name
    col_phys = _column_map(man).get(col, col)
    df = spark.read.parquet(*paths).select(
        F.input_file_name().alias("file"), F.col(col_phys).alias("__v")
    )
    # k hash positions per row, array-side; split into (word, mask)
    pos = df.select(
        "file",
        F.explode(
            F.array(
                *[
                    (
                        F.abs(F.xxhash64(F.col("__v"), F.lit(i)))
                        % F.lit(bits)
                    )
                    for i in range(n_hashes)
                ]
            )
        ).alias("p"),
    ).select(
        "file",
        (F.col("p") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, cast(p % 64 as int))").alias("mask"),
    )
    words = pos.groupBy("file", "word").agg(
        F.bit_or("mask").alias("bits")
    )
    out = _index_dir(table_dir, col, v)
    words.withColumn(
        "file", F.regexp_replace("file", "^file:/+", "/")
    ).write.mode("overwrite").parquet(out)
    return out


def extend_bloom_index(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: int | None = None,
) -> str:
    """Incrementally bring the Bloom sidecar up to ``version`` —
    per-file bitmaps are independent facts, so the new sidecar is the
    newest prior sidecar's rows restricted to files still live at
    ``version`` (broadcast semi-join against the metadata-sized live
    list) plus bitmaps computed only for live-but-unindexed files.
    Cost: O(new files + sidecar), never O(table); same maintenance
    contract as `textindex.extend_text_index`. Falls back to a full
    build when no prior sidecar exists."""
    import re as _re

    from tms_etl_spark.operators.versioned import _live_rel_files
    from tms_etl_spark.sources.fs import list_files

    cur = current_version(spark, table_dir)
    v = version if version is not None else cur
    root = f"{table_dir}/_indexes/{col}"
    prev_v = 0
    for fi in list_files(spark, root):
        # list_files yields FILE paths (…/vNNN-bloom/part-*.parquet);
        # match the dir segment, not end-of-string, else prev_v stays 0
        # and extend always falls back to a full-table rebuild.
        m = _re.search(r"v(\d+)-bloom(?:/|$)", fi.path)
        if m and int(m.group(1)) < v:
            prev_v = max(prev_v, int(m.group(1)))
    if prev_v == 0:
        return build_bloom_index(spark, table_dir, col, v)

    man = _read_json(spark, _manifest_path(table_dir, v))
    live = _live_rel_files(spark, table_dir, man)
    live_paths = sorted(
        _canon(f"{table_dir}/{rel}")
        for rels in live.values()
        for rel in rels
    )
    if not live_paths:
        raise ValueError(
            f"version {v} of {table_dir} has no live files to index"
        )
    prev = spark.read.parquet(_index_dir(table_dir, col, prev_v))
    live_df = spark.createDataFrame(
        [(p,) for p in live_paths], "file string"
    )
    carried = prev.join(F.broadcast(live_df), "file", "left_semi")
    indexed = {
        _canon(r["file"])
        for r in prev.select("file").distinct().collect()
    }
    new_files = [p for p in live_paths if p not in indexed]
    parts = [carried]
    if new_files:
        from tms_etl_spark.operators.versioned import _column_map

        col_phys = _column_map(man).get(col, col)
        fresh = spark.read.parquet(*new_files).select(
            F.regexp_replace(F.input_file_name(), "^file:/+", "/").alias(
                "file"
            ),
            F.col(col_phys).alias("__v"),
        )
        pos = fresh.select(
            "file",
            F.explode(
                F.array(
                    *[
                        (
                            F.abs(F.xxhash64(F.col("__v"), F.lit(i)))
                            % F.lit(_BITS)
                        )
                        for i in range(_K)
                    ]
                )
            ).alias("p"),
        ).select(
            "file",
            (F.col("p") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("mask"),
        )
        parts.append(
            pos.groupBy("file", "word").agg(F.bit_or("mask").alias("bits"))
        )
    out_df = parts[0]
    for p in parts[1:]:
        out_df = out_df.unionByName(p)
    out = _index_dir(table_dir, col, v)
    out_df.write.mode("overwrite").parquet(out)
    return out


def bloom_admitted_files(
    spark: SparkSession,
    table_dir: str,
    man: dict,
    col: str,
    value,
    version: int,
    col_type: str,
) -> set[str] | None:
    """The set of canon file paths of version ``version`` that MAY
    contain ``col = value`` per the Bloom sidecar: bloom-admitted
    files plus every live-but-unindexed file (conservative). None
    when no sidecar exists for the column. ``value`` may be a
    list/tuple — the admission is then the UNION over the values
    (``col IN (…)``), probed in ONE sidecar pass instead of one per
    value (r9: an IN-list probe is k·|values| broadcast word lookups
    in a single join, so plan-time cost stays flat as the list
    grows). This is the reusable skipping primitive behind
    `read_version_point`; the WHERE front door
    (`versioned.read_version_where`) intersects it with zonemap
    pruning so equality conjuncts stack both cuts."""
    idx = _index_dir(table_dir, col, version)
    if not path_exists(spark, idx):
        return None
    values = (
        list(value) if isinstance(value, (list, tuple, set)) else [value]
    )
    if not values:
        # `col IN ()` admits nothing — return the empty admission set
        # rather than building a zero-element F.array() (analysis
        # error in Spark)
        return set()
    # xxhash64 is TYPE-sensitive: probe with the column's exact type
    # or a long column never matches an int literal's hashes. All
    # values' k positions come back in ONE 1-row job.
    pos_structs = [
        F.struct(
            F.lit(vi).alias("vid"),
            (
                F.abs(F.xxhash64(F.lit(v).cast(col_type), F.lit(i)))
                % F.lit(_BITS)
            ).alias("p"),
        )
        for vi, v in enumerate(values)
        for i in range(_K)
    ]
    rows = (
        spark.range(1)
        .select(F.explode(F.array(*pos_structs)).alias("s"))
        .select(
            F.col("s.vid").alias("vid"),
            (F.col("s.p") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(s.p % 64 as int))").alias("mask"),
        )
        .collect()
    )
    # a file admits a value iff EVERY distinct probed (word, mask)
    # bit of THAT value is set (hash collisions can make < _K
    # distinct probes per value)
    by_vid: dict[int, set] = {}
    for r in rows:
        by_vid.setdefault(int(r["vid"]), set()).add(
            (int(r["word"]), int(r["mask"]))
        )
    probe_rows = [
        (vid, w, mk, len(ps))
        for vid, ps in by_vid.items()
        for w, mk in sorted(ps)
    ]
    words = spark.read.parquet(idx)
    probe_df = spark.createDataFrame(
        probe_rows, "vid int, word long, mask long, n_probes int"
    )
    hits = (
        words.join(F.broadcast(probe_df), "word")
        .where(F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
        .groupBy("file", "vid", "n_probes")
        .agg(F.count("*").alias("k_hit"))
        .where(F.col("k_hit") >= F.col("n_probes"))
    )
    keep = [_canon(r["file"]) for r in hits.select("file").collect()]
    indexed = {
        _canon(r["file"])
        for r in words.select("file").distinct().collect()
    }
    # files in the version but not in the index: scan conservatively.
    # `_live_rel_files` is hive-aware (nested rel paths), so the dead
    # check holds on partitioned tables too — a basename-built rel
    # would never match a nested dead entry and resurrect merged rows.
    live = _live_rel_files(spark, table_dir, man)
    all_files = [
        _canon(f"{table_dir}/{rel}")
        for rels in live.values()
        for rel in rels
    ]
    unindexed = [f for f in all_files if f not in indexed]
    return set(keep) | set(unindexed)


def read_version_point(
    spark: SparkSession,
    table_dir: str,
    col: str,
    value,
    version: int | None = None,
    asof=None,
    tag: str | None = None,
) -> DataFrame:
    """Point read `col = value` using the Bloom sidecar for file
    skipping. Exact: bloom-admitted files still pass through the
    residual filter; files not covered by the sidecar (added after
    the index build) are conservatively scanned. Falls back to a
    plain filtered scan when no index exists. The sidecar probe is a
    metadata-scale aggregate (k words per file), collected as one
    file list — the same plan-time footprint as zonemap pruning.

    Snapshot selection mirrors `read_version_where` (r10):
    ``version``, ``asof`` (TIMESTAMP AS OF) and ``tag`` are mutually
    exclusive — "point-read the release-blessed snapshot" is
    ``tag='release'``, no by-hand tag resolution. The sidecar probes
    only the generation built AT the resolved version
    (`bloom_admitted_files` looks at ``_index_dir(…, version)``), so
    after any later commit the probe finds none and the read is the
    plain filtered scan until `extend_bloom_index` (or
    `maintain_table`) builds that version's generation. Falling back
    to an older generation is deliberately not done: the probe would
    add its jobs to every point read of a freshly committed table,
    including `read_version_where`'s, whose zonemaps already prune by
    partition there."""
    from tms_etl_spark.operators.versioned import (
        resolve_tag,
        version_asof,
    )

    if sum(x is not None for x in (version, asof, tag)) > 1:
        raise ValueError("version, asof and tag are mutually exclusive")
    if tag is not None:
        version = resolve_tag(spark, table_dir, tag)
    if asof is not None:
        version = version_asof(spark, table_dir, asof)
    cur = current_version(spark, table_dir)
    v = version if version is not None else cur
    man = _read_json(spark, _manifest_path(table_dir, v))
    pred_scan = _scan_with_deletes(spark, table_dir, man)
    lit = F.lit(value).cast(dict(pred_scan.dtypes)[col])
    admitted = bloom_admitted_files(
        spark, table_dir, man, col, value, v,
        dict(pred_scan.dtypes)[col],
    )
    if admitted is None:
        return pred_scan.where(F.col(col) == lit)
    scan_files = sorted(admitted)
    if not scan_files:
        return pred_scan.where(F.col(col) == lit).limit(0)
    if man.get("deletes"):
        # tombstoned tables (r9): Bloom admission is a PRE-filter, so
        # it composes with deletion vectors exactly like the zonemap
        # cut does — the admitted file set routes through
        # `_scan_with_deletes(paths_by_dir=)` (the seam
        # `versioned._pruned_scan` already uses), which anti-joins
        # tombstones over ONLY the surviving files. A deleted key
        # still present in a file's bloom merely admits a
        # false-positive file read (the soundness note in this
        # module's build docstring); before r9 one tombstone demoted
        # every point read here to the full subtracted scan — dead
        # weight on streaming-upsert tables, whose every snapshot
        # carries deletes.
        live = _live_rel_files(spark, table_dir, man)
        keep_dirs: list[str] = []
        paths_by_dir: dict[str, list[str]] = {}
        for d in man["dirs"]:
            files = [
                f"{table_dir}/{rel}"
                for rel in live.get(d, [])
                if _canon(f"{table_dir}/{rel}") in admitted
            ]
            if files:
                keep_dirs.append(d)
                paths_by_dir[d] = files
        if not keep_dirs:
            return pred_scan.where(F.col(col) == lit).limit(0)
        return _scan_with_deletes(
            spark, table_dir, man,
            dirs=keep_dirs, paths_by_dir=paths_by_dir,
        ).where(F.col(col) == lit)
    # _read_files (not a bare explicit-file read): hive partition
    # columns live in the PATH and need basePath + the recorded
    # schema to come back — a plain read would drop them
    return _read_files(spark, table_dir, man, scan_files).where(
        F.col(col) == lit
    )
