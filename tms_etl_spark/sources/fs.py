"""Filesystem housekeeping: POSIX calls for local paths, Hadoop's
FileSystem API for every other scheme.

Remote paths (HDFS/S3A/ABFS on a real cluster, where the lake lives at
100 TB) go through ``org.apache.hadoop.fs.FileSystem`` via the session
JVM. Local paths (`local_path`) are served with ``os`` calls instead:
each py4j call is a ~1 ms round trip, so listing a dir through Hadoop
costs several per file, and a ``byte[]`` read back across py4j is
decoded one byte at a time in Python. The POSIX branches return what
Hadoop's ``LocalFileSystem`` would (same path spelling, same hidden
checksum files, same mtime resolution), so callers never see which
branch ran. The choice follows the path's scheme, and for a path with
no scheme the session's default filesystem; there is no option.

Operators:

- ``path_exists`` — the *narrow* existence probe the MERGE writers use
  instead of ``try: read / except Exception`` (a transient read error
  must NOT be mistaken for "table absent": that turns the first-write
  overwrite branch into data loss).
- ``list_files`` / ``total_size`` — driver-side listing metadata (file
  count, bytes, mtimes). Listing is O(files), not O(rows); sizing a
  compaction from it avoids a full data pass.
- ``expire_files`` — the reference's 30-day cleanup job (SURVEY.md P6
  second half): delete lake files whose modification time is older
  than the retention window, mirroring
  /root/reference/src/main_01.py:1378-1400 (``run_cleanup``:
  ``rglob("*.csv")``, mtime < now-30d → unlink, count deleted).
"""

from __future__ import annotations

import fnmatch
import os
import posixpath
import weakref
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import SparkSession


def local_path(spark: SparkSession, path: str) -> str | None:
    """The POSIX path behind ``path`` when it names the local
    filesystem, else None. Local means a ``file:`` URI without an
    authority (``file:/x``, ``file:///x``), or a path with no scheme
    when the session's default filesystem (``fs.defaultFS``) is
    ``file:`` — on a cluster whose default is HDFS, ``/lake/fact`` is
    an HDFS path and stays with Hadoop.
    The path is not percent-decoded, as Hadoop's ``Path`` does not
    decode it either: ``b=p%3Aq`` is a directory of that literal name.
    This is the one place that decides whether a path may be served
    with ``os`` calls instead of Hadoop's FileSystem."""
    parsed = urlparse(path)
    if parsed.scheme == "":
        return path if _default_fs_is_local(spark) else None
    if parsed.scheme != "file" or parsed.netloc:
        return None
    # the text after ``file:``, not ``parsed.path``: Hadoop keeps a
    # ``?`` or ``#`` as part of the path, urlparse would split there
    rest = path[len("file:"):]
    return rest[2:] if rest.startswith("//") else rest


# SparkContext → whether its Hadoop configuration's fs.defaultFS is
# the local filesystem. Read once per context (two py4j calls), as the
# default filesystem is fixed when the context starts (core-site.xml,
# ``spark.hadoop.fs.defaultFS``).
_DEFAULT_FS_LOCAL: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _default_fs_is_local(spark: SparkSession) -> bool:
    sc = spark.sparkContext
    local = _DEFAULT_FS_LOCAL.get(sc)
    if local is None:
        default = spark._jsc.hadoopConfiguration().get("fs.defaultFS")
        parsed = urlparse(default or "file:///")
        local = parsed.scheme == "file" and not parsed.netloc
        _DEFAULT_FS_LOCAL[sc] = local
    return local


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on its filesystem. An explicit probe —
    unlike catching ``Exception`` around a read, a transport error
    here surfaces instead of masquerading as 'no table'."""
    local = local_path(spark, path)
    if local is not None:
        return os.path.exists(local)
    fs, hpath, _ = _fs(spark, path)
    return bool(fs.exists(hpath))


@dataclass
class FileInfo:
    path: str
    size: int
    mtime_ms: int


def list_files(
    spark: SparkSession, root: str, pattern: str | None = None
) -> list[FileInfo]:
    """Recursive file listing under ``root`` (data files only; Spark
    metadata like ``_SUCCESS`` is still listed — filter via
    ``pattern`` e.g. ``*.parquet`` / ``*.csv`` if unwanted). A file
    given as ``root`` lists as itself; a missing root lists as []."""
    local = local_path(spark, root)
    if local is not None:
        return _list_local(local, pattern)
    fs, hpath, _ = _fs(spark, root)
    if not fs.exists(hpath):
        return []
    out: list[FileInfo] = []
    it = fs.listFiles(hpath, True)  # recursive
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if pattern is not None and not fnmatch.fnmatch(
            posixpath.basename(p), pattern
        ):
            continue
        out.append(
            FileInfo(path=p, size=int(st.getLen()), mtime_ms=int(st.getModificationTime()))
        )
    return out


def _is_checksum(name: str) -> bool:
    # ChecksumFileSystem's listing filter: ``.<name>.crc`` is hidden
    return name.startswith(".") and name.endswith(".crc")


def _list_local(root: str, pattern: str | None) -> list[FileInfo]:
    """`list_files` for a local root, with the result Hadoop's
    ``LocalFileSystem.listFiles`` gives: ``file:``-prefixed absolute
    paths, checksum files skipped (other hidden files kept), symlinked
    dirs followed, mtimes truncated to ms. Sorted per directory. An
    entry removed while the walk runs (a commit's tmp or lock file,
    Spark's ``_temporary`` dirs) is skipped, as Hadoop's per-entry
    ``FileNotFoundException`` handling skips it."""

    def _raise(err: OSError) -> None:
        if not isinstance(err, FileNotFoundError):
            raise err

    root = os.path.abspath(root)
    if os.path.isdir(root):
        walk = os.walk(root, onerror=_raise, followlinks=True)
    elif os.path.exists(root):
        walk = [(os.path.dirname(root), [], [os.path.basename(root)])]
    else:
        return []
    out: list[FileInfo] = []
    for dirpath, dirnames, filenames in walk:
        dirnames[:] = sorted(d for d in dirnames if not _is_checksum(d))
        for name in sorted(filenames):
            if _is_checksum(name) or (
                pattern is not None and not fnmatch.fnmatch(name, pattern)
            ):
                continue
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out.append(
                FileInfo(
                    path=f"file:{p}",
                    size=st.st_size,
                    mtime_ms=st.st_mtime_ns // 1_000_000,
                )
            )
    return out


def total_size(spark: SparkSession, root: str, pattern: str | None = None) -> int:
    """Total bytes under ``root`` from listing metadata (no data read)."""
    return sum(f.size for f in list_files(spark, root, pattern))


def replace_dir(spark: SparkSession, staged: str, final: str) -> None:
    """Swap ``staged`` into place at ``final`` (delete + rename).

    On HDFS/local this is a cheap metadata rename; on object stores a
    real deployment wants a manifest/table-format commit instead —
    this helper is the portable fallback, and keeps the swap logic in
    one place rather than ``shutil`` calls sprinkled per-operator.
    """
    fs, final_p, jvm = _fs(spark, final)
    staged_p = jvm.org.apache.hadoop.fs.Path(staged)
    # Rename the current table aside BEFORE the swap so the final path
    # is never absent: merge writers probe path_exists to pick the
    # first-write branch, and a crash in a delete-then-rename window
    # would make them silently abandon the staged data. Order here is
    # rename-aside → rename-into-place → delete backup.
    backup_p = jvm.org.apache.hadoop.fs.Path(final + ".__replacing__")
    had_final = fs.exists(final_p)
    if had_final:
        if fs.exists(backup_p):  # leftover from a prior crash
            fs.delete(backup_p, True)
        if not fs.rename(final_p, backup_p):
            raise IOError(f"backup rename {final} failed")
    try:
        if not fs.rename(staged_p, final_p):
            raise IOError(f"rename {staged} -> {final} failed")
    except Exception:
        if had_final:  # restore the original so the table never vanishes
            fs.rename(backup_p, final_p)
        raise
    if had_final:
        fs.delete(backup_p, True)


@dataclass
class ExpireReport:
    examined: int = 0
    deleted: int = 0
    freed_bytes: int = 0
    deleted_paths: list[str] = field(default_factory=list)


def expire_files(
    spark: SparkSession,
    root: str,
    max_age_days: float = 30.0,
    now_ms: int | None = None,
    pattern: str = "*.csv",
    dry_run: bool = False,
) -> ExpireReport:
    """Retention job (P6): delete files under ``root`` older than
    ``max_age_days``, matching the reference's cleanup
    (/root/reference/src/main_01.py:1378-1400 — 30-day cutoff on file
    mtime over ``rglob("*.csv")``).

    Driver-side on purpose: retention is a metadata operation
    (listing + deletes), O(#files) not O(bytes) — at 100 TB the
    listing is the cost, and Hadoop's recursive ``listFiles`` streams
    it. ``now_ms=None`` uses the current wall clock; tests inject a
    fixed clock. ``dry_run`` reports without deleting.
    """
    import time

    cutoff = (time.time() * 1000 if now_ms is None else now_ms) - max_age_days * 86_400_000
    fs, _, jvm = _fs(spark, root)
    report = ExpireReport()
    for f in list_files(spark, root, pattern):
        report.examined += 1
        if f.mtime_ms < cutoff:
            if not dry_run:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f.path), False)
            report.deleted += 1
            report.freed_bytes += f.size
            report.deleted_paths.append(f.path)
    return report
