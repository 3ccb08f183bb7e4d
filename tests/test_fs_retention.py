"""Filesystem housekeeping (SURVEY.md P6 second half + S8 physical
MERGE): the 30-day retention job mirroring the reference's
``run_cleanup`` (/root/reference/src/main_01.py:1378-1400), the
explicit path-existence probe, and the partitioned upsert's UPDATE
path (the branch whose absence of a test ADVICE.md flagged — its old
``except Exception`` fallback could silently drop target rows).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tms_etl_spark.operators.merge import upsert_partitioned
from tms_etl_spark.sources.fs import (
    expire_files,
    list_files,
    path_exists,
    total_size,
)

DAY_MS = 86_400_000


def _touch(path, age_days: float, now_ms: int, body: str = "x") -> None:
    path.write_text(body, encoding="utf-8")
    ts = (now_ms - age_days * DAY_MS) / 1000.0
    os.utime(path, (ts, ts))


def test_expire_files_30_day_window(spark, tmp_path):
    """Files older than the retention window are deleted; younger ones
    and non-matching extensions survive (reference: rglob('*.csv'),
    mtime < now-30d -> unlink)."""
    now_ms = 1_700_000_000_000
    root = tmp_path / "lake"
    (root / "2024-01" / "daily").mkdir(parents=True)
    (root / "2024-02" / "daily").mkdir(parents=True)
    old1 = root / "2024-01" / "daily" / "old1.csv"
    old2 = root / "2024-01" / "daily" / "old2.csv"
    young = root / "2024-02" / "daily" / "young.csv"
    other = root / "2024-01" / "daily" / "keep.parquet"
    _touch(old1, 45, now_ms, "a" * 10)
    _touch(old2, 30.5, now_ms, "b" * 20)
    _touch(young, 5, now_ms)
    _touch(other, 90, now_ms)  # wrong extension: never touched

    rep = expire_files(spark, str(root), max_age_days=30, now_ms=now_ms)
    assert rep.examined == 3  # only *.csv examined
    assert rep.deleted == 2
    assert rep.freed_bytes == 30
    assert not old1.exists() and not old2.exists()
    assert young.exists() and other.exists()


def test_expire_files_dry_run(spark, tmp_path):
    now_ms = 1_700_000_000_000
    root = tmp_path / "lake"
    root.mkdir()
    old = root / "old.csv"
    _touch(old, 60, now_ms)
    rep = expire_files(spark, str(root), max_age_days=30, now_ms=now_ms, dry_run=True)
    assert rep.deleted == 1 and old.exists()  # reported, not deleted
    assert rep.deleted_paths and rep.deleted_paths[0].endswith("old.csv")


def test_expire_files_missing_root(spark, tmp_path):
    rep = expire_files(spark, str(tmp_path / "nope"), max_age_days=30)
    assert rep.examined == 0 and rep.deleted == 0


def test_path_exists_and_listing(spark, tmp_path, monkeypatch):
    """Existence probes, listings and manifest reads. Local paths are
    served with POSIX calls; their answers must be exactly Hadoop's
    LocalFileSystem answers (path spelling, hidden checksum files,
    hive escapes, non-ASCII names, ms mtimes), so each call also runs
    with ``local_path`` forced to None, which makes Hadoop serve it."""
    from tms_etl_spark.operators import versioned
    from tms_etl_spark.sources import fs

    assert not path_exists(spark, str(tmp_path / "absent"))
    d = tmp_path / "plain"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"1234")
    (d / "_SUCCESS").write_bytes(b"")
    assert path_exists(spark, str(d))
    assert total_size(spark, str(d), pattern="*.parquet") == 4
    names = {os.path.basename(f.path) for f in list_files(spark, str(d))}
    assert names == {"a.parquet", "_SUCCESS"}

    # a file removed between the directory listing and its stat (a
    # commit's tmp or lock file) is skipped, as Hadoop skips it
    victim = str(d / "a.parquet")
    real_stat = os.stat

    def vanishing_stat(p, *args, **kwargs):
        if os.fspath(p) == victim:
            os.unlink(victim)
        return real_stat(p, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(os, "stat", vanishing_stat)
        names = {os.path.basename(f.path) for f in list_files(spark, str(d))}
    assert names == {"_SUCCESS"}

    # scheme-less (the test session's default filesystem is file:) and
    # authority-less file: paths are local, kept verbatim (no
    # percent-decoding, no ?/# splitting); others are not
    assert fs.local_path(spark, "/t/a=x y/b=p%3Aq") == "/t/a=x y/b=p%3Aq"
    assert fs.local_path(spark, "file:/t/x") == "/t/x"
    assert fs.local_path(spark, "file:///t/x#1?a") == "/t/x#1?a"
    for remote in ("file://host/t/x", "hdfs://nn:8020/t", "s3a://b/t"):
        assert fs.local_path(spark, remote) is None

    table = tmp_path / "t"
    spark.createDataFrame(
        [(1, "x y", "p:q"), (2, "x y", "p:q"), (3, "ação", "r")],
        "id int, a string, b string",
    ).write.partitionBy("a", "b").parquet(str(table / "hive"))
    spark.range(4).repartition(2).write.parquet(str(table / "flat"))
    (table / "flat" / ".hidden").write_text("h")
    (table / "naïve.json").write_text(
        '{"dirs": ["data/v000001"], "op": "café"}', encoding="utf-8"
    )
    assert (table / "hive" / "a=x y" / "b=p%3Aq").is_dir()
    assert any(n.endswith(".crc") for n in os.listdir(table / "flat"))

    def both(call):
        fast = call()
        monkeypatch.setattr(fs, "local_path", lambda spark, p: None)
        monkeypatch.setattr(versioned, "local_path", lambda spark, p: None)
        try:
            slow = call()
        finally:
            monkeypatch.undo()
        return fast, slow

    def listing(root, pattern=None):
        return sorted(
            (f.path, f.size, f.mtime_ms)
            for f in list_files(spark, root, pattern)
        )

    base = str(table)
    roots = [
        base, f"file://{base}", f"file:{base}", f"{base}/hive",
        f"{base}/hive/a=x y/b=p%3Aq", f"{base}/naïve.json",
        f"file://{base}/flat/_SUCCESS", f"{base}/absent",
    ]
    for root in roots:
        for pattern in (None, "*.parquet", "_*"):
            fast, slow = both(lambda: listing(root, pattern))
            assert fast == slow, (root, pattern)
    full, _ = both(lambda: listing(base))
    names = {p.rsplit("/", 1)[-1] for p, _, _ in full}
    assert {"_SUCCESS", ".hidden", "naïve.json"} <= names
    assert not any(n.endswith(".crc") for n in names)
    assert all(p.startswith(f"file:{base}/") for p, _, _ in full)
    assert any("/a=ação/" in p for p, _, _ in full)
    assert listing(f"{base}/absent") == []

    for probe in roots + [f"{base}/flat/.hidden", f"file:{base}/nope"]:
        fast, slow = both(lambda: path_exists(spark, probe))
        assert fast == slow, probe
    for path in (f"{base}/naïve.json", f"file://{base}/naïve.json"):
        fast, slow = both(lambda: versioned._read_json(spark, path))
        assert fast == slow == {"dirs": ["data/v000001"], "op": "café"}


def test_scheme_less_paths_follow_default_fs(spark, tmp_path):
    """A path with no scheme names the session's default filesystem.
    When ``fs.defaultFS`` is not ``file:`` (a cluster whose
    core-site.xml points at HDFS), such a path is not local: existence
    probes and listings go to Hadoop, never to the driver's disk —
    a local "absent" there would send MERGE writers down the
    first-write overwrite branch over an existing table. The default
    here is a scheme with no FileSystem, so reaching Hadoop shows as
    its error and nothing is contacted."""
    from tms_etl_spark.sources import fs

    (tmp_path / "a.parquet").write_bytes(b"1234")
    conf = spark._jsc.hadoopConfiguration()
    prior = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "nofs://cluster/")
    fs._DEFAULT_FS_LOCAL.clear()
    try:
        assert fs.local_path(spark, str(tmp_path)) is None
        assert fs.local_path(spark, f"file:{tmp_path}") == str(tmp_path)
        assert path_exists(spark, f"file:{tmp_path}/a.parquet")
        for probe in (path_exists, list_files):
            with pytest.raises(Exception, match="nofs"):
                probe(spark, str(tmp_path))
    finally:
        conf.set("fs.defaultFS", prior)
        fs._DEFAULT_FS_LOCAL.clear()
    assert fs.local_path(spark, str(tmp_path)) == str(tmp_path)


def test_upsert_partitioned_update_path(spark, tmp_path):
    """Second write MERGES with the existing table: colliding keys are
    updated, new keys inserted, untouched partitions left intact."""
    target = str(tmp_path / "fact")
    first = spark.createDataFrame(
        [("k1", "2024-01", 10), ("k2", "2024-01", 20), ("k3", "2024-02", 30)],
        "k: string, month: string, v: int",
    )
    upsert_partitioned(target, first, keys=["k"], partition_col="month")

    batch = spark.createDataFrame(
        [("k1", "2024-01", 99), ("k9", "2024-01", 90)],
        "k: string, month: string, v: int",
    )
    upsert_partitioned(target, batch, keys=["k"], partition_col="month")

    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {"k1": 99, "k2": 20, "k9": 90, "k3": 30}
    # the untouched 2024-02 partition was not rewritten away
    assert path_exists(spark, f"{target}/month=2024-02")


def test_replace_dir_swaps_and_clears_stale_backup(spark, tmp_path):
    """replace_dir keeps the final path continuously present (backup
    rename, not delete-then-rename) and clears a leftover backup from
    a previously crashed swap."""
    from tms_etl_spark.sources.fs import replace_dir

    final = tmp_path / "table"
    staged = tmp_path / "table.staged"
    stale = tmp_path / "table.__replacing__"
    final.mkdir()
    (final / "old.parquet").write_bytes(b"old")
    staged.mkdir()
    (staged / "new.parquet").write_bytes(b"new")
    stale.mkdir()  # simulates a crash between backup and cleanup
    (stale / "zombie.parquet").write_bytes(b"z")

    replace_dir(spark, str(staged), str(final))
    assert (final / "new.parquet").read_bytes() == b"new"
    assert not staged.exists()
    assert not stale.exists()  # backup cleaned up after the swap


def test_replace_dir_into_absent_final(spark, tmp_path):
    from tms_etl_spark.sources.fs import replace_dir

    staged = tmp_path / "s"
    staged.mkdir()
    (staged / "a.parquet").write_bytes(b"a")
    replace_dir(spark, str(staged), str(tmp_path / "t"))
    assert (tmp_path / "t" / "a.parquet").read_bytes() == b"a"
