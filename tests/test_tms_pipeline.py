"""Reference-semantics tests (SURVEY.md §5.2): TMS-shaped fixtures
with hand-computed goldens — positional parsing, BOM/encoding, empty
string coercion, desligado predicate incl. borderlines, merge
idempotence, first-write-wins, newest-file-wins precedence.
"""

from __future__ import annotations

import codecs
import contextlib

import pytest
from pyspark.sql import functions as F

from tms_etl_spark.tms.pipeline import import_daily, prepare_batch
from tms_etl_spark.tms.quality import is_tear_desligado
from tms_etl_spark.tms.schema import DAILY_COLUMNS, NUMERIC_COLUMNS, with_types
from tms_etl_spark.tms.source import read_daily


def _row(data_turno, tear, artigo="ART-1", rpm="550", ef="85.5", func="400",
         par="40", extra_cols=56):
    head = [data_turno, tear, artigo, "", "GEN-1", rpm, ef, func, par]
    return ",".join(head + ["0"] * extra_cols)


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    root = tmp_path_factory.mktemp("tmslake")
    d = root / "2024-01" / "daily"
    d.mkdir(parents=True)
    rows = [
        _row("2024-01-05.A", "00001"),                       # normal
        _row("2024-01-05.C", "00002", func="0", par="440"),  # desligado
        _row("2024-01-05.C", "00003", func="0", par="399"),  # borderline: NOT flagged
        _row("2024-01-05.C", "00004", func="0.1", par="440"),  # borderline: NOT flagged
        _row("2024-01-05.B", "00005", rpm=""),               # empty-string numeric → 0
        "short,row",                                          # arity<3 → dropped
        _row("2024-01-05.A", "00006")[: len(_row('x', 'y')) - 80],  # truncated tail → nulls → 0
    ]
    (d / "2024-01-05.csv").write_text("\n".join(rows), encoding="utf-8")
    # BOM file (utf-8-sig)
    (d / "2024-01-06.csv").write_bytes(
        codecs.BOM_UTF8 + _row("2024-01-06.A", "00001").encode("utf-8")
    )
    return str(root)


def test_positional_schema():
    assert len(DAILY_COLUMNS) == 71
    assert DAILY_COLUMNS[0] == "DataTurno"
    assert DAILY_COLUMNS[15] == "QtdParadasUrdume"
    assert DAILY_COLUMNS[34] == "MinParadasOutras"
    assert DAILY_COLUMNS[35] == "Wf11"
    assert DAILY_COLUMNS[70] == "MinGen16"


def test_read_daily_parses_and_coerces(spark, lake):
    df = read_daily(spark, lake)
    # column names, types and order of the typed projection: strings
    # (col3_unused dropped), 66 measures, lineage, derived columns
    assert len(NUMERIC_COLUMNS) == 66
    assert NUMERIC_COLUMNS[0] == "Rpm" and NUMERIC_COLUMNS[-1] == "MinGen16"
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == (
        [(c, "string") for c in ("DataTurno", "Tear", "Artigo", "ArtigoGen")]
        + [(c, "double") for c in NUMERIC_COLUMNS]
        + [
            ("_src_file", "string"),
            ("_src_mtime", "timestamp"),
            ("data", "date"),
            ("turno", "string"),
            ("month", "string"),
        ]
    )
    rows = {(r["Tear"], r["DataTurno"]): r for r in df.collect()}
    # BOM stripped: first column parsed cleanly
    bom = rows[("00001", "2024-01-06.A")]
    assert (bom["Rpm"], bom["Eficiencia"], bom["turno"]) == (550.0, 85.5, "A")
    assert str(bom["data"]) == "2024-01-06"
    # empty string numeric coerced to 0
    r5 = rows[("00005", "2024-01-05.B")]
    assert r5["Rpm"] == 0.0
    assert r5["Eficiencia"] == 85.5
    # derived columns
    r2 = rows[("00002", "2024-01-05.C")]
    assert r2["turno"] == "C"
    assert r2["month"] == "2024-01"
    assert str(r2["data"]) == "2024-01-05"
    assert r2["_src_file"].endswith("/2024-01/daily/2024-01-05.csv")
    assert r2["_src_mtime"] is not None
    # truncated row: leading fields parsed, missing tail → 0.0
    r6 = rows[("00006", "2024-01-05.A")]
    assert (r6["Rpm"], r6["Parado"], r6["MinGen16"]) == (550.0, 40.0, 0.0)
    # short row: parsed (the arity filter drops it later), nulls → 0.0
    short = rows[("row", "short")]
    assert short["Artigo"] is None and short["data"] is None
    assert (short["Rpm"], short["MinGen16"]) == (0.0, 0.0)
    assert (short["turno"], short["month"]) == ("", "short")


def test_read_daily_malformed_key_and_padding(spark, tmp_path):
    d = tmp_path / "mk" / "2024-01" / "daily"
    d.mkdir(parents=True)
    (d / "2024-01-07.csv").write_text(
        "\n".join(
            [
                # malformed DataTurno, padded measure, non-numeric measure
                _row("2024-13-45.A", "00007", ef=" 12.5 ", par="abc"),
                # padded key fields are trimmed before deriving columns
                _row(" 2024-01-07.B ", " 00008 "),
            ]
        ),
        encoding="utf-8",
    )
    rows = {r["Tear"]: r for r in read_daily(spark, str(tmp_path / "mk")).collect()}
    bad = rows["00007"]
    assert bad["DataTurno"] == "2024-13-45.A"
    assert bad["data"] is None  # try_to_date: null, never an error
    assert (bad["turno"], bad["month"]) == ("A", "2024-13")
    assert (bad["Eficiencia"], bad["Parado"]) == (12.5, 0.0)
    pad = rows["00008"]
    assert pad["DataTurno"] == "2024-01-07.B"
    assert (str(pad["data"]), pad["turno"], pad["month"]) == (
        "2024-01-07",
        "B",
        "2024-01",
    )


def test_desligado_predicate(spark, lake):
    df = read_daily(spark, lake)
    flagged = {
        r["Tear"]
        for r in df.where(is_tear_desligado()).select("Tear").collect()
    }
    assert flagged == {"00002"}  # borderlines 00003/00004 excluded


def test_arity_filter_drops_short_rows(spark, lake):
    batch = prepare_batch(read_daily(spark, lake))
    tears = {r["Tear"] for r in batch.select("Tear").collect()}
    assert "short" not in tears and "row" not in tears


def test_truncated_row_trailing_nulls_coerced(spark, lake):
    df = read_daily(spark, lake)
    r = df.where(F.col("Tear") == "00006").collect()
    if r:  # truncated row keeps first fields, trailing → 0.0
        assert r[0]["MinGen16"] == 0.0


def test_import_idempotent(spark, lake, tmp_path):
    target = str(tmp_path / "fact")
    s1 = import_daily(spark, lake, target)
    t1 = spark.read.parquet(target).orderBy("DataTurno", "Tear").collect()
    s2 = import_daily(spark, lake, target)  # replay the same files
    t2 = spark.read.parquet(target).orderBy("DataTurno", "Tear").collect()
    assert s1.table_rows == s2.table_rows
    assert t1 == t2  # T2: exactly-once effective under replay


def test_first_write_wins_for_desligado(spark, lake, tmp_path):
    target = str(tmp_path / "fact")
    import_daily(spark, lake, target)
    # A real record for 00002's shift lands first; a later desligado
    # import must NOT overwrite it.
    real = spark.read.parquet(target).where(
        (F.col("Tear") == "00002") & (F.col("DataTurno") == "2024-01-05.C")
    )
    assert real.count() == 1
    before = real.collect()[0]["Eficiencia"]

    # new lake delivering a desligado row for the same key
    import pathlib

    lake2 = tmp_path / "lake2" / "2024-01" / "daily"
    pathlib.Path(lake2).mkdir(parents=True)
    (lake2 / "2024-01-05.csv").write_text(
        _row("2024-01-05.C", "00002", ef="0", func="0", par="440"), encoding="utf-8"
    )
    import_daily(spark, str(tmp_path / "lake2"), target)
    after_df = spark.read.parquet(target).where(
        (F.col("Tear") == "00002") & (F.col("DataTurno") == "2024-01-05.C")
    )
    assert after_df.count() == 1
    assert after_df.collect()[0]["Eficiencia"] == before  # unchanged

    # but a NON-desligado update for another key DOES overwrite
    lake3 = tmp_path / "lake3" / "2024-01" / "daily"
    pathlib.Path(lake3).mkdir(parents=True)
    (lake3 / "2024-01-05.csv").write_text(
        _row("2024-01-05.A", "00001", ef="42.0"), encoding="utf-8"
    )
    import_daily(spark, str(tmp_path / "lake3"), target)
    updated = spark.read.parquet(target).where(
        (F.col("Tear") == "00001") & (F.col("DataTurno") == "2024-01-05.A")
    )
    assert updated.collect()[0]["Eficiencia"] == 42.0


def test_newest_file_wins_within_batch(spark, tmp_path):
    import time

    d = tmp_path / "lk" / "2024-02" / "daily"
    d.mkdir(parents=True)
    (d / "2024-02-01.csv").write_text(
        _row("2024-02-01.A", "00009", ef="10.0"), encoding="utf-8"
    )
    time.sleep(1.1)  # distinct mtimes
    (d / "2024-02-02.csv").write_text(
        _row("2024-02-01.A", "00009", ef="99.0"), encoding="utf-8"
    )
    batch = prepare_batch(read_daily(spark, str(tmp_path / "lk")))
    rows = batch.where(F.col("Tear") == "00009").collect()
    assert len(rows) == 1
    assert rows[0]["Eficiencia"] == 99.0


def test_latin1_encoding_root(spark, tmp_path):
    d = tmp_path / "l1" / "2024-03" / "daily"
    d.mkdir(parents=True)
    (d / "2024-03-01.csv").write_bytes(
        _row("2024-03-01.A", "00007", artigo="TECIDO-AÇO").encode("latin-1")
    )
    df = read_daily(spark, str(tmp_path / "l1"), encoding="ISO-8859-1")
    assert df.collect()[0]["Artigo"] == "TECIDO-AÇO"


def test_month_pruning(spark, tmp_path):
    for m in ("2024-01", "2024-02"):
        d = tmp_path / "pr" / m / "daily"
        d.mkdir(parents=True)
        (d / "f.csv").write_text(_row(f"{m}-01.A", "00001"), encoding="utf-8")
    df = read_daily(spark, str(tmp_path / "pr"), months=["2024-02"])
    assert {r["month"] for r in df.select("month").collect()} == {"2024-02"}


def test_shift_minutes_invariant(spark, lake):
    from tms_etl_spark.tms.quality import shift_minutes_violations
    from tms_etl_spark.tms.source import read_daily
    from tms_etl_spark.tms.pipeline import prepare_batch

    batch = prepare_batch(read_daily(spark, lake))
    bad = shift_minutes_violations(batch)
    # fixture rows are built with Funcionando+Parado == 440 except the
    # truncated row (0+0); the validator must flag exactly those
    tears = {r["Tear"] for r in bad.select("Tear").collect()}
    assert "00001" not in tears
    for r in bad.collect():
        assert r["__shift_total"] < 400 or r["__shift_total"] > 480


def test_snapshot_diff_classifies_all_change_types(spark):
    from tms_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (3, "c", 33.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, keys=["k"]).collect()
    }
    # 1 unchanged (absent), 2 updated (s), 3 updated (NULL->value),
    # 4 deleted, 5 inserted
    assert got == {2: "update", 3: "update", 4: "delete", 5: "insert"}


def _write_lake(root, files):
    """``files``: {(month, day-file name): [csv rows]}."""
    for (month, name), rows in files.items():
        d = root / month / "daily"
        d.mkdir(parents=True, exist_ok=True)
        (d / name).write_text("\n".join(rows), encoding="utf-8")
    return str(root)


def _touched_rows(spark, table, months):
    from tms_etl_spark.operators.versioned import read_version

    return read_version(spark, table).where(F.col("month").isin(months)).count()


def _head_manifest(spark, table):
    from tms_etl_spark.operators.versioned import (
        _manifest_path,
        _read_json,
        current_version,
    )

    return _read_json(spark, _manifest_path(table, current_version(spark, table)))


def test_versioned_table_rows_from_metadata(spark, tmp_path):
    """``ImportStats.table_rows`` equals a scan of the touched months:
    from manifest row counts on a plain re-import, from the fallback
    scan once deletion vectors exist, and from the head snapshot on a
    ``txn_id`` replay."""
    from tms_etl_spark.operators.versioned import (
        count_rows_metadata,
        current_version,
        delete_rows,
    )
    from tms_etl_spark.tms.pipeline import import_daily_versioned

    lake = tmp_path / "lake"
    table = str(tmp_path / "fact")
    _write_lake(
        lake,
        {
            ("2024-01", "2024-01-05.csv"): [
                _row("2024-01-05.A", t) for t in ("00001", "00002", "00003")
            ],
            ("2024-02", "2024-02-05.csv"): [
                _row("2024-02-05.A", t) for t in ("00001", "00002")
            ],
        },
    )
    first = import_daily_versioned(spark, str(lake), table)
    assert (first.batch_rows, first.table_rows) == (5, 5)

    # plain re-import of one month: a new key lands in February
    _write_lake(
        lake,
        {("2024-02", "2024-02-06.csv"): [_row("2024-02-06.B", "00004", ef="1.0")]},
    )
    st = import_daily_versioned(spark, str(lake), table, months=["2024-02"])
    assert st.batch_rows == 3
    assert st.table_rows == _touched_rows(spark, table, ["2024-02"]) == 3
    # ... answered by the manifest, not a scan
    assert count_rows_metadata(_head_manifest(spark, table), ("month", ["2024-02"])) == 3
    assert count_rows_metadata(_head_manifest(spark, table), ("month", ["2024-01"])) == 3

    # deletion vectors force the scan fallback
    delete_rows(
        spark,
        table,
        spark.createDataFrame([("2024-01-05.A", "00003")], "DataTurno string, Tear string"),
    )
    _write_lake(
        lake,
        {("2024-02", "2024-02-07.csv"): [_row("2024-02-07.C", "00001")]},
    )
    st = import_daily_versioned(spark, str(lake), table, months=["2024-02"])
    man = _head_manifest(spark, table)
    assert man.get("deletes")  # January's live files are still covered
    assert count_rows_metadata(man, ("month", ["2024-02"])) is None
    assert st.table_rows == _touched_rows(spark, table, ["2024-02"]) == 4
    assert _touched_rows(spark, table, ["2024-01"]) == 2

    # txn_id replay: no new commit, table_rows counts the head snapshot
    import_daily_versioned(spark, str(lake), table, months=["2024-01"], txn_id="t1")
    _write_lake(
        lake,
        {("2024-01", "2024-01-08.csv"): [_row("2024-01-08.A", "00009")]},
    )
    import_daily_versioned(spark, str(lake), table, months=["2024-01"])
    head = current_version(spark, table)
    st = import_daily_versioned(spark, str(lake), table, months=["2024-01"], txn_id="t1")
    assert current_version(spark, table) == head
    # the replayed batch's 3 January keys plus the later 2024-01-08 row
    assert st.table_rows == _touched_rows(spark, table, ["2024-01"]) == 4


def test_session_keeps_analysis_errors_without_call_sites(spark):
    """The session turns DataFrame call-site capture off; analysis
    errors still name the unresolved column."""
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(1).select(F.col("no_such_column")).collect()


@contextlib.contextmanager
def _gateway_commands():
    """Count the py4j gateway commands sent inside the block: yields a
    one-item list holding the running count. Garbage collection is
    paused, as py4j's garbage-collection callbacks are commands too."""
    import gc

    import py4j.clientserver as cs

    sent = [0]
    orig = cs.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        sent[0] += 1
        return orig(self, command, *args, **kwargs)

    gc.disable()
    cs.ClientServerConnection.send_command = counting
    try:
        yield sent
    finally:
        cs.ClientServerConnection.send_command = orig
        gc.enable()


def test_reimport_round_trip_budget(spark, tmp_path):
    """Guard on driver round trips: a re-import into a tiny versioned
    table stays within a bounded number of py4j gateway commands and
    Spark jobs, so a per-column Column builder (a few commands per
    column of the 71-column fact) cannot creep back unnoticed. Measured
    on this fixture: 800 commands and 17 jobs; with per-column plan
    building and three passes over the batch it took 11,424 commands
    and 24 jobs. The command ceiling is twice the measured count; the
    job ceiling sits just under the three-pass count."""
    from tms_etl_spark.tms.pipeline import import_daily_versioned

    lake = tmp_path / "lake"
    table = str(tmp_path / "fact")
    _write_lake(
        lake,
        {
            (m, f"{m}-0{d}.csv"): [
                _row(f"{m}-0{d}.{s}", t) for s in "ABC" for t in ("00001", "00002")
            ]
            for m in ("2024-01", "2024-02")
            for d in (1, 2)
        },
    )
    import_daily_versioned(spark, str(lake), table)
    _write_lake(
        lake,
        {("2024-02", "2024-02-02.csv"): [_row("2024-02-02.A", "00001", ef="1.0")]},
    )

    sc = spark.sparkContext
    group = "reimport-round-trip-budget"
    try:
        with _gateway_commands() as sent:
            sc.setJobGroup(group, "round-trip budget")
            import_daily_versioned(spark, str(lake), table, months=["2024-02"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert sent[0] < 1600, sent[0]
    assert jobs < 24, jobs


def test_point_read_round_trips_flat_in_history(spark, tmp_path):
    """A point read's driver round trips do not grow with the table's
    history: the py4j commands of one `read_version_where` plus its
    collect match within a small constant at 2 and at 12 committed
    versions of the same live files (versions 3-12 are rollbacks to
    v2, so the scan is identical). Listing ``_manifests`` through
    Hadoop costs several commands per manifest, so a metadata path
    that lists or walks the history shows up here."""
    from tms_etl_spark.operators.versioned import (
        current_version,
        read_version_where,
        rollback,
        write_version,
    )

    table = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [(i, f"2024-0{1 + i % 2}") for i in range(20)], "id int, month string"
    )
    write_version(df.where("id < 10"), table)
    write_version(df.where("id >= 10"), table)

    def point_read() -> int:
        rows = read_version_where(spark, table, "id = 13").collect()
        assert [r["id"] for r in rows] == [13]
        with _gateway_commands() as sent:
            read_version_where(spark, table, "id = 13").collect()
        return sent[0]

    at_2 = point_read()
    for _ in range(10):
        rollback(spark, table, to_version=2)
    assert current_version(spark, table) == 12
    at_12 = point_read()
    assert abs(at_12 - at_2) <= 8, (at_2, at_12)
