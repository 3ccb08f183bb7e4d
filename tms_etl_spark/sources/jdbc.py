"""JDBC upsert sink (SURVEY.md S8 — the reference's literal target
was MariaDB `tblDadosTeares` via per-row probe+write,
/root/reference/src/main_01.py:235-305).

The engine's primary MERGE strategy is the join-based one in
``operators.merge`` (parquet lake). For deployments whose serving
store is a SQL database, this module generates the ONE server-side
upsert statement that applies a staging table (written in parallel
with ``DataFrame.write.jdbc``) to the target — never a per-row
round-trip from the driver. SQL generation is pure and unit-tested
offline.
"""

from __future__ import annotations

from collections.abc import Sequence


def upsert_sql(
    table: str, staging: str, columns: Sequence[str], keys: Sequence[str],
    dialect: str = "mysql",
) -> str:
    """Server-side MERGE statement applying staging → target.

    mysql/mariadb: INSERT ... ON DUPLICATE KEY UPDATE (the reference's
    store); postgres: INSERT ... ON CONFLICT DO UPDATE; ansi: MERGE.
    """
    cols = ", ".join(columns)
    if dialect in ("mysql", "mariadb"):
        updates = ", ".join(
            f"{c} = VALUES({c})" for c in columns if c not in keys
        )
        return (
            f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging} "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
    if dialect == "postgres":
        conflict = ", ".join(keys)
        updates = ", ".join(
            f"{c} = EXCLUDED.{c}" for c in columns if c not in keys
        )
        return (
            f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging} "
            f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
        )
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    updates = ", ".join(f"t.{c} = s.{c}" for c in columns if c not in keys)
    inserts = ", ".join(f"s.{c}" for c in columns)
    return (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {updates} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({inserts})"
    )
