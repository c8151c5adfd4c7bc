"""Result fingerprints and the DuckDB oracle for the query-mix gates.

A fingerprint is (row count, sorted column names, order-insensitive
hash of the normalized rows) -- the same comparison the repository's
oracle gate makes, computed here so the benchmark does not depend on
the repository's tools.
"""

from __future__ import annotations

import hashlib

from gen import TABLES


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def fingerprint(rows, columns) -> tuple[int, tuple[str, ...], str]:
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.md5()
    for line in sorted("|".join(_cell(r[i]) for i in idx) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return len(rows), tuple(sorted(columns)), h.hexdigest()


def oracle_fingerprints(data_dir: str, sqls: dict[str, str], threads: int) -> dict:
    """Run each key's oracle SQL on DuckDB over the generated tables."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for key, sql in sqls.items():
        rel = con.sql(sql)
        out[key] = fingerprint(rel.fetchall(), rel.columns)
    con.close()
    return out
