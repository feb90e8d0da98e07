"""Independent final-state oracle: a DuckDB fold of the generated events.

The fold keeps, per primary key ``(repo, path)``, the last event by
``(op_ts, seq)`` and drops keys whose last event is a DELETE. It never
touches Spark or the engine: it reads the same parquet event files the
engine ingested, so a wrong merge, a lost delete or a stale version in
the lake table shows up as a count or digest mismatch.

The digest is order-independent: the sum and the xor of a 64-bit hash of
``(repo, path, commit, lang, sha256(content))`` over all live rows, plus
the row count. Both sides are hashed by DuckDB, so the engine's output
(written to parquet by Spark after the timed region) and the fold are
compared with one hash function.
"""

from __future__ import annotations

import os

import duckdb

_ROW_HASH = "hash(repo, path, \"commit\", lang, sha256(content))"


def connect() -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with a small thread budget (the Spark JVM has
    already stopped or is idle when the oracle runs)."""
    con = duckdb.connect(database=":memory:")
    con.execute("SET threads TO 2")
    return con


def load_expected(con: duckdb.DuckDBPyConnection, event_files: list[str]) -> None:
    """Fold ``event_files`` into the table ``expected(repo, path, commit,
    lang, content)``."""
    if not event_files:
        raise ValueError("oracle needs at least one event file")
    con.execute(
        f"""
        CREATE OR REPLACE TABLE expected AS
        WITH ev AS (
            SELECT op, op_ts, seq,
                   CASE WHEN op = 'DELETE' THEN "before".repo ELSE "after".repo END AS repo,
                   CASE WHEN op = 'DELETE' THEN "before".path ELSE "after".path END AS path,
                   "after" AS img
            FROM read_parquet(?, hive_partitioning = false)
            WHERE op IN ('INSERT', 'UPDATE', 'DELETE')
        ),
        last AS (
            SELECT * FROM ev
            QUALIFY row_number() OVER (
                PARTITION BY repo, path ORDER BY op_ts DESC, seq DESC) = 1
        )
        SELECT repo, path, img."commit" AS "commit", img.lang AS lang,
               img.content AS content
        FROM last WHERE op <> 'DELETE'
        """,
        [event_files],
    )


def digest(con: duckdb.DuckDBPyConnection, relation: str) -> tuple[int, int, int]:
    """(row count, sum of row hashes, xor of row hashes) of ``relation``
    (a table name or a ``read_parquet(...)`` expression)."""
    n, s, x = con.execute(
        f"SELECT count(*), coalesce(sum({_ROW_HASH}::HUGEINT), 0), "
        f"coalesce(bit_xor({_ROW_HASH}), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(s), int(x)


def check_actual(con: duckdb.DuckDBPyConnection, actual_dir: str) -> dict:
    """Compare the engine's materialised ``read()`` (parquet under
    ``actual_dir``) with the fold. Returns the two digests and ``ok``."""
    exp = digest(con, "expected")
    act = digest(
        con, f"read_parquet('{actual_dir}/*.parquet')"
    )
    return {"ok": exp == act, "expected": list(exp), "actual": list(act)}


def repo_counts(con: duckdb.DuckDBPyConnection, repos: list[str]) -> dict[str, int]:
    """Live row count per repo in the fold (0 for an absent repo)."""
    rows = con.execute(
        "SELECT repo, count(*) FROM expected WHERE list_contains(?, repo) "
        "GROUP BY repo",
        [list(repos)],
    ).fetchall()
    out = {r: 0 for r in repos}
    out.update({r: int(n) for r, n in rows})
    return out


def expected_count(con: duckdb.DuckDBPyConnection) -> int:
    return int(con.execute("SELECT count(*) FROM expected").fetchone()[0])


def corrupt_copy(con: duckdb.DuckDBPyConnection, actual_dir: str,
                 how: str, out_dir: str) -> str:
    """Self-test aid: write a copy of ``actual_dir`` with one row dropped
    (``drop_row``) or one content byte changed (``flip_byte``); returns
    the copy's directory."""
    src = f"read_parquet('{actual_dir}/*.parquet')"
    if how == "drop_row":
        sql = f"SELECT * FROM {src} ORDER BY repo, path OFFSET 1"
    elif how == "flip_byte":
        sql = (
            "SELECT * REPLACE (CASE WHEN row_number() OVER (ORDER BY repo, path) = 1 "
            "THEN chr(ascii(content[1]) + 1) || content[2:] ELSE content END "
            f"AS content) FROM {src}"
        )
    else:
        raise ValueError(f"unknown corruption {how!r}")
    os.makedirs(out_dir)
    con.execute(f"COPY ({sql}) TO '{out_dir}/part-0.parquet' (FORMAT parquet)")
    return out_dir
