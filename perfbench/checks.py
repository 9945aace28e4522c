"""Per-run output checks, computed with DuckDB from the generated inputs.

Each acon step gets an order-independent fingerprint — row count plus the
sum of a per-row hash over every output column, with every column cast
to one canonical type — computed once from the inputs BEFORE the engine
runs (the oracle), and again from the committed output after every run.
A run passes when the two fingerprints are equal and the step's
layout rule holds.

* ``full_load``   — the landing DSV as read by DuckDB; the set of
  ``year=/month=/day=`` dirs must equal the distinct ship dates.
* ``delta_load``  — a DuckDB condense + anti-join merge of the original
  active table and the CDC batch (the ``_SQL_DELTA_MERGE`` shape).
* ``fuzzy_dedup`` — the engine's own DuckDB twin,
  ``__spark_entry__.oracle_sql()["fuzzy_dedup_corpus"]``.
"""

from __future__ import annotations

import os
import re

import duckdb

_LINEITEM_COLS = (
    "CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS INTEGER), "
    "CAST(l_partkey AS BIGINT), CAST(l_quantity AS DOUBLE), "
    "CAST(l_extendedprice AS DOUBLE), CAST(l_discount AS DOUBLE)"
)
_FULL_COLS = f"{_LINEITEM_COLS}, CAST(l_returnflag AS VARCHAR), CAST(l_shipdate AS VARCHAR)"
_DELTA_COLS = (
    f"{_LINEITEM_COLS}, CAST(l_shipdate AS VARCHAR), "
    "CAST(year AS INTEGER), CAST(month AS INTEGER)"
)
_FUZZY_COLS = (
    "CAST(doc_id AS BIGINT), CAST(text AS VARCHAR), CAST(lang AS VARCHAR), "
    "CAST(source AS VARCHAR), CAST(n_chars AS BIGINT), "
    "CAST(component AS BIGINT), CAST(cluster_size AS INTEGER)"
)
_COLS = {"full_load": _FULL_COLS, "delta_load": _DELTA_COLS, "fuzzy_dedup": _FUZZY_COLS}


def _fingerprint(con: duckdb.DuckDBPyConnection, cols: str, relation: str) -> tuple:
    return con.sql(
        f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM ({relation})"
    ).fetchone()


def _parquet(path: str, hive: bool) -> str:
    return (
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
        f"hive_partitioning={str(hive).lower()})"
    )


def data_files(target: str) -> list[str]:
    """Committed data files under ``target``: every file whose path
    below it has no hidden (``.``) or metadata (``_``) component."""
    out = []
    for dirpath, dirnames, filenames in os.walk(target):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        out += [
            os.path.join(dirpath, f)
            for f in filenames
            if not f.startswith(("_", "."))
        ]
    return out


class OutputCheck:
    """Oracle for one generated input set; ``check(target)`` → error
    message, or None when the committed output is correct."""

    def __init__(self, kind: str, files: dict[str, str]):
        self.kind = kind
        self.cols = _COLS[kind]
        con = duckdb.connect()
        try:
            self.expected = _fingerprint(con, self.cols, self._oracle(con, files))
            self.expected_days = None
            if kind == "full_load":
                self.expected_days = {
                    (int(s[:4]), int(s[4:6]), int(s[6:]))
                    for (s,) in con.sql(
                        f"SELECT DISTINCT l_shipdate FROM ({self._landing(files)})"
                    ).fetchall()
                }
        finally:
            con.close()

    @staticmethod
    def _landing(files: dict[str, str]) -> str:
        return (
            f"SELECT * FROM read_csv('{files['landing']}/*.dsv', delim='|', "
            "header=false, columns={'l_orderkey': 'BIGINT', "
            "'l_linenumber': 'INTEGER', 'l_partkey': 'BIGINT', "
            "'l_quantity': 'DOUBLE', 'l_extendedprice': 'DOUBLE', "
            "'l_discount': 'DOUBLE', 'l_returnflag': 'VARCHAR', "
            "'l_shipdate': 'VARCHAR'})"
        )

    def _oracle(self, con: duckdb.DuckDBPyConnection, files: dict[str, str]) -> str:
        if self.kind == "full_load":
            return self._landing(files)
        if self.kind == "delta_load":
            return f"""
WITH active AS ({_parquet(files['active'], hive=True)}),
cdc AS ({_parquet(files['cdc'], hive=False)}),
condensed AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY l_orderkey, l_linenumber ORDER BY cdc_seq DESC) AS rn
    FROM cdc)
  WHERE rn = 1
)
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
       l_discount, l_shipdate, year, month
FROM active a
WHERE NOT EXISTS (
  SELECT 1 FROM condensed c
  WHERE c.l_orderkey = a.l_orderkey AND c.l_linenumber = a.l_linenumber)
UNION ALL
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
       l_discount, l_shipdate,
       CAST(substr(l_shipdate, 1, 4) AS INTEGER) AS year,
       CAST(substr(l_shipdate, 5, 2) AS INTEGER) AS month
FROM condensed
WHERE recordmode IS NULL OR recordmode IN ('', 'N')
"""
        import __spark_entry__

        con.sql(f"CREATE VIEW documents AS {_parquet(files['corpus'], hive=False)}")
        # DuckDB inlines CTEs, so the twin recomputes every MinHash
        # signature once per reference (~20x); MATERIALIZED evaluates
        # each pipeline CTE once and leaves the result unchanged.
        return re.sub(
            r"\b(toks|sh|sigs|bands|pairs|verified) AS \(",
            r"\1 AS MATERIALIZED (",
            __spark_entry__.oracle_sql()["fuzzy_dedup_corpus"],
        )

    def check(self, target: str) -> str | None:
        con = duckdb.connect()
        try:
            return self._check(con, target)
        except duckdb.Error as exc:  # e.g. no committed files at all
            return f"unreadable output: {exc}"
        finally:
            con.close()

    def _check(self, con: duckdb.DuckDBPyConnection, target: str) -> str | None:
        hive = self.kind != "fuzzy_dedup"
        got = _fingerprint(con, self.cols, _parquet(target, hive))
        if got != self.expected:
            return f"fingerprint {got} != expected {self.expected}"
        if self.kind == "full_load":
            bad = con.sql(
                f"SELECT count(*) FROM ({_parquet(target, True)}) WHERE "
                "year != CAST(substr(l_shipdate, 1, 4) AS INTEGER) OR "
                "month != CAST(substr(l_shipdate, 5, 2) AS INTEGER) OR "
                "day != CAST(substr(l_shipdate, 7, 2) AS INTEGER)"
            ).fetchone()[0]
            if bad:
                return f"{bad} rows sit in the wrong day partition"
            days = {
                tuple(int(p.split("=")[1]) for p in os.path.relpath(
                    os.path.dirname(f), target).split(os.sep))
                for f in data_files(target)
            }
            if days != self.expected_days:
                return (
                    f"{len(days)} day dirs, expected "
                    f"{len(self.expected_days)} distinct ship dates"
                )
        return None
