"""Result checks, run after the timed phase and never inside it.

Query results are compared with the DuckDB oracle registered next to
each query, through the canon of ``scripts/parity_sweep.py`` (imported,
not copied). Oracle results are cached under ``perfbench/.cache`` keyed
by the fixture's content digest and the oracle SQL, so a checkout pays
each oracle once. Table and stream results are compared with DuckDB
computations over the same landed files.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

import duckdb
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache", "oracle")

_canon = None


def canon_fn(repo_root: str):
    """`canon` from scripts/parity_sweep.py, loaded by path."""
    global _canon
    if _canon is None:
        spec = importlib.util.spec_from_file_location(
            "parity_sweep", os.path.join(repo_root, "scripts", "parity_sweep.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _canon = mod.canon
    return _canon


def fixture_digest(sf_dir: str, tables: list[str]) -> str:
    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode())
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class Oracle:
    """DuckDB over one fixture directory, with an on-disk result cache."""

    def __init__(self, repo_root: str, sf_dir: str, tables: list[str]):
        self.canon = canon_fn(repo_root)
        self.sf_dir = sf_dir
        self.tables = tables
        self.digest = fixture_digest(sf_dir, tables)
        self._con = None

    def con(self) -> duckdb.DuckDBPyConnection:
        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
            for t in self.tables:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, t)}.parquet'"
                )
        return self._con

    def expected(self, sql: str) -> dict:
        """{"n": rows, "cols": sorted column names, "canon": [...]}"""
        key = hashlib.sha256((self.digest + "\0" + sql).encode()).hexdigest()
        path = os.path.join(CACHE_DIR, f"{key}.json")
        try:
            with open(path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            pass
        odf = self.con().execute(sql).df()
        out = {
            "n": len(odf),
            "cols": sorted(odf.columns),
            "canon": self.canon(odf),
        }
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(out, fh)
        os.replace(tmp, path)
        return out

    def compare(self, pdf, sql: str) -> str | None:
        """None when the engine's rows equal the oracle's, else why not."""
        want = self.expected(sql)
        if len(pdf) != want["n"]:
            return f"row count {len(pdf)} != oracle {want['n']}"
        if sorted(pdf.columns) != want["cols"]:
            return f"columns {sorted(pdf.columns)} != oracle {want['cols']}"
        if self.canon(pdf) != want["canon"]:
            return "values differ from oracle"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def arrow_diff(con: duckdb.DuckDBPyConnection, got: pa.Table, want_sql: str) -> str | None:
    """Bag difference between an engine result and a DuckDB query, both
    ways; None when they hold the same rows."""
    con.execute("SET TimeZone = 'UTC'")
    con.register("got_rows", got)
    try:
        cols = ", ".join(f'"{c}"' for c in got.column_names)
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM got_rows "
            f"EXCEPT ALL SELECT {cols} FROM ({want_sql}))"
        ).fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM ({want_sql}) "
            f"EXCEPT ALL SELECT {cols} FROM got_rows)"
        ).fetchone()[0]
    finally:
        con.unregister("got_rows")
    if extra or missing:
        return f"{extra} unexpected rows, {missing} missing rows"
    return None
