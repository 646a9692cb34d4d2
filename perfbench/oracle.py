"""Output checks against the registry's DuckDB oracles.

A query's result is summarised as (row count, sorted column names,
order-insensitive value hash) with the same canonicalisation as
``scripts/drive_contract.py``: columns ordered by name, floats rounded
to 9 decimals, ``None`` as ``NULL``, rows sorted, md5 over the lines.
Oracle summaries are computed once per data directory and cached in a
JSON file beside the data, so a benchmark run only pays for the Spark
side of the comparison.
"""

from __future__ import annotations

import hashlib
import json
import os

from rclabsapi_spark.catalog import TABLES


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def summarize(cols: list[str], rows) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return {
        "rows": len(lines),
        "cols": sorted(cols),
        "hash": hashlib.md5("\n".join(lines).encode()).hexdigest(),
    }


def spark_summary(df) -> dict:
    return summarize(df.columns, [tuple(r) for r in df.collect()])


class Oracles:
    """Lazily computed, file-cached DuckDB oracle summaries for one data
    directory."""

    def __init__(self, sf_dir: str) -> None:
        self.sf_dir = sf_dir
        self.path = os.path.join(sf_dir, "oracles.json")
        self._cache: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self._cache = json.load(f)
        self._con = None

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
        return self._con

    def get(self, name: str, sql: str) -> dict:
        key = f"{name}:{hashlib.md5(sql.encode()).hexdigest()[:12]}"
        if key not in self._cache:
            rel = self._duck().execute(sql)
            cols = [d[0] for d in rel.description]
            self._cache[key] = summarize(cols, rel.fetchall())
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._cache, f, sort_keys=True)
            os.replace(tmp, self.path)
        return self._cache[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def mismatch(got: dict, want: dict) -> str | None:
    """Why two summaries differ, or None when they match."""
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} vs oracle {want['rows']}"
    if got["cols"] != want["cols"]:
        return f"cols {got['cols']} vs oracle {want['cols']}"
    if got["hash"] != want["hash"]:
        return "value hash differs from oracle"
    return None
