"""Output check against the engine's DuckDB oracle, on generated inputs.

The comparison is the repository's own (``tools/check_oracle.py``):
row count, column dtype families and the order-insensitive value hash.
Queries registered without oracle SQL get a rows-only check. Expected
results depend only on the generator version, the copy count and the
seed, so each is computed once and kept as a small JSON file.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import duckdb
import pandas as pd


def load_check_oracle(root: str):
    """Import ``tools/check_oracle.py`` without letting its module-level
    ``sys.path`` insert outlive the import, so the engine stays the
    copy under ``root``."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class Oracle:
    def __init__(self, root: str, cache_dir: str):
        self.co = load_check_oracle(root)
        self.cache_dir = cache_dir

    def summary(self, df: pd.DataFrame) -> dict:
        return {"rows": len(df),
                "schema": {c: self.co.dtype_family(df[c]) for c in sorted(df.columns)},
                "hash": self.co.value_hash(df)}

    def expected(self, input_dir: str, tag: str, sql: dict[str, str | None],
                 tables: list[str]) -> dict[str, dict | None]:
        """Expected summary per query (None = rows-only), from the cache
        file for ``tag`` or computed with DuckDB over ``input_dir``."""
        path = os.path.join(self.cache_dir, f"{tag}.json")
        cached = {}
        if os.path.exists(path):
            with open(path) as f:
                cached = json.load(f)
        missing = [q for q in sql if q not in cached]
        if missing:
            con = duckdb.connect()
            try:
                for t in tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{input_dir}/{t}.parquet/*.parquet'")
                for q in missing:
                    cached[q] = None if sql[q] is None else self.summary(
                        con.execute(sql[q]).df())
            finally:
                con.close()
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(cached, f)
            os.replace(tmp, path)
        return {q: cached[q] for q in sql}

    def problems(self, got: pd.DataFrame, want: dict | None) -> list[str]:
        """Why ``got`` differs from the expected summary (empty = ok)."""
        if want is None:
            return [] if len(got) else ["rows-only check: no rows"]
        have = self.summary(got)
        out = []
        if have["rows"] != want["rows"]:
            out.append(f"rows {have['rows']} vs {want['rows']}")
        if have["schema"] != want["schema"]:
            out.append(f"schema {have['schema']} vs {want['schema']}")
        if not out and have["hash"] != want["hash"]:
            out.append("value-hash mismatch")
        return out
