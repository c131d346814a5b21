"""Expected results from DuckDB, and the comparison every operation passes.

Three sources, as the workloads need them:

- the declared DuckDB oracle of each registry query (``QUERIES[k].oracle``),
  computed once per input data set and cached as canonical rows in the
  benchmark's work directory;
- a DuckDB spelling of the seeded spatial template (integer-coordinate
  arithmetic on the key columns, the same points the engine builds);
- a DuckDB mirror of the lake tables, fed the same batches and DML as the
  engine, which answers the lake reads.

Rows are compared the way ``tools/diff_oracle.py`` compares them: columns
sorted by name, values through its ``canon``, rows sorted.
"""

from __future__ import annotations

import importlib.util
import json
import os


def _load_canon(root):
    spec = importlib.util.spec_from_file_location(
        "perfbench_diff_oracle", os.path.join(root, "tools", "diff_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def _sort_key(row):
    return json.dumps(row, default=str)


class Canon:
    """Canonical row sets, so engine rows and DuckDB rows compare equal
    exactly when ``tools/diff_oracle.py`` would call them equal."""

    def __init__(self, root):
        self.canon = _load_canon(root)

    def _norm(self, v):
        v = self.canon(v)
        if isinstance(v, (list, tuple)):
            return [self._norm(x) for x in v]
        return v

    def rows(self, columns, rows):
        order = sorted(range(len(columns)), key=lambda i: columns[i])
        return {"columns": sorted(columns),
                "rows": sorted(([self._norm(r[i]) for i in order] for r in rows),
                               key=_sort_key)}

    def spark(self, df_columns, rows):
        return self.rows(list(df_columns), [tuple(r) for r in rows])

    def duck(self, rel):
        return self.rows(list(rel.columns), rel.fetchall())


def connect(data_dir, tables, threads=1):
    """DuckDB over the input tables.  During a run, one thread: expected
    results are computed between measured operations and must not leave
    DuckDB threads spinning into them."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    return con


class DeclaredOracles:
    """Expected rows of registry queries, cached as JSON per data set."""

    def __init__(self, canon, data_dir, cache_dir, tables):
        self.canon = canon
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.tables = tables
        self._mem = {}

    def get(self, name, oracle_sql):
        if name in self._mem:
            return self._mem[name]
        path = os.path.join(self.cache_dir, f"{name}.json")
        if not os.path.exists(path):
            os.makedirs(self.cache_dir, exist_ok=True)
            con = connect(self.data_dir, self.tables,
                          threads=os.cpu_count() or 1)
            try:
                expected = self.canon.duck(con.sql(oracle_sql))
            finally:
                con.close()
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump(expected, fh, default=str)
            os.replace(tmp, path)
        with open(path) as fh:
            self._mem[name] = json.load(fh)
        return self._mem[name]


def mismatch(expected, got):
    """None when equal, else a one-line reason."""
    if expected["columns"] != got["columns"]:
        return f"columns {got['columns']} != {expected['columns']}"
    if len(expected["rows"]) != len(got["rows"]):
        return f"rowcount {len(got['rows'])} != {len(expected['rows'])}"
    for a, b in zip(got["rows"], expected["rows"]):
        if a != b:
            return f"first differing row {a} != {b}"
    return None
