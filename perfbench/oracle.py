"""Expected results from DuckDB, an engine independent of Spark.

Each op's expected result is its ``oracle_sql()`` twin run over the same
generated tables, normalised as the driver contract compares results:
columns in name order, every value rendered to a string (floating and
decimal columns as ``repr(float)``), rows sorted. Spark results go through
the same normalisation, so an op is correct when both sides are equal.

Expected results are cached per input digest and oracle SQL under
``.cache/`` in this directory, outside every timed region. ``run.py``
generates the inputs and the expected results in a separate process
(``python3 perfbench/oracle.py ...``), so neither DuckDB nor the input
generator touches the memory or CPU figures of the measured process.
"""

from __future__ import annotations

import argparse
import decimal
import hashlib
import json
import math
import os
import sys

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
NONPORTABLE = ("decimal", "array", "map", "struct")


def _norm(v, floating: bool) -> str:
    if floating and isinstance(v, (int, decimal.Decimal)) and not isinstance(v, bool):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    return str(v)


def _normalise(cols: list[str], flags: list[bool], rows) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted([_norm(r[i], flags[i]) for i in order] for r in rows)
    return {"columns": [cols[i] for i in order], "rows": out}


def spark_result(df) -> dict:
    """Collect a Spark DataFrame into the normalised form."""
    bad = [t for _, t in df.dtypes if t.startswith(NONPORTABLE)]
    if bad:
        raise TypeError(f"non-portable output dtypes {bad}")
    flags = [t.lower() in ("float", "double") or t.lower().startswith("decimal")
             for _, t in df.dtypes]
    return _normalise(df.columns, flags, [tuple(r) for r in df.collect()])


def diff(expected: dict, actual: dict, limit: int = 3) -> str | None:
    """None when equal, else a one-line description of the difference."""
    if expected["columns"] != actual["columns"]:
        return f"columns {actual['columns']} != expected {expected['columns']}"
    if expected["rows"] == actual["rows"]:
        return None
    exp = {tuple(r) for r in expected["rows"]}
    act = {tuple(r) for r in actual["rows"]}
    missing = sorted(exp - act)[:limit]
    extra = sorted(act - exp)[:limit]
    return (f"rows {len(actual['rows'])} vs expected {len(expected['rows'])}; "
            f"missing {missing}; unexpected {extra}")


class Oracle:
    """Expected results for one generated input set."""

    def __init__(self, input_dir: str, digest: str, temp_dir: str, threads: int = 4):
        self.input_dir = input_dir
        self.digest = digest
        self.temp_dir = temp_dir
        self.threads = threads
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect(config={
            "threads": self.threads,
            "temp_directory": self.temp_dir,
            "memory_limit": "2GB",
        })
        for name in os.listdir(self.input_dir):
            if name.endswith(".parquet"):
                path = os.path.join(self.input_dir, name)
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
        return con

    def expected(self, op: str, sql: str) -> dict:
        key = hashlib.sha256(f"{self.digest}\n{sql}".encode()).hexdigest()[:20]
        path = os.path.join(CACHE_DIR, f"{op}-{key}.json")
        try:
            with open(path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            pass
        if self._con is None:
            self._con = self._connect()
        rel = self._con.sql(sql)
        flags = [str(t).upper() in ("FLOAT", "DOUBLE", "HUGEINT")
                 or str(t).upper().startswith("DECIMAL") for t in rel.types]
        result = _normalise(list(rel.columns), flags, rel.fetchall())
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(result, fh)
        os.replace(tmp, path)
        return result

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def main(argv=None) -> int:
    """Write the seed's input tables and every op's expected result."""
    ap = argparse.ArgumentParser(description="generate inputs and expected results")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--inputs", required=True, help="directory for the input tables")
    ap.add_argument("--sql", required=True, help="JSON file: op -> oracle SQL")
    ap.add_argument("--temp", required=True, help="DuckDB temp directory")
    ap.add_argument("--threads", type=int, default=4)
    ap.add_argument("--out", required=True, help="JSON file: op -> expected result")
    ap.add_argument("--counts", required=True, help="JSON file: op -> expected row count")
    args = ap.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import inputs

    digest = inputs.make_inputs(args.seed, args.inputs)
    with open(args.sql) as fh:
        sqls = json.load(fh)
    orc = Oracle(args.inputs, digest, args.temp, args.threads)
    try:
        expected = {op: orc.expected(op, sql) for op, sql in sqls.items()}
    finally:
        orc.close()
    with open(args.out, "w") as fh:
        json.dump(expected, fh)
    with open(args.counts, "w") as fh:
        json.dump({op: len(r["rows"]) for op, r in expected.items()}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
