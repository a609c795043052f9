"""Expected outputs: the registry's DuckDB oracles, and the comparison.

The oracles run in two low-priority child processes (this file run as a
script) while the Spark session starts and the inputs stage, so neither
their CPU nor their memory is counted as the engine's. They are plain
``subprocess`` children, waited for or killed by ``Oracles.stop``:
nothing of them outlives the benchmark.
"""

from __future__ import annotations

import decimal
import json
import math
import os
import pickle
import subprocess
import sys

import duckdb


def _norm(v):
    """Value normalization of scripts/check_contract.py."""
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            v = 0.0  # collapse IEEE -0.0
        return f"{v:.6g}"
    return str(v)


def _rowset(cols: list[str], rows: list[tuple]) -> list[tuple]:
    return sorted(tuple(_norm(r[c]) for c in sorted(cols)) for r in rows)


def _connect(scratch: str, data_dir: str = "", tables=()) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(scratch, 'duckdb')}'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _fetch(con, sql: str) -> tuple[list[str], list[dict]]:
    # native fetch: SQL NULL stays None instead of becoming NaN/NaT
    cur = con.execute(sql)
    names = [d[0].lower() for d in cur.description]
    return names, [dict(zip(names, r)) for r in cur.fetchall()]


def compare(name: str, got: tuple, want: tuple) -> tuple[str, bool, str]:
    """Order-insensitive comparison of two (columns, rows) results."""
    (gcols, grows), (wcols, wrows) = got, want
    if sorted(gcols) != sorted(wcols):
        return name, False, f"columns {sorted(gcols)} != {sorted(wcols)}"
    if _rowset(gcols, grows) != _rowset(gcols, wrows):
        return name, False, f"values differ ({len(grows)} vs {len(wrows)} rows)"
    return name, True, f"{len(grows)} rows"


def parquet_sql(path: str, select: str = "*") -> str:
    return f"SELECT {select} FROM read_parquet('{path}/*.parquet')"


class Oracles:
    """The named registry oracles over the tables in ``data_dir``,
    computed in ``workers`` child processes; ``oracles[q]`` is the
    (columns, rows) of query ``q``, and raises if it could not be
    computed."""

    def __init__(self, scratch: str, data_dir: str, tables, names, workers: int = 2):
        from capex_data_pipeline_spark.registry import ORACLES

        self._procs, self._outs, self._results = [], [], {}
        for i in range(workers):
            chunk = {q: ORACLES[q] for q in list(names)[i::workers]}
            if not chunk:
                continue
            job = os.path.join(scratch, f"oracles{i}.json")
            out = os.path.join(scratch, f"oracles{i}.pkl")
            with open(job, "w", encoding="utf-8") as fh:
                json.dump({"scratch": scratch, "data_dir": data_dir,
                           "tables": list(tables), "queries": chunk}, fh)
            self._procs.append(subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), job, out],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            ))
            self._outs.append(out)

    def wait(self) -> None:
        for p in self._procs:
            p.wait()

    def stop(self) -> None:
        """Kill any oracle still running, and wait for each."""
        for p in self._procs:
            if p.poll() is None:
                p.kill()
            p.wait()

    def __getitem__(self, q: str) -> tuple:
        if not self._results:
            self.wait()
            for out in self._outs:
                if os.path.exists(out):
                    with open(out, "rb") as fh:
                        self._results.update(pickle.load(fh))
        if q not in self._results:
            raise RuntimeError(f"oracle {q} was not computed")
        return self._results[q]


def _oracle_main(job_path: str, out_path: str) -> None:
    os.nice(10)
    with open(job_path, encoding="utf-8") as fh:
        job = json.load(fh)
    con = _connect(job["scratch"], job["data_dir"], job["tables"])
    try:
        results = {q: _fetch(con, sql) for q, sql in job["queries"].items()}
    finally:
        con.close()
    with open(out_path + ".tmp", "wb") as fh:
        pickle.dump(results, fh)
    os.replace(out_path + ".tmp", out_path)


def check_outputs(scratch: str, tasks: list, expected: dict) -> list:
    """Compare each ``(name, sql over written outputs, oracle query)``."""
    con = _connect(scratch)
    try:
        return [compare(name, _fetch(con, sql), expected[q])
                for name, sql, q in tasks]
    finally:
        con.close()


if __name__ == "__main__":
    _oracle_main(*sys.argv[1:])
