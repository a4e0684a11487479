"""DuckDB twins for the correctness gate.

``expected`` runs in a child process (``python3 oracle.py INPUT_DIR
REQUEST OUT``) so DuckDB's threads and memory stay out of the measured
process: it reads a pickled request (twin queries to run in full, twin
queries to reduce to a checksum), evaluates each against views over
the generated files and pickles the results to OUT.

A query result is compared row for row, after sorting columns by name
and rows by value, with exact equality (floats included) and equal
column dtypes. A table the program wrote is compared by its row count
plus an order-independent checksum computed by both engines: per
column the non-null count and an exact integer sum (integers, lengths
of strings) or a floating sum (measures, equal to 1e-9 relative).
"""

from __future__ import annotations

import math
import pickle
import sys
from pathlib import Path

import pandas as pd

REL_TOL = 1e-9


def connect(input_dir: Path, extra_orders: list[str] = ()):
    """DuckDB connection with one view per generated table. A table
    written as a directory of files is read through a glob; orders
    drops named in ``extra_orders`` are appended to ``orders``."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for p in sorted(input_dir.glob("*.parquet")):
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        sql = f"SELECT * FROM read_parquet('{src}')"
        if p.stem == "orders":
            for f in extra_orders:
                sql += f" UNION ALL SELECT * FROM read_parquet('{input_dir / f}')"
        con.execute(f"CREATE VIEW {p.stem} AS {sql}")
    return con


def _kind(duck_type: str) -> str:
    t = duck_type.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "float"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    raise TypeError(f"no checksum rule for column type {duck_type}")


def checksum_sql(columns: list[tuple[str, str]], source: str,
                 dialect: str) -> str:
    """``SELECT`` of the checksum over ``source`` in either engine."""
    big = "HUGEINT" if dialect == "duckdb" else "DECIMAL(38,0)"
    parts = ["COUNT(*)"]
    for name, kind in columns:
        c = f"`{name}`" if dialect == "spark" else f'"{name}"'
        parts.append(f"COUNT({c})")
        if kind == "int":
            parts.append(f"SUM(CAST({c} AS {big}))")
        elif kind == "float":
            parts.append(f"SUM(CAST({c} AS DOUBLE))")
        elif kind == "str":
            parts.append(f"SUM(CAST(LENGTH({c}) AS {big}))")
        else:
            parts.append(f"SUM(CASE WHEN {c} THEN 1 ELSE 0 END)")
    return f"SELECT {', '.join(parts)} FROM {source}"


def checksum_equal(got: tuple, want: tuple) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g is None or w is None:
            if (g is None) != (w is None):
                return False
        elif isinstance(g, float) or isinstance(w, float):
            if not math.isclose(float(g), float(w), rel_tol=REL_TOL,
                                abs_tol=1e-6):
                return False
        elif int(g) != int(w):
            return False
    return True


def expected(input_dir: Path, request: dict) -> dict:
    """Evaluate ``request``: ``frames`` maps a name to twin SQL run in
    full; ``checksums`` maps a name to ``{"sql", "drops"}``, reduced to
    a checksum, with the orders drops appended when ``drops`` is set."""
    plain = connect(input_dir)
    dropped = None
    out: dict = {"frames": {}, "checksums": {}}
    for name, sql in request.get("frames", {}).items():
        out["frames"][name] = plain.execute(sql).df()
    for name, spec in request.get("checksums", {}).items():
        con, sql = plain, spec["sql"]
        if spec["drops"]:
            if dropped is None:
                dropped = connect(input_dir, request["extra_orders"])
            con = dropped
        cols = [(r[0], _kind(r[1]))
                for r in con.execute(f"DESCRIBE {sql}").fetchall()]
        row = con.execute(
            checksum_sql(cols, f"({sql}) AS t", "duckdb")).fetchone()
        out["checksums"][name] = {"columns": cols, "row": tuple(row)}
    return out


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        kind = df[col].dtype.kind
        if kind == "i":
            df[col] = df[col].astype("int64")
        elif kind == "u":
            df[col] = df[col].astype("uint64")
        elif kind == "f":
            df[col] = df[col].astype("float64")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="last")
    return df.reset_index(drop=True)


def _same(a, b) -> bool:
    a_null = a is None or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null and b_null
    if isinstance(a, (list, tuple)) or hasattr(a, "tolist"):
        a, b = list(a), list(b)
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    try:
        return bool(a == b)
    except (TypeError, ValueError):
        return str(a) == str(b)


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for col in got.columns:
        if str(got[col].dtype) != str(want[col].dtype):
            return (f"column {col}: dtype {got[col].dtype} != "
                    f"{want[col].dtype}")
        bad = sum(not _same(g, w)
                  for g, w in zip(got[col].tolist(), want[col].tolist()))
        if bad:
            return f"column {col}: {bad} values differ"
    return None


if __name__ == "__main__":
    in_dir, req_path, out_path = (Path(a) for a in sys.argv[1:4])
    with open(req_path, "rb") as f:
        req = pickle.load(f)
    result = expected(in_dir, req)
    tmp = out_path.with_suffix(".tmp")
    with open(tmp, "wb") as f:
        pickle.dump(result, f)
    tmp.replace(out_path)
