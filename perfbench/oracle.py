"""DuckDB correctness gate: each checked engine output (a parquet directory
the JVM wrote, `<checked>/<name>/`) against the repo's oracle SQL over the
same inputs, compared by tools/check.py's own `run_one`.
"""
import contextlib
import glob
import io
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "tools"))
import check  # noqa: E402


def connect(inputs):
    """check.connect, but only over the tables the workload generated: the
    ida inputs have no star-schema parquet."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in check.TABLES:
        path = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def run_checks(inputs, checks):
    """{check name: None or failure reason}; a fresh connection per check,
    like tools/check.py, so one oracle's state cannot fail another."""
    out = {}
    for c in checks:
        out_dir, name = os.path.split(c["dir"])
        assert name == c["name"], c
        con = connect(inputs)
        failures, said = [], io.StringIO()
        try:
            with contextlib.redirect_stdout(said):
                check.run_one(con, out_dir, name, c["sql"], failures)
        finally:
            con.close()
        out[name] = " ".join(said.getvalue().split()) if failures else None
    return out


def plant_wrong(got_dir):
    """Corrupt one engine output in place: the first numeric cell of the
    first row is shifted by one. Used to show the gate catches it."""
    files = sorted(glob.glob(os.path.join(got_dir, "*.parquet")))
    con = duckdb.connect()
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    types = [str(t) for t in rel.types]
    num = next(i for i, t in enumerate(types)
               if t in ("INTEGER", "BIGINT", "DOUBLE", "FLOAT", "SMALLINT"))
    col = rel.columns[num]
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet({files!r})")
    con.execute(f'UPDATE t SET "{col}" = "{col}" + 1 WHERE rowid = 0')
    for f in files:
        os.remove(f)
    con.execute(f"COPY t TO '{os.path.join(got_dir, 'planted.parquet')}' (FORMAT PARQUET)")
    con.close()
