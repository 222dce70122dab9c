"""Output check against the DuckDB oracle.

A query's output and its oracle's result are compared as the repository's
verify check (.claude/skills/verify/check.py) compares them: columns sorted
by name, the same column names and row count, and every row rendered as
text with floats at 6 significant digits and missing values as NULL. Rows
are compared as a multiset: their rendered lines are sorted before hashing.
"""

import glob
import hashlib
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def render_cell(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    if v is None:
        return "NULL"
    return str(v)


def digest(df):
    """Canonical summary of a pandas DataFrame: sorted column names, row
    count, and the md5 of its sorted rendered rows."""
    cols = sorted(df.columns)
    lines = sorted("|".join(render_cell(v) for v in row)
                   for row in df[cols].itertuples(index=False, name=None))
    return {"columns": cols, "rows": len(lines),
            "md5": hashlib.md5("\n".join(lines).encode()).hexdigest()}


def compare(engine, oracle):
    """None when the two digests agree, else what differs."""
    if engine["columns"] != oracle["columns"]:
        return f"columns {engine['columns']} vs oracle {oracle['columns']}"
    if engine["rows"] != oracle["rows"]:
        return f"{engine['rows']} rows vs oracle {oracle['rows']}"
    if engine["md5"] != oracle["md5"]:
        return f"row contents differ ({engine['rows']} rows)"
    return None


def connect(fixture, temp_dir):
    """A DuckDB connection with one view per fixture table."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{temp_dir}'")
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET max_temp_directory_size='4GB'")
    for t in TABLES:
        p = os.path.join(fixture, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def oracle_digest(con, sql):
    return digest(con.execute(sql).fetchdf())


def engine_digest(out_dir):
    """Digest of the parquet parts one query wrote."""
    import pandas as pd
    parts = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not parts:
        raise RuntimeError(f"no output parts under {out_dir}")
    frames = [pd.read_parquet(p) for p in parts]
    return digest(pd.concat(frames, ignore_index=True))
