"""Output check against the DuckDB oracle twins (`SparkEntry.oracleSql`).

The comparison and the table list are those of `scripts/strictcheck.py`,
imported from the checkout: columns compared by name, rows sorted on every
column, cells equal exactly, except doubles within 1e-12 relative error
(last-ulp summation drift).

Oracle results are pure functions of (inputs, SQL), so they are computed
once per input directory and SQL text and cached beside the inputs.
"""
import contextlib
import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
import strictcheck  # noqa: E402

TABLES = strictcheck.TABLES


def connect(sf_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{sf_dir}/{t}.parquet')")
    return con


def expected(con, sf_dir, name, sql):
    """The oracle's rows for `sql`, cached under `<sf_dir>/oracle/`."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(sf_dir, "oracle", f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df


def actual(con, out_dir):
    return con.execute(
        f"SELECT * FROM parquet_scan('{out_dir}/*.parquet')").df()


def compare(name, sdf, ddf):
    """None when the frames match, else a one-line reason. strictcheck's
    notes on ulp-level differences go to stderr, so that the last line of
    stdout stays the result."""
    with contextlib.redirect_stdout(sys.stderr):
        return strictcheck.compare(name, sdf, ddf)
