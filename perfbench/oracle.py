"""Compares the SparkEntry queries' parquet results with their DuckDB oracle
SQL over the same tables: columns sorted by name, rows sorted, exact
values."""
import glob
import json
import os


def compare(results_dir, data_dir):
    """Returns {query: None if it matches, else the reason}."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name, sql in sorted(oracle.items()):
        try:
            files = os.path.join(results_dir, name, "*.parquet")
            if not glob.glob(files):
                raise RuntimeError("no result written")
            got = con.sql(f"SELECT * FROM '{files}'").df()
            exp = con.sql(sql).df()
            cols = sorted(got.columns)
            if cols != sorted(exp.columns):
                raise RuntimeError(f"columns {cols} != {sorted(exp.columns)}")
            got = got[cols].sort_values(by=cols).reset_index(drop=True)
            exp = exp[cols].sort_values(by=cols).reset_index(drop=True)
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
            out[name] = None
        except Exception as e:  # a mismatch of any kind counts as wrong
            out[name] = str(e).splitlines()[0][:200] if str(e) else type(e).__name__
    return out
