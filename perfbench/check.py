"""Output checks for the batch lanes: each lane's parquet output is
compared with the DuckDB answer of its oracle SQL over the same input
tables, exactly (columns, row count, dtypes, values), the way the
project's correctness gate compares them."""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(got, exp):
    """None when the frames match, else a one-line reason."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    if len(got) == 0:
        return "empty output"
    if [str(t) for t in got.dtypes] != [str(t) for t in exp.dtypes]:
        return f"dtypes {list(got.dtypes)} != {list(exp.dtypes)}"
    try:
        pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                      exp.reset_index(drop=True),
                                      check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + " | ".join(str(e).splitlines()[:3])
    return None


def check_lanes(data_dir, lanes_dir, oracle, tmp_dir):
    """{lane: reason or None} for every lane output under lanes_dir."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    results = {}
    for lane in sorted(oracle):
        out = os.path.join(lanes_dir, lane)
        if not glob.glob(os.path.join(out, "*.parquet")):
            results[lane] = "no output"
            continue
        got = pd.read_parquet(out)
        if oracle[lane] is None:
            results[lane] = None if len(got) else "empty output"
            continue
        try:
            exp = con.execute(oracle[lane]).fetchdf()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            results[lane] = "oracle error: " + str(e).splitlines()[0][:200]
            continue
        results[lane] = compare(got, exp)
    con.close()
    return results
