"""DuckDB oracle gate: each warm-up result against `SparkEntry.oracleSql`.

The comparison rules are those of `tools/check_oracle.py`: the same column
set, compared with columns sorted by name; the same row count; rows in the
order both sides returned them (every oracle query ends in a total ORDER
BY); dtypes must agree; floats compare exactly, NaN equal to NaN;
timestamps compare at nanosecond resolution whatever their storage unit;
anything else compares as text.
"""
import glob
import os
import threading
import time

import duckdb
import numpy as np
import pandas as pd


def _same_column(a, b):
    ka, kb = a.dtype.kind, b.dtype.kind
    if ka == "M" and kb == "M":
        return a.astype("datetime64[ns]").equals(b.astype("datetime64[ns]"))
    if ka != kb:
        return False
    if ka == "f":
        return np.allclose(a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True)
    return a.astype(str).equals(b.astype(str))


def compare(got, exp):
    """None when the frames agree, else a one-line reason."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    cols = sorted(exp.columns)
    got = got[cols].reset_index(drop=True)
    exp = exp[cols].reset_index(drop=True)
    bad = []
    for c in cols:
        try:
            same, why = _same_column(got[c], exp[c]), ""
        except Exception as e:  # an uncomparable pair is a mismatch
            same, why = False, f" ({e})"
        if not same:
            bad.append(f"{c} [{got[c].dtype} vs {exp[c].dtype}]{why}")
    return f"value mismatch in {', '.join(bad)}" if bad else None


def check(data_dir, results_dir, names, oracle_sql, deadline, spill_dir):
    """name -> None (pass) or the reason it failed, for each name. An
    oracle query still running at `deadline` (epoch s) is interrupted and
    its op counts as failed. DuckDB spills to `spill_dir`."""
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{spill_dir}'")
        for p in glob.glob(os.path.join(data_dir, "*.parquet")):
            t = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        verdicts = {}
        for name in names:
            if name not in oracle_sql:
                verdicts[name] = "no oracle SQL"
                continue
            path = os.path.join(results_dir, name)
            if not os.path.isdir(path):
                verdicts[name] = "no result (the op failed)"
                continue
            timer = threading.Timer(max(0.0, deadline - time.time()), con.interrupt)
            timer.start()
            try:
                exp = con.execute(oracle_sql[name]).fetchdf()
            except Exception as e:
                verdicts[name] = ("oracle SQL timed out" if time.time() >= deadline
                                  else f"oracle SQL error: {e}")
                continue
            finally:
                timer.cancel()
            verdicts[name] = compare(pd.read_parquet(path), exp)
        return verdicts
    finally:
        con.close()
