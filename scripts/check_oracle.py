#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare.

Usage: check_oracle.py <verify_out_dir> <sf_dir>
Reads <out>/oracle_sql.json, registers each testdata parquet as a DuckDB
view, runs each oracle SQL, and compares (rows, schema-ish, values) against
<out>/<name>/ parquet written by graft.Verify. The names are spread over
one worker process per CPU this process may use, each with its own DuckDB
connection; the PASS/FAIL lines still print in sorted name order.
"""
import json, sys, math, os, multiprocessing
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Sort on stringified cells: robust to ndarray/list cells and mixed
    # None/str/int object columns that raw sort_values would crash on.
    # Floats are keyed on a 9-significant-digit rounding, not raw repr:
    # two rows differing only in a float's last ULPs (exactly what
    # cell_eq's tolerance absorbs) must sort to the SAME position on both
    # sides, or the row-wise compare misaligns.
    def cell_key(v):
        if isinstance(v, np.ndarray): v = v.tolist()
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9e}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell_key(x) for x in v) + "]"
        return repr(v)
    key = df.apply(lambda row: tuple(cell_key(v) for v in row), axis=1) \
        if len(df) else pd.Series([], dtype=object)
    order = key.sort_values(kind="mergesort").index if len(df) else df.index
    return df.loc[order].reset_index(drop=True)

def is_nonscalar(v):
    return isinstance(v, (np.ndarray, list, tuple, dict))

def cell_eq(a, b):
    if isinstance(a, np.ndarray): a = a.tolist()
    if isinstance(b, np.ndarray): b = b.tolist()
    if a is None and b is None: return True
    # DRIVER-STRICT: the driver hashes stringified cells, so an int on
    # one side and a float on the other ("5" vs "5.0") is a mismatch
    # even though Python's 5 == 5.0. This is exactly the DuckDB
    # SUM(int)->HUGEINT->pandas-float64 trap that shipped 3 reds in r7.
    a_int = isinstance(a, (int, np.integer)) and not isinstance(a, (bool, np.bool_))
    b_int = isinstance(b, (int, np.integer)) and not isinstance(b, (bool, np.bool_))
    a_flt = isinstance(a, (float, np.floating))
    b_flt = isinstance(b, (float, np.floating))
    if (a_int and b_flt) or (a_flt and b_int):
        return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b): return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b): return True
        if pd.isna(a) != pd.isna(b): return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        a = list(a) if a is not None else None
        b = list(b) if b is not None else None
        if a is None or b is None or len(a) != len(b): return False
        return all(cell_eq(x, y) for x, y in zip(a, b))
    import decimal
    if isinstance(a, decimal.Decimal) or isinstance(b, decimal.Decimal):
        return decimal.Decimal(str(a)) == decimal.Decimal(str(b))
    if hasattr(a, "timestamp") and hasattr(b, "timestamp"):
        return a == b
    return a == b or str(a) == str(b)

con = None

def open_tables(sf_dir):
    global con
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

def check(job):
    """(passed, line) for one oracle, run on this worker's connection."""
    out_dir, name, sql = job
    # spark side FIRST: on a targeted verify (names passed to
    # graft.Verify) most names have no dump, and evaluating the
    # oracle SQL for them anyway costs minutes at sf0.1 (the BPE /
    # LSH training chains are heavy in DuckDB). Strictness for
    # dumped names is unchanged — the driver's own checker still
    # runs every oracle on full dumps.
    try:
        got = canon(pd.read_parquet(f"{out_dir}/{name}"))
    except Exception as e:
        return False, f"FAIL {name}: spark result unreadable: {e}"
    try:
        exp = canon(con.execute(sql).df())
    except Exception as e:
        return False, f"FAIL {name}: oracle SQL error: {e}"
    if list(exp.columns) != list(got.columns):
        return False, f"FAIL {name}: columns {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(exp) != len(got):
        return False, f"FAIL {name}: rows {len(got)} vs oracle {len(exp)}"
    # DRIVER-STRICT: the driver's canonicalizer (raw pandas
    # sort_values -> Categorical) crashes on non-scalar cells, so a
    # judged frame carrying an array/list/struct column has NO
    # correctness signal at all (e50_tokenize in r7). Serialize
    # list outputs to strings instead (house rule, q35_collect).
    ns = next(((side, c) for side, df_ in (("spark", got), ("oracle", exp))
               for c in df_.columns if len(df_)
               and is_nonscalar(df_[c].iloc[0])), None)
    if ns:
        return False, (f"FAIL {name}: non-scalar cells in {ns[0]} col {ns[1]} "
                       f"(driver canonicalizer would crash -> err)")
    # DRIVER-STRICT: column-level int-vs-float dtype drift fails the
    # driver hash even when every value compares equal numerically.
    dk = next((c for c in exp.columns
               if {exp[c].dtype.kind, got[c].dtype.kind} == {"i", "f"}
               or {exp[c].dtype.kind, got[c].dtype.kind} == {"u", "f"}), None)
    if dk:
        return False, (f"FAIL {name}: dtype drift col {dk}: spark={got[dk].dtype} "
                       f"oracle={exp[dk].dtype} (driver hashes '5' vs '5.0')")
    for i in range(len(exp)):
        for c in exp.columns:
            if not cell_eq(got[c].iloc[i], exp[c].iloc[i]):
                return False, (f"FAIL {name}: row {i} col {c}: "
                               f"spark={got[c].iloc[i]!r} oracle={exp[c].iloc[i]!r}")
    return True, f"PASS {name} ({len(exp)} rows)"

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    jobs = [(out_dir, name, sql) for name, sql in sorted(oracles.items())]
    workers = max(1, min(len(os.sched_getaffinity(0)), len(jobs)))
    n_pass = n_fail = 0
    with multiprocessing.get_context("fork").Pool(
            workers, initializer=open_tables, initargs=(sf_dir,)) as pool:
        for ok, line in pool.imap(check, jobs, chunksize=1):
            print(line, flush=True)
            n_pass += ok; n_fail += not ok
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
