"""Output checks, run after the timed region.

Query results are checked by scripts/check_oracle.py itself, unedited:
it runs each query's `SparkEntry.oracleSql` in DuckDB on the same tables
and compares it with the Spark result, and each `FAIL <name>: <reason>`
line it prints is one mismatch. The cdc_stream sink state is compared
with DuckDB's last-wins reduction of the change files that were landed,
and the dedup leg's output must hold each event id exactly once.
"""
import json
import os
import re
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

FAIL = re.compile(r"^FAIL (\S+): (.*)$")
PASS = re.compile(r"^PASS (\S+) ")


def _check_shard(root, shard_dir, data_dir):
    """{name: None or reason} for the results and oracle_sql.json in one
    directory, from one check_oracle.py process."""
    with open(os.path.join(shard_dir, "oracle_sql.json")) as f:
        names = list(json.load(f))
    r = subprocess.run([sys.executable, os.path.join(root, "scripts", "check_oracle.py"),
                        shard_dir, data_dir], capture_output=True, text=True,
                       stdin=subprocess.DEVNULL)
    out = {}
    for line in r.stdout.splitlines():
        m = FAIL.match(line)
        if m:
            out[m.group(1)] = m.group(2)
        elif PASS.match(line):
            out[line.split()[1]] = None
    why = f"check_oracle.py exited with {r.returncode} before it checked this query: " \
        f"{r.stderr.strip()[-500:]}"
    return {n: out[n] if n in out else why for n in names}


def check_queries(root, results_dir, data_dir, oracle_sql, shards):
    """{name: None or reason} for every query in `oracle_sql`, whose Spark
    results are `results_dir/<name>`. The queries are split over `shards`
    directories (results moved, not copied), checked in parallel."""
    names = sorted(oracle_sql)
    dirs = []
    for i in range(min(shards, len(names))):
        d = os.path.join(results_dir, f"check{i}")
        os.makedirs(d)
        part = names[i::shards]
        for n in part:   # a missing result is left to check_oracle.py to report
            if os.path.exists(os.path.join(results_dir, n)):
                os.rename(os.path.join(results_dir, n), os.path.join(d, n))
        with open(os.path.join(d, "oracle_sql.json"), "w") as f:
            json.dump({n: oracle_sql[n] for n in part}, f)
        dirs.append(d)
    with ThreadPoolExecutor(len(dirs) or 1) as pool:
        parts = list(pool.map(lambda d: _check_shard(root, d, data_dir), dirs))
    return {n: why for part in parts for n, why in part.items()}


def _json_col(name, typ):
    v = f"a->>'{name}'"
    if typ.startswith("TIMESTAMP"):
        return f"CAST(replace(replace({v}, 'T', ' '), 'Z', '') AS TIMESTAMP) AS {name}"
    return f"CAST({v} AS {typ}) AS {name}"


def check_sink(con, data_dir, src_dir, result_dir, table, key, topic):
    """None when Spark's Sinks.sinkState equals DuckDB's last-wins over the
    change log with deletes dropped, else the reason."""
    cols = con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{data_dir}/{table}.parquet')").fetchall()
    fields = ", ".join(_json_col(c, t) for c, t, *_ in cols)
    names = ", ".join([c for c, *_ in cols] + ["ts_ms"])
    expected = f"""
        WITH log AS (
          SELECT json_extract_string(value, '$.op') AS op,
                 CAST(json_extract(value, '$.ts_ms') AS BIGINT) AS ts_ms,
                 json_extract(value, '$.after') AS a
          FROM read_json('{src_dir}/*.json', format = 'newline_delimited',
                         columns = {{topic: 'VARCHAR', value: 'VARCHAR'}})
          WHERE topic = '{topic}')
        SELECT {fields}, ts_ms FROM log WHERE op IN ('c', 'r', 'u')
        QUALIFY row_number() OVER (PARTITION BY a->>'{key}' ORDER BY ts_ms DESC) = 1"""
    got = f"SELECT {names} FROM read_parquet('{result_dir}/{table}/*.parquet')"
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE exp_{table} AS {expected}")
        con.execute(f"CREATE OR REPLACE TEMP TABLE got_{table} AS {got}")
        n_exp, n_got = (con.execute(f"SELECT count(*) FROM {t}_{table}").fetchone()[0]
                        for t in ("exp", "got"))
        extra = con.execute(f"SELECT count(*) FROM (SELECT * FROM got_{table} EXCEPT ALL "
                            f"SELECT {names} FROM exp_{table})").fetchone()[0]
        lost = con.execute(f"SELECT count(*) FROM (SELECT {names} FROM exp_{table} EXCEPT ALL "
                           f"SELECT * FROM got_{table})").fetchone()[0]
    except Exception as e:
        return f"{type(e).__name__}: {e}"
    if n_exp != n_got or extra or lost:
        return f"sink rows {n_got} vs oracle {n_exp}: {extra} unexpected, {lost} missing"
    return None


def check_dedup(con, src_dir, sink_dir):
    """None when the dedup sink holds every landed event id exactly once."""
    try:
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT event_id) "
            f"FROM read_parquet('{sink_dir}/*.parquet')").fetchone()
        landed = con.execute(
            f"SELECT count(DISTINCT event_id) FROM read_json('{src_dir}/*.json', "
            f"format = 'newline_delimited', columns = {{event_id: 'BIGINT'}})").fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT event_id FROM read_json('{src_dir}/*.json', "
            f"format = 'newline_delimited', columns = {{event_id: 'BIGINT'}}) EXCEPT "
            f"SELECT event_id FROM read_parquet('{sink_dir}/*.parquet'))").fetchone()[0]
    except Exception as e:
        return f"{type(e).__name__}: {e}"
    if n != distinct or distinct != landed or missing:
        return f"dedup emitted {n} rows, {distinct} ids; {landed} ids landed, {missing} missing"
    return None
