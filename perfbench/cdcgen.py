"""Change-feed generator for the cdc_stream workload.

Phase 1 writes a Debezium initial snapshot: every row of customer, orders
and lineitem as an `op=r` envelope. Phase 2 is an open-loop tail: change
files land on a fixed schedule whether or not the engine keeps up.

The tail's shape comes from the reference ETL where it can. The reference
polls once per cycle and appends the rows it fetched, 157 per cycle over
its five tables (BASELINE.md: 1 + 5 + 50 + 100 + 1), as plain INSERTs; it
never updates or deletes (SURVEY.md K1). So each change file is one such
cycle: CYCLE_ROWS `c` inserts of new keys, the seed choosing each row's
table and source row. The cadence is not the reference's (one cycle per
60 s): it is set by sampling, 200 files per leg in a run so that p95 has
ten samples beyond it.

The rest is synthetic and unverified; the reference's traffic has none of
it. Each change file also carries SYNTH_UPDATES updates and SYNTH_DELETES
deletes of existing keys and SYNTH_REDELIVERIES repeats of a recent change,
the at-least-once redelivery the sink is built to absorb. One of each per
file is the least that puts the sink's last-wins, delete-drop and
redelivery paths, which the output check verifies, into every tail batch
(about 26 files per 2 s trigger). The events leg has no reference stream
at all: its files hold CYCLE_ROWS new events each, stamped with the file's
due time, plus SYNTH_REDELIVERIES repeats of an event from the last
REDELIVERY_WINDOW_MS, well inside the dedup leg's 30 s watermark.

Change files are JSON lines `{"topic": ..., "value": <envelope JSON>}`;
event files are JSON lines of the events table. A file is written under a
hidden name and renamed into place, so the file source never sees half a
file.
"""
import datetime
import json
import os
import random
import time

import pyarrow.parquet as pq

SERVER = "dbserver1"
SNAPSHOT_TS_MS = 1_700_000_000_000
SNAPSHOT_TABLES = ("customer", "orders", "lineitem")
CYCLE_ROWS = 157
SYNTH_UPDATES = 1
SYNTH_DELETES = 1
SYNTH_REDELIVERIES = 1
REDELIVERY_WINDOW_MS = 3000
FIRST_NEW_EVENT = 10_000_000


def topic(table):
    return f"{SERVER}.public.{table}"


# the tables' timestamps are zone-less (TIMESTAMP_NTZ), so their JSON
# form carries no zone either, as Spark's own to_json writes it
TS_FORMAT = "%Y-%m-%dT%H:%M:%S.000"


def _ts_sql(col):
    return f"strftime({col}, '{TS_FORMAT}')"


def snapshot(con, data_dir, src_dir):
    """Write the initial snapshot with DuckDB; returns the envelope count."""
    os.makedirs(src_dir, exist_ok=True)
    total = 0
    for table in SNAPSHOT_TABLES:
        path = os.path.join(data_dir, f"{table}.parquet")
        cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()
        fields = ", ".join(
            f"'{c}', " + (_ts_sql(c) if t.startswith("TIMESTAMP") else c)
            for c, t, *_ in cols)
        out = os.path.join(src_dir, f"snapshot-{table}.json")
        con.execute(f"""
            COPY (SELECT '{topic(table)}' AS topic,
                         CAST(json_object('before', NULL, 'after', json_object({fields}),
                              'op', 'r', 'ts_ms', {SNAPSHOT_TS_MS},
                              'source', json_object('table', '{table}')) AS VARCHAR) AS value
                  FROM read_parquet('{path}'))
            TO '{out}' (FORMAT JSON)""")
        total += con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    return total


def _iso_ms(epoch_ms):
    return datetime.datetime.fromtimestamp(epoch_ms / 1000.0, datetime.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def _rows(data_dir, table, ts_cols):
    t = pq.read_table(os.path.join(data_dir, f"{table}.parquet")).to_pylist()
    for r in t:
        for c in ts_cols:
            r[c] = r[c].strftime(TS_FORMAT)
    return t


def _envelope(table, op, row, ts_ms):
    env = {"before": row if op == "d" else None, "after": None if op == "d" else row,
           "op": op, "ts_ms": ts_ms, "source": {"table": table}}
    return json.dumps({"topic": topic(table), "value": json.dumps(env, separators=(",", ":"))},
                      separators=(",", ":"))


def plan_tail(data_dir, seed, seconds, files_per_leg):
    """The tail's files in due order: dicts with name, leg ('cdc' or
    'events'), offset_ms from the tail start, and the file's text (change
    files) or events (event files)."""
    rng = random.Random(seed)
    images = {"customer": _rows(data_dir, "customer", []),
              "orders": _rows(data_dir, "orders", ["o_orderdate"])}
    keys = {"customer": "c_custkey", "orders": "o_orderkey"}
    next_key = {t: len(v) for t, v in images.items()}
    interval = seconds * 1000.0 / files_per_leg
    files, recent_cdc, recent_events = [], [], []
    seq = 0
    next_event = FIRST_NEW_EVENT

    def change(table, op):
        nonlocal seq
        seq += 1
        if op == "c":        # a new key, shaped like a source row
            row = dict(rng.choice(images[table]))
            row[keys[table]] = next_key[table]
            next_key[table] += 1
            images[table].append(row)
        elif op == "u":
            k = rng.randrange(len(images[table]))
            row = dict(images[table][k])
            if table == "customer":
                row["c_acctbal"] = round(rng.uniform(-999.99, 9999.99), 2)
            else:
                row["o_totalprice"] = round(rng.uniform(1000.0, 500000.0), 2)
            images[table][k] = row
        else:                # a delete: dropped by the sink (SMT semantics)
            row = rng.choice(images[table])
        return _envelope(table, op, row, SNAPSHOT_TS_MS + seq)

    tables = ("customer", "orders")
    for i in range(files_per_leg):
        # -- one change file: a reference poll cycle plus the synthetic changes
        lines = [change(rng.choice(tables), "c") for _ in range(CYCLE_ROWS)]
        lines += [change(rng.choice(tables), "u") for _ in range(SYNTH_UPDATES)]
        lines += [change(rng.choice(tables), "d") for _ in range(SYNTH_DELETES)]
        if recent_cdc:
            lines += rng.sample(recent_cdc, min(len(recent_cdc), SYNTH_REDELIVERIES))
        files.append({"name": f"c{i:05d}.json", "leg": "cdc", "offset_ms": i * interval,
                      "text": "\n".join(lines) + "\n"})
        recent_cdc = lines
        # -- one event file, half an interval later
        off = (i + 0.5) * interval
        ev = []
        for _ in range(CYCLE_ROWS):
            ev.append({"event_id": next_event, "ts_offset_ms": off,
                       "user_id": rng.randrange(1500),
                       "event_type": rng.choice(["click", "error", "purchase", "signup", "view"]),
                       "value": round(rng.expovariate(1 / 50.0), 2),
                       "props": json.dumps({"k": rng.randrange(100)})})
            next_event += 1
        recent_events = [e for e in recent_events if e["ts_offset_ms"] > off - REDELIVERY_WINDOW_MS]
        if recent_events:
            ev += rng.sample(recent_events, min(len(recent_events), SYNTH_REDELIVERIES))
        recent_events += ev[:CYCLE_ROWS]
        files.append({"name": f"e{i:05d}.json", "leg": "events", "offset_ms": off, "events": ev})
    files.sort(key=lambda f: f["offset_ms"])
    return files


def land(files, dirs, start_epoch_s, log):
    """Write each planned file at its due time (open loop: a late file is
    written at once, never skipped). Appends name, leg, due_ms and
    written_ms to `log`. Event timestamps are due-relative, so they are
    rendered here."""
    for f in files:
        due = start_epoch_s + f["offset_ms"] / 1000.0
        if "text" in f:
            text = f["text"]
        else:
            text = "".join(json.dumps({
                "event_id": e["event_id"],
                "ts": _iso_ms(start_epoch_s * 1000.0 + e["ts_offset_ms"]),
                "user_id": e["user_id"], "event_type": e["event_type"],
                "value": e["value"], "props": e["props"]}, separators=(",", ":")) + "\n"
                for e in f["events"])
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        d = dirs[f["leg"]]
        tmp = os.path.join(d, "." + f["name"] + ".tmp")
        with open(tmp, "w") as out:
            out.write(text)
        os.rename(tmp, os.path.join(d, f["name"]))
        log.append({"name": f["name"], "leg": f["leg"], "due_ms": due * 1000.0,
                    "written_ms": time.time() * 1000.0})
