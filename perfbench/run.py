#!/usr/bin/env python3
"""spark-graft benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <cdc_stream|curation_cold>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
driver with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run generates its inputs from the seed,
runs one JVM on local[cpus], checks every output against DuckDB, writes
its detail to perfbench/out/ and prints one JSON line last. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

CPUS = 4
DEADLINE_S = 170          # whole run, build excluded
# tail files per leg: 200 keeps 10 samples beyond p95
FILES_PER_LEG = 200

CURATION = {
    "text": ["e4_quality", "e4_langid", "e4_tokens", "e4_tf", "e11_quality_gate", "e9_pack"],
    "dedup": ["e1_exact", "e1_simhash", "e1_jaccard", "e1_dedup_pipeline",
              "e39_minhash_est", "e79_band_sweep", "e54_incremental_dedup"],
    "similarity": ["e2_topk", "e2_lsh_topk", "e56_batch_ann"],
    "tokenizer": ["e113_bpe_train", "e115_bpe_apply"],
    "multimodal": ["e6_frame_sample", "e120_phash_buckets"],
}
# input scale per workload: (sf of the generated tables, embedding rows or
# None for the sf default)
SCALE = {"cdc_stream": (0.03, None), "curation_cold": (0.01, 256)}

END_TO_END = ["setup_s", "latency_ms", "tail_ms", "throughput_per_s"]
UNITS = {"setup_s": "s", "latency_ms": "ms", "tail_ms": "ms", "throughput_per_s": "1/s"}
PER_LAYER = [
    ("streaming.latest_offset_ms_p50", "ms"), ("streaming.planning_ms_p50", "ms"),
    ("streaming.add_batch_ms_p50", "ms"), ("streaming.wal_commit_ms_p50", "ms"),
    ("streaming.commit_offsets_ms_p50", "ms"), ("streaming.trigger_ms_p50", "ms"),
    ("streaming.batches", "count"), ("streaming.rows_per_batch_p50", "count"),
    ("sources.lag_files_max", "count"), ("gen.late_ms_max", "ms"),
    ("state.commit_ms_p50", "ms"), ("state.rows_total", "count"),
    ("state.memory_bytes", "bytes"), ("state.rows_dropped_by_watermark", "count"),
    ("state.fresh_p50_ms", "ms"), ("state.fresh_p95_ms", "ms"),
    ("cdc.unwrap_rows_per_s", "1/s"), ("sinks.batch_write_ms_p50", "ms"),
    ("sinks.upsert_rows_per_s", "1/s"), ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("planner.analysis_ms", "ms"), ("planner.optimizer_ms", "ms"),
    ("planner.physical_ms", "ms"), ("codegen.compile_ms", "ms"), ("codegen.classes", "count"),
    ("exec.scan_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("exec.busy_ratio", "ratio"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.sched_wait_ms", "ms"), ("queries.build_ms", "ms"),
    ("stage.dirs_built", "count"), ("stage.bytes_written", "bytes"),
    ("curation.text_s", "s"), ("curation.dedup_s", "s"), ("curation.similarity_s", "s"),
    ("curation.tokenizer_s", "s"), ("curation.multimodal_s", "s"),
    ("jvm.heap_peak_mb", "MB"), ("jvm.gc_ms", "ms")]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # fall back to the jar directory the engine's own build names
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    die("no Spark jars: set SPARK_HOME")


def build():
    """Compile engine + driver once per source state; returns the classpath."""
    srcs = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            srcs += [os.path.join(d, f) for f in fs]
    srcs += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for p in sorted(srcs):
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    target = os.path.join(HERE, "target")
    stamp, cp = os.path.join(target, "build.stamp"), os.path.join(target, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp) and open(stamp).read() == digest:
        return open(cp).read().split("\n")
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(target, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "writeClasspath"], cwd=HERE, env=env, stdout=log,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp):
        die(f"build failed, see {os.path.join(target, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp).read().split("\n")


# ---------------------------------------------------------------- JVM

def launch_jvm(classpath, run_dir, work, args):
    """Start the JVM; returns (process, log file, launch epoch ms)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    launched_ms = int(time.time() * 1000)
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"] + \
        [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS] + \
        ["-cp", ":".join(classpath), "perfbench.Main",
         "--launched-ms", str(launched_ms)] + args
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    return proc, log, launched_ms


def wait_jvm(proc, log, deadline):
    """Exit code of the JVM, or None when it had to be killed at the deadline."""
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    log.close()
    return rc


# ---------------------------------------------------------------- workloads

def query_metrics(res):
    """Each curation query is one cold sample of a different job, not a
    draw from one distribution, so its typical latency is the geometric
    mean and its tail the slowest query (a median of 22 such samples
    jumped between neighbouring queries by a fifth from run to run)."""
    lat = [ms for _, ms in res["latencies"]]
    if not lat:
        return {}
    return {"latency_ms": metrics.geomean(lat), "tail_ms": max(lat),
            "throughput_per_s": len(lat) / res["elapsed_s"]}


def check_queries(res, data_dir):
    """Oracle compare of every query that ran, by scripts/check_oracle.py in
    four processes (the JVM has exited, so the cores are free)."""
    import checks
    failed_to_run = {f["op"] for f in res["failures"]}   # their cause is recorded
    oracle = {n: res["oracle_sql"][n] for n in res["checked"] if n not in failed_to_run}
    whys = checks.check_queries(ROOT, res["results_dir"], data_dir, oracle, CPUS)
    return [{"op": f"check {n}", "class": "OutputMismatch", "message": why}
            for n, why in sorted(whys.items()) if why]


def run_curation(a, classpath, run_dir, data_dir, work, deadline):
    names = [n for qs in CURATION.values() for n in qs]
    t0 = time.time()
    proc, log, _ = launch_jvm(classpath, run_dir, work, jvm_args(a, data_dir, work, names))
    rc = wait_jvm(proc, log, deadline)
    jvm_s = time.time() - t0
    res = load_result(rc, run_dir, work)
    res["phases"] = {"jvm_s": jvm_s}
    check_fails = check_queries(res, data_dir)
    e2e = query_metrics(res)
    e2e["setup_s"] = res["setup_ms"] / 1000.0
    e2e["curation_s"] = res["elapsed_s"]
    attempted = res["attempted"] + len(names)
    return res, e2e, attempted, res["failures"] + check_fails


def run_cdc(a, classpath, run_dir, data_dir, work, deadline):
    import duckdb
    import cdcgen
    import checks
    cdc_src, ev_src = os.path.join(work, "cdc_src"), os.path.join(work, "events_src")
    os.makedirs(ev_src, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    snapshot_rows = cdcgen.snapshot(con, data_dir, cdc_src)
    plan = cdcgen.plan_tail(data_dir, a.seed, a.seconds, FILES_PER_LEG)
    t0 = time.time()
    proc, log, launched_ms = launch_jvm(classpath, run_dir, work, jvm_args(a, data_dir, work, []))
    gen_log = []

    def generator():
        ready = os.path.join(work, "tail_ready")
        while not os.path.exists(ready):
            if proc.poll() is not None or time.time() > deadline:
                return
            time.sleep(0.005)
        cdcgen.land(plan, {"cdc": cdc_src, "events": ev_src}, time.time() + 0.2, gen_log)
        with open(os.path.join(work, "tail_done"), "w") as f:
            f.write(str(len(gen_log)))

    t = threading.Thread(target=generator, daemon=True)
    t.start()
    rc = wait_jvm(proc, log, deadline)
    t.join()
    jvm_s = time.time() - t0
    res = load_result(rc, run_dir, work)
    res["phases"] = {"jvm_s": jvm_s}
    res["begin_ms"] = launched_ms + res["setup_ms"]   # the warmup's batches come before

    fails = list(res["failures"])
    for table, key in (("customer", "c_custkey"), ("orders", "o_orderkey")):
        why = checks.check_sink(con, data_dir, cdc_src, os.path.join(work, "results"),
                                table, key, cdcgen.topic(table))
        if why:
            fails.append({"op": f"check sink {table}", "class": "OutputMismatch", "message": why})
    why = checks.check_dedup(con, ev_src, os.path.join(work, "dedup_sink"))
    if why:
        fails.append({"op": "check dedup", "class": "OutputMismatch", "message": why})

    # freshness: due time -> commit of the batch that delivered the file
    prog = res["progress"]
    legs = {}
    for leg, queries, ckpts in (
            ("cdc", ["graft-customer", "graft-orders"],
             [os.path.join(work, "ckpt", t) for t in ("customer", "orders")]),
            ("events", ["graft-dedup"], [os.path.join(work, "dedup_ckpt")])):
        log_leg = [r for r in gen_log if r["leg"] == leg]
        per_query = [metrics.delivery_times(
            metrics.read_source_log(os.path.join(c, "sources", "0")),
            metrics.batch_commits(prog, q, res["begin_ms"])) for q, c in zip(queries, ckpts)]
        # a change file is fresh once every route has committed it
        delivered = {r["name"]: max(d[r["name"]] for d in per_query)
                     for r in log_leg if all(r["name"] in d for d in per_query)}
        fresh, missing = metrics.freshness(log_leg, delivered)
        for name in missing:
            fails.append({"op": f"deliver {name}", "class": "Undelivered",
                          "message": "no committed batch took this file"})
        legs[leg] = {"fresh": fresh, "log": log_leg, "delivered": delivered}
    cdc_fresh = legs["cdc"]["fresh"]
    e2e = {"setup_s": res["setup_ms"] / 1000.0,
           "throughput_per_s": snapshot_rows / res["snapshot_s"],
           "snapshot_rows": snapshot_rows}
    if cdc_fresh:
        p, tail_v = metrics.tail(cdc_fresh)
        e2e.update({"latency_ms": metrics.p50(cdc_fresh), "tail_ms": tail_v,
                    "tail_percentile": p})
    ev_fresh = legs["events"]["fresh"]
    if ev_fresh:
        e2e["dedup_fresh_p50_ms"] = metrics.p50(ev_fresh)
        e2e["dedup_fresh_tail_ms"] = metrics.tail(ev_fresh)[1]
    res["legs"] = legs
    res["gen_log"] = gen_log
    sink_files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(work, "sink"))
                  for f in fs if f.endswith(".parquet")]
    res["sink_stats"] = {
        "files": len(sink_files), "bytes": sum(os.path.getsize(f) for f in sink_files),
        "rows": con.execute(f"SELECT count(*) FROM read_parquet('{work}/sink/*/*.parquet')")
        .fetchone()[0]}
    attempted = len(gen_log) + 3 + 2   # landed files, three checks, two snapshot drains
    return res, e2e, attempted, fails


def jvm_args(a, data_dir, work, names):
    return ["--workload", a.workload, "--data", data_dir, "--work", work,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(CPUS), "--out", os.path.join(work, "result.json"),
            "--queries", ",".join(names)]


def load_result(rc, run_dir, work):
    path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(path):
        kept = run_dir + "-jvm.log"
        shutil.copy(os.path.join(run_dir, "jvm.log"), kept)
        die(f"JVM exited with {rc}; log: {kept}", 1)
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- per-layer

def per_layer(a, res):
    c = res.get("counters", {})
    out = {name: 0.0 for name, _ in PER_LAYER}
    prog = [p for p in res.get("progress", []) if p["start_ms"] >= res.get("begin_ms", 0)]
    batches = [p for p in prog if p["start_ms"] >= res.get("tail_start_ms", 0)]
    cdc_b = [p for p in batches if p["query"] != "graft-dedup"]

    def p50(xs):
        return metrics.p50(xs) if xs else 0.0
    if batches:
        for key, name in (("latestOffset", "latest_offset"), ("queryPlanning", "planning"),
                          ("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                          ("commitOffsets", "commit_offsets"), ("triggerExecution", "trigger")):
            out[f"streaming.{name}_ms_p50"] = p50(
                [p["duration_ms"][key] for p in batches if key in p["duration_ms"]])
        out["streaming.batches"] = len(batches)
        out["streaming.rows_per_batch_p50"] = p50([p["rows"] for p in batches if p["rows"] > 0])
        state = [s for p in batches for s in p["state"]]
        if state:
            out["state.commit_ms_p50"] = p50([s["commit_ms"] for s in state])
            out["state.rows_total"] = max(s["rows_total"] for s in state)
            out["state.memory_bytes"] = max(s["memory_bytes"] for s in state)
            out["state.rows_dropped_by_watermark"] = sum(s["dropped_by_watermark"] for s in state)
    legs = res.get("legs")
    if legs:
        out["sources.lag_files_max"] = max(
            metrics.lag_files_max(l["log"], l["delivered"]) for l in legs.values())
        out["gen.late_ms_max"] = max((r["written_ms"] - r["due_ms"] for r in res["gen_log"]),
                                     default=0.0)
        ev = legs["events"]["fresh"]
        if ev:
            out["state.fresh_p50_ms"] = metrics.p50(ev)
            out["state.fresh_p95_ms"] = metrics.tail(ev)[1]
    u = res.get("unwrap") or {}
    if u.get("seconds"):
        out["cdc.unwrap_rows_per_s"] = u["rows"] / u["seconds"]
    sink = res.get("sink_stats")
    if sink:
        # the keyed sink runs inside foreachBatch, i.e. inside addBatch
        adds = [p["duration_ms"].get("addBatch", 0) for p in prog if p["query"] != "graft-dedup"]
        out["sinks.batch_write_ms_p50"] = p50(
            [p["duration_ms"].get("addBatch", 0) for p in cdc_b])
        out["sinks.upsert_rows_per_s"] = sink["rows"] / max(1e-9, sum(adds) / 1000.0)
        out["sinks.bytes_written"] = sink["bytes"]
        out["sinks.files_written"] = sink["files"]
    if c:
        # per operation: a timed query, or a micro-batch (snapshot and tail)
        ops = len(res.get("latencies", [])) or max(1, len(prog))
        qe = max(1.0, c.get("qe", 0.0))
        out["planner.analysis_ms"] = c["analysis"] / qe
        out["planner.optimizer_ms"] = c["optimization"] / qe
        out["planner.physical_ms"] = c["planning"] / qe
        out["codegen.compile_ms"] = c["compile_ms"]
        out["codegen.classes"] = c["compiles"]
        for k in ("scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "gc_ms", "jobs", "stages", "tasks", "sched_wait_ms"):
            out[f"exec.{k}"] = c[k] / ops
        out["exec.task_cpu_ms"] = c["task_cpu_ns"] / 1e6 / ops
        out["exec.busy_ratio"] = c["task_run_ms"] / max(1.0, c["wall_ms"] * CPUS)
        out["jvm.heap_peak_mb"] = c["heap_peak_mb"]
        out["jvm.gc_ms"] = c["jvm_gc_ms"]
    if res.get("build_ms"):
        out["queries.build_ms"] = metrics.p50(res["build_ms"])
    st = res.get("stage") or {}
    out["stage.dirs_built"] = st.get("dirs_built", 0)
    out["stage.bytes_written"] = st.get("bytes_written", 0)
    if a.workload == "curation_cold":
        cat = {n: k for k, qs in CURATION.items() for n in qs}
        for n, ms in res["latencies"]:
            out[f"curation.{cat[n]}_s"] += ms / 1000.0
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cdc_stream", "curation_cold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "scripts", "check_oracle.py")):
        die("engine sources (src/main/scala/graft, scripts/check_oracle.py) not found; "
            "run from the root of a spark-graft checkout")
    classpath = build()
    deadline = time.time() + DEADLINE_S
    out_dir = os.path.join(HERE, "out")
    run_dir = os.path.join(out_dir, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    phases = {}
    try:
        import gen
        t0 = time.time()
        gen.generate(data_dir, a.seed, *SCALE[a.workload])
        phases["generate_s"] = time.time() - t0
        runner = {"curation_cold": run_curation, "cdc_stream": run_cdc}
        res, e2e, attempted, fails = runner[a.workload](a, classpath, run_dir, data_dir, work,
                                                        deadline)
        phases.update(res["phases"])
        phases["run_s"] = time.time() - t0
        layer = per_layer(a, res)
        missing = [m for m in END_TO_END if m not in e2e]
        if missing:
            die(f"no measurement for {missing}; failures: {fails[:5]}", 1)
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "end_to_end": e2e, "per_layer": layer, "failures": fails, "phases": phases,
                  "latencies": res.get("latencies"),
                  "attempted": attempted, "spans": res.get("spans", [])}
        with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(detail, f, indent=1)
        if fails:
            print(f"perfbench: {len(fails)} failed operations:", file=sys.stderr)
            for f_ in fails[:20]:
                print(f"  {f_['op']}: {f_['class']}: {f_['message'][:300]}", file=sys.stderr)
        if a.trace:
            m = {name: {"value": layer[name], "unit": unit} for name, unit in PER_LAYER}
        else:
            m = {name: {"value": e2e[name], "unit": UNITS[name]} for name in END_TO_END}
        print(json.dumps({"correct": not fails, "attempted": attempted, "failed": len(fails),
                          "metrics": m}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
