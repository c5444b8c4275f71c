"""The benchmark's own arithmetic: percentiles, due-time freshness and the
mapping from a landed change file to the micro-batch that delivered it.

Everything here is a pure function of numbers and files, so that
tests/test_metrics.py can check it without Spark.
"""
import json
import math
import os

# candidate percentiles for a tail figure, highest first
TAIL_CANDIDATES = (95, 90, 85, 80, 75, 70, 65, 60, 55, 50)


def nearest_rank(values, p):
    """The p-th percentile by nearest rank (an actual sample, no interpolation)."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    return s[max(1, math.ceil(p * len(s) / 100)) - 1]


def tail_percentile(n, candidates=TAIL_CANDIDATES, beyond=10):
    """The highest candidate percentile that has at least `beyond` samples
    above its rank among n samples, or None when even the lowest has fewer.
    With n = 200, p95 sits at rank 190 and has exactly 10 samples beyond it.
    """
    for p in sorted(candidates, reverse=True):
        if n - math.ceil(p * n / 100) >= beyond:
            return p
    return None


def tail(values, cap=95):
    """(percentile, value) of the tail figure for these samples, at most `cap`."""
    p = tail_percentile(len(values), [c for c in TAIL_CANDIDATES if c <= cap])
    if p is None:
        p = 50
    return p, nearest_rank(values, p)


def p50(values):
    """The median by nearest rank, so that it never exceeds the tail figure."""
    return nearest_rank(values, 50)


def geomean(values):
    if not values:
        raise ValueError("no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def read_source_log(source_dir):
    """Map each file name a Spark file source took to the source log offset
    (`batchId` in the log) that took it. Reads both the per-offset files
    and the `.compact` files that fold earlier offsets together.
    """
    taken = {}
    if not os.path.isdir(source_dir):
        return taken
    for entry in os.listdir(source_dir):
        if entry.startswith(".") or entry.endswith(".tmp"):
            continue
        with open(os.path.join(source_dir, entry)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # the first line is the log version, "v1"
            if line.strip():
                rec = json.loads(line)
                name = os.path.basename(rec["path"])
                taken[name] = min(rec["batchId"], taken.get(name, rec["batchId"]))
    return taken


def end_offset(offset_json):
    """The file source's end offset from a progress record's `endOffset`."""
    if offset_json is None:
        return -1
    v = json.loads(offset_json) if isinstance(offset_json, str) else offset_json
    return int(v["logOffset"]) if isinstance(v, dict) else int(v)


def batch_commits(progress, query, since_ms):
    """[(batch id, source end offset, commit epoch ms)] for one query, by
    batch id. The commit time is the trigger start plus the trigger's
    whole duration, which ends with the commit-log write. Only batches
    that started at or after `since_ms` count: an earlier query of the
    same name (the untimed warmup) has its own checkpoint, so its batch
    ids and offsets say nothing about the run's files.
    """
    out = []
    for p in progress:
        if p["query"] != query or p["start_ms"] < since_ms:
            continue
        ends = p.get("end_offsets") or [None]
        out.append((p["batch"], end_offset(ends[0]),
                    p["start_ms"] + p["duration_ms"].get("triggerExecution", 0)))
    out.sort()
    return out


def delivery_times(file_offsets, commits):
    """For each file (name -> source log offset), the commit time of the first
    batch whose end offset covers that offset; files no batch covered are
    left out.
    """
    out = {}
    for name, off in file_offsets.items():
        for _, end, commit_ms in commits:
            if end >= off:
                out[name] = commit_ms
                break
    return out


def freshness(gen_log, delivered):
    """Freshness of each landed file in ms: from the time it was *due* (its
    place in the arrival schedule) to the commit that delivered it. A late
    generator therefore adds its lateness to the figure instead of hiding
    it. Returns (freshness list, undelivered file names).
    """
    fresh, missing = [], []
    for rec in gen_log:
        if rec["name"] in delivered:
            fresh.append(delivered[rec["name"]] - rec["due_ms"])
        else:
            missing.append(rec["name"])
    return fresh, missing


def lag_files_max(gen_log, delivered):
    """Largest number of files landed but not yet delivered, sampled at each
    delivering commit."""
    commits = sorted(set(delivered.values()))
    best = 0
    for c in commits:
        best = max(best, sum(1 for r in gen_log
                             if r["written_ms"] <= c and delivered.get(r["name"], math.inf) > c))
    return best
