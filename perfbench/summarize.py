#!/usr/bin/env python3
"""Summarize a traced run: self time per layer and the tracing overhead.

    python3 perfbench/summarize.py perfbench/out/<workload>-seed<n>-trace1.json \\
        [perfbench/out/<workload>-seed<n>-trace0.json]

Self time of a layer is the time inside its spans minus the time inside
spans nested in them. With an untraced run of the same workload and seed,
the overhead of tracing is each end-to-end metric of the traced run minus
the same metric of the untraced one.
"""
import json
import sys


def self_times(spans):
    """{layer: self ms}; a span's children are the spans one level deeper
    that lie inside it (spans are recorded per thread, so nesting is exact
    on the driver thread)."""
    out = {}
    for s in spans:
        own = s["end_ms"] - s["start_ms"]
        for c in spans:
            if c["depth"] == s["depth"] + 1 and c["start_ms"] >= s["start_ms"] \
                    and c["end_ms"] <= s["end_ms"]:
                own -= c["end_ms"] - c["start_ms"]
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def main(argv):
    traced = json.load(open(argv[1]))
    print(f"{traced['workload']} seed {traced['seed']}: "
          f"{traced['attempted']} operations, {len(traced['failures'])} failed")
    for f in traced["failures"]:
        print(f"  FAILED {f['op']}: {f['class']}: {f['message'][:200]}")
    print("self time per layer (spans):")
    for layer, ms in sorted(self_times(traced["spans"]).items(), key=lambda kv: -kv[1]):
        print(f"  {layer:10s} {ms / 1000.0:9.3f} s")
    print("per-layer metrics:")
    for k, v in traced["per_layer"].items():
        print(f"  {k:36s} {v:14.3f}")
    if len(argv) > 2:
        plain = json.load(open(argv[2]))
        print("tracing overhead (traced - untraced):")
        for k, v in traced["end_to_end"].items():
            if k in plain["end_to_end"] and isinstance(v, (int, float)):
                base = plain["end_to_end"][k]
                share = (v - base) / base if base else float("nan")
                print(f"  {k:20s} {v:12.3f} - {base:12.3f} = {v - base:+10.3f} ({share:+.1%})")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv)
