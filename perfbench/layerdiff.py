#!/usr/bin/env python3
"""Compare two traced runs layer by layer:

    python3 perfbench/layerdiff.py <trace A> <trace B>

Takes two trace files written by `run.py --trace 1` (under
.bench_build/perfbench/traces/), recomputes each one's per-layer
metrics and the self time of every span name in the traced phase, and
prints both side by side with B's change against A.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import lib  # noqa: E402


def load(path):
    with open(path) as f:
        t = json.load(f)
    r = t["result"]
    layers = lib.per_layer(r, t, r.get("stage_names", []))
    phase = "open" if r["workload"] == "gateway_lookup" else "warm"
    selfs = {f"self_ms.{k}": v for k, v in
             lib.self_time_by_name(t["spans"], phase).items()}
    if r["workload"] == "gateway_lookup":
        selfs.update({f"self_ms.{k}": v for k, v in
                      lib.self_time_by_name(t["spans"], "replay").items()})
    return r["workload"], t.get("seed"), dict(layers, **selfs)


def diff_rows(a, b):
    """(name, a, b, change) for every metric in either run; change is
    b/a - 1, or None when a is 0."""
    rows = []
    for k in sorted(set(a) | set(b)):
        x, y = a.get(k, 0.0), b.get(k, 0.0)
        rows.append((k, x, y, (y / x - 1.0) if x else None))
    return rows


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    wa, sa, a = load(argv[1])
    wb, sb, b = load(argv[2])
    if wa != wb:
        print(f"different workloads: {wa} vs {wb}", file=sys.stderr)
        return 2
    print(f"workload {wa}: A seed {sa}, B seed {sb}")
    print(f"{'metric':48s} {'A':>14s} {'B':>14s} {'B/A-1':>9s}")
    for k, x, y, c in diff_rows(a, b):
        ch = f"{c * 100:+8.1f}%" if c is not None else f"{'-':>9s}"
        print(f"{k:48s} {x:14.4f} {y:14.4f} {ch}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
