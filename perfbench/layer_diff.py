#!/usr/bin/env python3
"""Per-layer diff of two sets of traced benchmark results.

Usage:
    python3 perfbench/layer_diff.py --a <result.json or dir>... --b <result.json or dir>...

Each side is a set of result files written by run.py (a directory means
every *.json in it, such as .bench_build/results/); only traced runs
(--trace 1) count. The runs of one side must all measure the same code
(the result's env.code_digest) with the same --seconds; a side that mixes
them is refused, as a results directory keeps every run made in its
checkout. For every workload present on both sides
the tool prints, per layer, each metric's median on A and on B and the
delta, then the self time of every layer from the spans (a span's duration
minus what its child spans cover). A delta no larger than the run-to-run
spread of either side (the distance between quartiles with four or more
runs, the range with two or three) is labelled noise; with a single run
per side the spread is unknown and the label says so. Last, it names the
layer whose self time moved most outside the noise.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(paths):
    runs = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            try:
                r = json.load(open(f))
            except (OSError, ValueError):
                continue
            if r.get("trace") and r.get("layers"):
                runs.append(r)
    return runs


def spread(xs):
    if len(xs) >= 4:
        q = statistics.quantiles(xs, n=4)
        return q[2] - q[0]
    if len(xs) >= 2:
        return max(xs) - min(xs)
    return None


def row(name, a, b):
    ma, mb = statistics.median(a), statistics.median(b)
    d = mb - ma
    sa, sb = spread(a), spread(b)
    if sa is None or sb is None:
        label = "spread unknown (1 run)"
        moved = d != 0
    else:
        noise = max(sa, sb)
        moved = abs(d) > noise
        label = "moved" if moved else "noise"
    rel = f"{d / ma:+.1%}" if ma else "   n/a"
    print(f"  {name:38s} {ma:14.3f} {mb:14.3f} {d:+14.3f} {rel:>8s}  {label}")
    return d, moved


def self_ms(run):
    return run.get("detail", {}).get("trace", {}).get("self_ms", {})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", nargs="+", required=True)
    ap.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args()
    A, B = load(args.a), load(args.b)
    for side, runs in (("A", A), ("B", B)):
        kinds = {(r["env"].get("code_digest"), r["seconds"]) for r in runs}
        if len(kinds) > 1:
            sys.exit(f"layer_diff: side {side} mixes runs of different code or --seconds "
                     f"(code digest, seconds): {sorted(kinds, key=str)}")
    for w in sorted({r["workload"] for r in A} & {r["workload"] for r in B}):
        ra = [r for r in A if r["workload"] == w]
        rb = [r for r in B if r["workload"] == w]
        print(f"\n== {w}: {len(ra)} traced run(s) on A, {len(rb)} on B")
        print(f"  {'metric':38s} {'median A':>14s} {'median B':>14s} {'delta':>14s} {'rel':>8s}")
        print("  -- end to end (traced runs)")
        for m in sorted(set(ra[0]["e2e"]) & set(rb[0]["e2e"])):
            row(m, [r["e2e"][m] for r in ra], [r["e2e"][m] for r in rb])
        layers = sorted(set(ra[0]["layers"]) & set(rb[0]["layers"]))
        for layer in sorted({m.split(".")[0] for m in layers}):
            print(f"  -- {layer}")
            for m in [m for m in layers if m.split(".")[0] == layer]:
                row(m, [r["layers"][m] for r in ra], [r["layers"][m] for r in rb])
        print("  -- self time per layer, ms")
        moved = []
        for layer in sorted(set(self_ms(ra[0])) | set(self_ms(rb[0]))):
            d, real = row(layer, [self_ms(r).get(layer, 0.0) for r in ra],
                          [self_ms(r).get(layer, 0.0) for r in rb])
            if real:
                moved.append((abs(d), layer, d))
        if moved:
            _, layer, d = max(moved)
            print(f"  => the layer whose self time moved most: {layer} ({d:+.1f} ms)")
        else:
            print("  => no layer's self time moved outside the noise")


if __name__ == "__main__":
    main()
