#!/usr/bin/env python3
"""Diff two bench_queries.json artifacts (wall/cpu per query, totals).

Usage: bench_diff.py BEFORE.json AFTER.json [N]
Prints totals and the N biggest wall deltas both ways (default 20).
When both artifacts carry the build columns (`build_sec`, `build_jobs`
in `detail_cols`), also prints build totals (seconds, jobs, queries that
start a job while building) and the N largest build-job deltas.

BEFORE and AFTER may each name several artifacts of repeated runs,
joined with commas (`b1.json,b2.json,...`). Every per-query value is
then the median over the runs that side has, and a per-query table
follows: wall median and quartiles of BEFORE, wall median of AFTER
(flagged `ABOVE` when it exceeds BEFORE's upper quartile), cpu medians.
"""
import json
import statistics
import sys


def load_one(p):
    with open(p) as f:
        return json.load(f)


def quartiles(xs):
    """(q1, median, q3) by linear interpolation (numpy's default)."""
    xs = sorted(xs)

    def at(f):
        i = f * (len(xs) - 1)
        lo = int(i)
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)
    return at(0.25), at(0.5), at(0.75)


def load(arg):
    """One artifact, or the per-query medians of several (see usage);
    the raw runs ride along under `runs`."""
    arts = [load_one(p) for p in arg.split(",")]
    if len(arts) == 1:
        return dict(arts[0], runs=arts)
    names = set.intersection(*(set(a["queries"]) for a in arts))
    width = min(len(a["queries"][k]) for a in arts for k in names)
    queries = {}
    for k in names:
        rows = [a["queries"][k] for a in arts]
        if any(r[0] < 0 for r in rows):
            queries[k] = [-1.0] * width
        else:
            queries[k] = [statistics.median(r[i] for r in rows)
                          for i in range(width)]
    return dict(arts[0], queries=queries, runs=arts,
                load_avg=statistics.median(a.get("load_avg", 0) for a in arts))


def spread_section(a, b, common):
    if len(a["runs"]) < 2:
        return
    print(f"\nper query over {len(a['runs'])} -> {len(b['runs'])} runs "
          "(wall ms: before median [q1, q3] -> after median; cpu s medians)")
    for k in common:
        wa = [r["queries"][k][0] for r in a["runs"] if r["queries"][k][0] >= 0]
        wb = [r["queries"][k][0] for r in b["runs"] if r["queries"][k][0] >= 0]
        if not wa or not wb:
            print(f"{k:34s} failed in some run")
            continue
        q1, med, q3 = quartiles(wa)
        mb = statistics.median(wb)
        flag = "  ABOVE" if mb > q3 else ""
        print(f"{k:34s} {med * 1e3:6.0f} [{q1 * 1e3:5.0f}, {q3 * 1e3:5.0f}]"
              f" -> {mb * 1e3:6.0f} {pct(mb, med):>9s}   "
              f"cpu {a['queries'][k][1]:5.2f} -> {b['queries'][k][1]:5.2f}{flag}")


def pct(new, old):
    return f"({(new - old) / old * 100:+.1f}%)" if old else "(n/a)"


def col_index(art, name):
    cols = art.get("detail_cols", [])
    return cols.index(name) if name in cols else None


def build_section(a, b, common, n):
    ia, ib = col_index(a, "build_sec"), col_index(b, "build_sec")
    ja, jb = col_index(a, "build_jobs"), col_index(b, "build_jobs")
    if None in (ia, ib, ja, jb):
        return
    qa, qb = a["queries"], b["queries"]

    def total(q, i, keys):
        return sum(q[k][i] for k in keys if q[k][i] >= 0)

    sa, sb = total(qa, ia, common), total(qb, ib, common)
    na, nb = total(qa, ja, common), total(qb, jb, common)
    ka = sum(1 for k in common if qa[k][ja] > 0)
    kb = sum(1 for k in common if qb[k][jb] > 0)
    print(f"\nbuild s:    {sa:8.1f} -> {sb:8.1f}  {pct(sb, sa)}")
    print(f"build jobs: {na:8.0f} -> {nb:8.0f}  {pct(nb, na)}")
    print(f"queries with build jobs: {ka} -> {kb}")
    moved = [k for k in common if qa[k][ja] != qb[k][jb]]
    moved.sort(key=lambda k: (qb[k][jb] - qa[k][ja], k))
    if not moved:
        return
    print(f"\n{'query':34s} {'build jobs':>11s} {'build s':>13s}")
    for k in moved[:n] + [k for k in moved[-n:] if k not in moved[:n]]:
        print(f"{k:34s} {qa[k][ja]:4.0f}->{qb[k][jb]:<4.0f} "
              f"{qa[k][ia]:5.2f}->{qb[k][ib]:5.2f}")


def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    wa = sum(qa[k][0] for k in common)
    wb = sum(qb[k][0] for k in common)
    ca = sum(qa[k][1] for k in common)
    cb = sum(qb[k][1] for k in common)
    print(f"queries: {len(common)} common "
          f"(+{len(set(qb)-set(qa))} new, -{len(set(qa)-set(qb))} gone)")
    print(f"wall: {wa:8.1f} -> {wb:8.1f}  {pct(wb, wa)}")
    print(f"cpu:  {ca:8.1f} -> {cb:8.1f}  {pct(cb, ca)}")
    print(f"load@end: {a.get('load_avg')} -> {b.get('load_avg')}")
    deltas = sorted(common, key=lambda k: qb[k][0] - qa[k][0])
    # head+tail only when they don't overlap; otherwise each row once
    shown = deltas if len(deltas) <= 2 * n else None

    def row(k):
        print(f"{k:34s} {qa[k][0]:5.2f}->{qb[k][0]:5.2f} "
              f"{qa[k][1]:5.1f}->{qb[k][1]:5.1f}")

    print(f"\n{'query':34s} {'wall':>13s} {'cpu':>13s}")
    if shown is not None:
        for k in shown:
            row(k)
    else:
        for k in deltas[:n]:
            row(k)
        print("  ...")
        for k in deltas[-n:]:
            row(k)
    build_section(a, b, common, n)
    spread_section(a, b, common)


if __name__ == "__main__":
    main()
