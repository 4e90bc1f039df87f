#!/usr/bin/env python3
"""Per-query bench-drift archaeology over BENCH_r*.json (VERDICT r15 #9).

Prints, for a pair of round artifacts (default: the two newest), every
query's a->b seconds and ratio, suite totals, and the host-state fields
(calib_sec / calib_io_sec / contended / host_cpu) that say whether a ratio
is adjudicable at all. Cross-SESSION ratios on this host are NOT evidence
of a code change (round 15: byte-identical code measured 17.6s vs 24.5s
in different sessions) — when a ratio here looks real, adjudicate with the
interleaved same-host harness: `sbt "runMain graft.BenchAB <old-sha>"`.

Usage:
  tools/benchdiff.py               # newest two rounds
  tools/benchdiff.py 14 15         # specific rounds
  tools/benchdiff.py --min-ratio 1.2   # only show rows drifting >=20%
"""
import argparse
import glob
import json
import os
import re
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    p = d.get("parsed") if isinstance(d, dict) else None
    if not isinstance(p, dict):
        sys.exit(f"{path}: no parsed record (driver capture failed?)")
    return p


def rounds_available(root):
    rs = []
    for f in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", f)
        if m:
            rs.append(int(m.group(1)))
    return sorted(rs)


def fmt(v):
    return f"{v:7.3f}" if isinstance(v, (int, float)) else "   null"


def section(name, qa, qb, min_ratio):
    qa, qb = qa or {}, qb or {}
    keys = sorted(set(qa) | set(qb))
    if not keys:
        return
    print(f"\n== {name} ==")
    print(f"{'query':<28} {'a':>7} {'b':>7} {'ratio':>6}")
    for k in keys:
        a, b = qa.get(k), qb.get(k)
        ratio = (b / a) if isinstance(a, (int, float)) and a and \
            isinstance(b, (int, float)) else None
        if min_ratio and (ratio is None or
                          max(ratio, 1 / ratio if ratio else 0) < min_ratio):
            continue
        rs = f"{ratio:6.2f}" if ratio is not None else "  null"
        flag = " <<" if ratio is not None and max(ratio, 1 / ratio) >= 1.25 \
            else ""
        print(f"{k:<28} {fmt(a)} {fmt(b)} {rs}{flag}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a", nargs="?", type=int, help="round number (a side)")
    ap.add_argument("b", nargs="?", type=int, help="round number (b side)")
    ap.add_argument("--min-ratio", type=float, default=0.0,
                    help="only print queries whose ratio (either way) "
                         "exceeds this")
    ap.add_argument("--root", default=os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    args = ap.parse_args()
    rs = rounds_available(args.root)
    if not rs:
        sys.exit("no BENCH_r*.json found")
    ra = args.a if args.a is not None else (rs[-2] if len(rs) > 1 else rs[-1])
    rb = args.b if args.b is not None else rs[-1]
    pa = load(os.path.join(args.root, f"BENCH_r{ra:02d}.json"))
    pb = load(os.path.join(args.root, f"BENCH_r{rb:02d}.json"))

    print(f"BENCH r{ra} -> r{rb}")
    for label, p in ((f"r{ra}", pa), (f"r{rb}", pb)):
        print(f"  {label}: total={p.get('value')}s "
              f"pipeline={p.get('pipeline_total')}s "
              f"calib={p.get('calib_sec')}s "
              f"calib_io={p.get('calib_io_sec', 'n/a')} "
              f"contended={p.get('contended')} "
              f"host={str(p.get('host_cpu'))[:40]!r}/{p.get('host_cores')}c")
    ca, cb = pa.get("calib_sec"), pb.get("calib_sec")
    if isinstance(ca, (int, float)) and isinstance(cb, (int, float)) and ca:
        print(f"  calib ratio: {cb / ca:.2f} "
              "(a suite ratio tracking this is host drift, not code)")
    section("headline (min-of-3)", pa.get("queries"), pb.get("queries"),
            args.min_ratio)
    section("headline medians", pa.get("query_medians"),
            pb.get("query_medians"), args.min_ratio)
    section("pipeline", pa.get("pipeline_queries"),
            pb.get("pipeline_queries"), args.min_ratio)
    print("\nRule (README 'Verify / bench loop'): a cross-session ratio is "
          "unadjudicated until an interleaved same-host A/B confirms it — "
          f"run: sbt \"runMain graft.BenchAB <r{ra}-sha>\"")


if __name__ == "__main__":
    main()
