#!/usr/bin/env python3
"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py --base A/*-t1.json --new B/*-t1.json

Each side is a list of result files written by perfbench/run.py
(.bench_out/<workload>-s<seed>-t<trace>.json) or directories of them,
typically the parent commit's runs and the change's. For every
workload, and every end-to-end metric and per-layer metric (traced
runs only) the files hold, it prints the median over each side's runs,
the number of runs, and the ratio NEW / BASE with its base. Rows whose
medians are both 0 (a layer the workload does not load) are left out.

Traced runs (-t1) against traced runs show in which layer a change's
saving or cost sits. Untraced runs (-t0) as BASE and traced runs of
the same code as NEW show what tracing costs end to end.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path


def load(paths):
    """{(workload, section): {metric: [values]}} over the result files."""
    files = [f for p in paths for f in (sorted(p.glob("*.json")) if p.is_dir() else [p])]
    out = defaultdict(lambda: defaultdict(list))
    for f in files:
        try:
            r = json.loads(f.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(r, dict) or "workload" not in r:
            continue
        for section in ("end_to_end", "per_layer"):
            for name, m in r.get(section, {}).items():
                out[(r["workload"], section)][name].append(m["value"])
    return out


def cell(values):
    """Median of `values` and their count, or '-' when there are none."""
    return "-" if not values else f"{statistics.median(values):.6g} ({len(values)})"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", type=Path, nargs="+", required=True)
    ap.add_argument("--new", type=Path, nargs="+", required=True)
    a = ap.parse_args()
    base, new = load(a.base), load(a.new)
    if not base or not new:
        print("no result files found on one side", file=sys.stderr)
        return 1
    for key in sorted(set(base) | set(new)):
        workload, section = key
        b, n = base.get(key, {}), new.get(key, {})
        print(f"\n{workload} / {section}")
        print(f"  {'metric':<40} {'base median':>14} {'new median':>14}  ratio (new / base)")
        for name in sorted(set(b) | set(n)):
            bv, nv = b.get(name, []), n.get(name, [])
            bm = statistics.median(bv) if bv else None
            nm = statistics.median(nv) if nv else None
            if not bm and not nm:
                continue
            ratio = f"{nm / bm:.3f} of base {bm:.6g}" if bm and nm is not None else "n/a"
            print(f"  {name:<40} {cell(bv):>14} {cell(nv):>14}  {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
