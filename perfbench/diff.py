#!/usr/bin/env python3
"""Compare traced runs of two program versions layer by layer.

    python3 perfbench/diff.py --base a1.out a2.out --new b1.out b2.out

Each file is the standard output of ``perfbench/run.py --trace 1``.  For every per-layer metric the tool takes
the median over each side's runs and prints the change, largest first, so an
A/B names the layer that moved.  A count that differs between the sides is
flagged ``COUNT CHANGED``; a count that differs between runs of one side is
listed as unstable (counts are only evidence when they repeat exactly).
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

COUNT_UNITS = ("count",)


def load_run(path: str) -> dict:
    """{"metrics": {...}, "diagnostics": {...}} from a run's stdout."""
    with open(path) as f:
        text = f.read()
    run = {"metrics": None, "diagnostics": {}}
    for line in text.splitlines():
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        if isinstance(doc, dict) and "metrics" in doc:
            run["metrics"] = doc["metrics"]
        elif isinstance(doc, dict) and "diagnostics" in doc:
            run["diagnostics"] = doc["diagnostics"]
    if run["metrics"] is None:
        raise ValueError(f"{path}: no result line")
    return run


def _flatten(run: dict) -> dict:
    """name -> (value, unit), with per-kind Spark counts from the
    diagnostics added as ``spark.<kind>.<jobs|stages|tasks>``."""
    out = {k: (v["value"], v["unit"]) for k, v in run["metrics"].items()}
    for kind, v in run["diagnostics"].get("spark_by_kind", {}).items():
        for key, n in v.items():
            out[f"spark.{kind}.{key}"] = (n, "count")
    return out


def diff_runs(base: list, new: list) -> tuple:
    """Return (rows, unstable): rows are dicts with name, unit, base, new,
    delta, rel and changed (a count that moved); changed counts first,
    then times by |delta|, then the rest.  ``unstable`` lists counts that
    differ between runs of the same side."""
    fb, fn = [_flatten(r) for r in base], [_flatten(r) for r in new]
    names = sorted(set().union(*fb, *fn))
    rows, unstable = [], []
    for name in names:
        vb = [f[name][0] for f in fb if name in f]
        vn = [f[name][0] for f in fn if name in f]
        unit = next(f[name][1] for f in fb + fn if name in f)
        if unit in COUNT_UNITS:
            for side, vals in (("base", vb), ("new", vn)):
                if len(set(vals)) > 1:
                    unstable.append((name, side, vals))
        b = statistics.median(vb) if vb else 0.0
        n = statistics.median(vn) if vn else 0.0
        delta = n - b
        rows.append({
            "name": name, "unit": unit, "base": b, "new": n,
            "delta": delta, "rel": delta / b if b else None,
            "changed": unit in COUNT_UNITS and b != n,
        })
    rows.sort(key=lambda r: (not r["changed"], r["unit"] != "s",
                             -abs(r["delta"]), r["name"]))
    return rows, unstable


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    rows, unstable = diff_runs([load_run(p) for p in args.base],
                               [load_run(p) for p in args.new])
    print(f"{'metric':44s} {'unit':6s} {'base':>12s} {'new':>12s} "
          f"{'delta':>12s} {'rel':>8s}")
    for r in rows:
        rel = f"{r['rel']:+.1%}" if r["rel"] is not None else "-"
        flag = "  COUNT CHANGED" if r["changed"] else ""
        print(f"{r['name']:44s} {r['unit']:6s} {r['base']:12.4f} "
              f"{r['new']:12.4f} {r['delta']:+12.4f} {rel:>8s}{flag}")
    for name, side, vals in unstable:
        print(f"unstable count {name} on {side}: {vals}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
