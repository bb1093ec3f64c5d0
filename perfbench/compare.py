"""Diff two sets of benchmark records (parent against change).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the JSON records ``run.py`` writes (``--out``). For
every workload and every end-to-end metric of BENCHMARK.json, the row
compares the medians of the untraced runs and gives a verdict:

* ``unresolved``: the spread (interquartile range over median) of either
  side is wider than the metric's bound, so the runs cannot tell;
* ``improved`` / ``worse``: the medians differ by more than the wider of
  the two spreads in the metric's better / worse direction (``worse`` is
  marked ``REJECT`` past the bound);
* ``unchanged``: otherwise.

Under each workload, the per-layer medians of the traced runs (per-layer
metrics and the named layer-call times) are listed with their relative
change, largest first, so a saving can be located by layer; the tracing
overhead (traced against untraced ops per second) is printed per side.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(directory: str) -> dict:
    """{(workload, trace): [record, ...]}"""
    out: dict = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        out.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    return out


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("inf")
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / abs(med) if med else float("inf")


def verdict(parent: list[float], change: list[float], better: str, bound: float):
    pm, cm = statistics.median(parent), statistics.median(change)
    noise = max(spread(parent), spread(change))
    delta = (cm - pm) / abs(pm) if pm else 0.0
    worse_by = delta if better == "lower" else -delta
    if noise > bound:
        word = "unresolved"
    elif worse_by > noise:
        word = "worse" + (" REJECT" if worse_by > bound else "")
    elif -worse_by > noise:
        word = "improved"
    else:
        word = "unchanged"
    return pm, cm, delta, noise, word


def layer_values(records: list[dict]) -> dict[str, list[float]]:
    vals: dict[str, list[float]] = {}
    for rec in records:
        flat = {k: m["value"] for k, m in rec["result"]["metrics"].items()}
        flat.update({k: v for k, v in rec.get("layers", {}).items()
                     if isinstance(v, (int, float))})
        for k, v in flat.items():
            vals.setdefault(k, []).append(v)
    return vals


def ops_per_s(records: list[dict], key: str) -> float | None:
    """Median ops/s; ``ops_per_s_wall`` counts the traced runs' status-store
    reads as op time."""
    xs = [r[key] if key in r else r["end_to_end"][key] for r in records]
    return statistics.median(xs) if xs else None


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load(argv[0]), load(argv[1])
    for wl in [w["name"] for w in bench["workloads"]]:
        p0, c0 = parent.get((wl, 0), []), change.get((wl, 0), [])
        print(f"== {wl}  (untraced runs: parent {len(p0)}, change {len(c0)})")
        for side, recs in (("parent", p0), ("change", c0)):
            probes = [(r["environment"]["cpu_probe_start_s"]
                       + r["environment"]["cpu_probe_end_s"]) / 2 for r in recs]
            if probes:
                print(f"  host cpu probe ({side}): median {statistics.median(probes):.3f} s")
        if p0 and c0:
            print(f"  {'metric':<22}{'parent':>12}{'change':>12}{'delta':>9}"
                  f"{'spread':>9}{'bound':>7}  verdict")
            for m in bench["end_to_end"]:
                pv = [r["result"]["metrics"][m["name"]]["value"] for r in p0]
                cv = [r["result"]["metrics"][m["name"]]["value"] for r in c0]
                pm, cm, d, noise, word = verdict(pv, cv, m["better"], m["bound"])
                print(f"  {m['name']:<22}{pm:>12.4g}{cm:>12.4g}{d:>+9.1%}"
                      f"{noise:>9.1%}{m['bound']:>7.0%}  {word}")
        p1, c1 = parent.get((wl, 1), []), change.get((wl, 1), [])
        for side, traced, plain in (("parent", p1, p0), ("change", c1, c0)):
            t, u = ops_per_s(traced, "ops_per_s_wall"), ops_per_s(plain, "ops_per_s")
            if t and u:
                print(f"  tracing overhead ({side}): traced ops/s {t:.4g} vs "
                      f"untraced {u:.4g} ({t / u - 1:+.1%})")
        if p1 and c1:
            pl, cl = layer_values(p1), layer_values(c1)
            rows = []
            for k in sorted(set(pl) & set(cl)):
                pm, cm = statistics.median(pl[k]), statistics.median(cl[k])
                d = (cm - pm) / abs(pm) if pm else (0.0 if cm == pm else float("inf"))
                rows.append((abs(d), k, pm, cm, d))
            print(f"  per-layer (traced runs: parent {len(p1)}, change {len(c1)})")
            for _, k, pm, cm, d in sorted(rows, reverse=True):
                print(f"    {k:<36}{pm:>14.4g}{cm:>14.4g}{d:>+9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
