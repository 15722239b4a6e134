"""Summarize benchmark runs: per workload and metric, the median, the
quartiles and the spread (quartile distance over median), computed the way
Python's statistics.quantiles(values, n=4) gives them. Untraced runs also
show the wall-clock figures of their diagnostics line (`wall.*`: set-up,
first op, and the median measured op of each kind).

    python3 erbench/summarize.py RUN_OUTPUT... [--bounds BENCHMARK.json]

Each RUN_OUTPUT is the saved standard output of one `erbench/run.py` run.
With --bounds, each metric's bound is printed beside its spread, with
`over` where the spread exceeds a third of the bound.
"""
import argparse
import json
import statistics
from collections import defaultdict


def load(path):
    """(workload, trace, result, wall-time figures) of one saved run output."""
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    d = next(json.loads(l)["erbench"] for l in lines if l.startswith('{"erbench"'))
    ops = d["ops"]
    kinds = list(dict.fromkeys(o[0] for o in ops))
    walls = {"wall.first_pass_s": ops[0][1]}
    for i, k in enumerate(kinds):
        warm = [o[1] for o in ops[d["measured_from"]:] if o[0] == k and not o[3]]
        walls[f"wall.op{i + 1}_s"] = statistics.median(warm)
    walls["wall.setup_s"] = statistics.median(d["setup_wall_s"])
    return d["workload"], d["trace"], json.loads(lines[-1]), walls


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("outputs", nargs="+")
    p.add_argument("--bounds")
    a = p.parse_args()
    bounds = {}
    if a.bounds:
        with open(a.bounds) as fh:
            bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}

    values = defaultdict(lambda: defaultdict(list))
    units = {}
    runs = defaultdict(lambda: [0, 0, 0, 0])
    for path in a.outputs:
        try:
            workload, trace, r, walls = load(path)
        except (StopIteration, ValueError, IndexError):
            print(f"skipped {path}: no complete run output")
            continue
        key = (workload, "traced" if trace else "untraced")
        runs[key][0] += 1
        runs[key][1] += r["attempted"]
        runs[key][2] += r["failed"]
        runs[key][3] += 0 if r["correct"] else 1
        for name, m in r["metrics"].items():
            values[key][name].append(m["value"])
            units[name] = m["unit"]
        if not trace:
            for name, v in walls.items():
                values[key][name].append(v)
                units[name] = "s"

    for key in sorted(values):
        n, attempted, failed, incorrect = runs[key]
        print(f"== {key[0]} ({key[1]}): {n} runs ({incorrect} incorrect), "
              f"{attempted} ops, {failed} failed")
        print(f"  {'metric':<28} {'unit':<7} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
        for name, vs in values[key].items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            spread = (q3 - q1) / med if med else 0.0
            note = ""
            if name in bounds:
                note = f"  bound {bounds[name]}" + (" over" if spread > bounds[name] / 3 else "")
            print(f"  {name:<28} {units[name]:<7} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} "
                  f"{spread:>8.4f}{note}")


if __name__ == "__main__":
    main()
