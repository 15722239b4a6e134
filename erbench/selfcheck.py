"""Self-check of the benchmark at its tiny scale (a few minutes).

    python3 erbench/selfcheck.py

Run from the repository root. Checks that:
  1. every workload's untraced run prints every end-to-end metric of
     BENCHMARK.json with its unit, and its traced run every per-layer
     metric, in a result line with exactly the contract's keys;
  2. a deliberately failing output check (--break-check) marks its ops
     failed and the run incorrect;
  3. in a directory holding only BENCHMARK.json and the benchmark's files,
     the command exits non-zero without printing a result.
Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join("erbench", "run.py")] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=180)
    lines = p.stdout.splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def fail(msg):
    sys.exit(f"selfcheck: FAIL {msg}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    tiny = ["--scale", "tiny", "--seconds", "1", "--seed", "7"]
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            code, r = run(["--workload", w, "--trace", trace] + tiny)
            if code != 0 or r is None:
                fail(f"{w} trace={trace}: exit {code}")
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                fail(f"{w} trace={trace}: result keys {sorted(r)}")
            if not (r["correct"] and r["failed"] == 0 and r["attempted"] >= 1):
                fail(f"{w} trace={trace}: correct={r['correct']} failed={r['failed']}")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {n: m["unit"] for n, m in r["metrics"].items()}
            if got != want:
                fail(f"{w} trace={trace}: metrics differ from BENCHMARK.json: "
                     f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                     f"units {[n for n in want if n in got and got[n] != want[n]]}")
            if trace == "0":
                zero = [n for n, m in r["metrics"].items() if not m["value"]]
                if zero:
                    fail(f"{w}: end-to-end metrics read 0: {zero}")
            print(f"selfcheck: ok {w} trace={trace} ({r['attempted']} ops)")

    code, r = run(["--workload", bench["workloads"][0]["name"], "--trace", "0",
                   "--break-check"] + tiny)
    if code != 0 or r is None or r["correct"] or r["failed"] < 1:
        fail(f"--break-check: exit {code}, result {r and {k: r[k] for k in ('correct', 'failed')}}")
    print(f"selfcheck: ok --break-check marks {r['failed']} of {r['attempted']} ops failed")

    bare = os.path.join(HERE, "target", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "erbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    code, r = run(["--workload", bench["workloads"][0]["name"], "--trace", "0",
                   "--seed", "1", "--seconds", "1"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or r is not None:
        fail(f"bare directory: exit {code}, result {r}")
    print("selfcheck: ok bare directory exits", code, "without a result")
    print("selfcheck: all checks passed")


if __name__ == "__main__":
    main()
