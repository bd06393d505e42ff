#!/usr/bin/env python3
"""Steadiness tool for the repo benchmark.

    python3 perfbench/steady.py collect <set.jsonl> --seeds 1-10 [--workload all]
    python3 perfbench/steady.py compare <set_a.jsonl> [<set_b.jsonl>]

`collect` runs the benchmark untraced once per seed and workload and
appends each result to a JSON-lines file. `compare` reports, per
workload and end-to-end metric, each set's median and quartiles, the
spread (quartile distance over the median), and whether the two sets
agree: the medians of two sets of the same code must differ by at most
the metric's bound, in either direction. A metric whose spread exceeds
a tenth is marked unsteady; the tool never widens a bound. Quartiles
are Python's statistics.quantiles(values, n=4).

The exit code is 1 when the sets disagree on any metric, or when a
spread exceeds its bound. `setup_s` is exempt from the spread rule only
(its spread is still printed and marked unsteady): the benchmark's
acceptance rule gates set-up time on the shift of its median alone,
since a run's set-up is a few seconds of mostly first-use JVM work.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
UNSTEADY = 0.10


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def collect(out, seed_range, workload):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]] if workload == "all" else [workload]
    with open(out, "a") as f:
        for seed in seed_range:
            for w in names:
                proc = subprocess.run(
                    [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                     "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
                if proc.returncode != 0:
                    sys.stderr.write(proc.stderr[-2000:])
                    raise SystemExit(f"run failed: {w} seed {seed}")
                result = json.loads(proc.stdout.strip().splitlines()[-1])
                f.write(json.dumps({"workload": w, "seed": seed, "result": result}) + "\n")
                f.flush()
                print(f"{w} seed={seed} " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)


def load(path):
    runs = {}
    for line in Path(path).read_text().splitlines():
        if line.strip():
            r = json.loads(line)
            runs.setdefault(r["workload"], []).append(r["result"])
    return runs


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def shift(first, second):
    """How far the second median moved from the first, as a share."""
    return (second - first) / first


def compare(path_a, path_b):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sets = [load(path_a)] + ([load(path_b)] if path_b else [])
    ok = True
    for w in [w["name"] for w in spec["workloads"]]:
        for m in spec["end_to_end"]:
            cols = []
            per_set = []
            for s in sets:
                vals = [r["metrics"][m["name"]]["value"] for r in s.get(w, [])]
                if len(vals) < 2:
                    cols.append("n<2")
                    per_set.append(None)
                    continue
                st = stats(vals)
                per_set.append(st)
                flag = " UNSTEADY" if st["spread"] > UNSTEADY else ""
                # setup_s is gated on its median alone (module docstring)
                within = m["name"] == "setup_s" or st["spread"] <= m["bound"]
                ok &= within
                cols.append(f"n={len(vals)} median={st['median']:.4g} q1={st['q1']:.4g} "
                            f"q3={st['q3']:.4g} spread={st['spread']:.3f}{flag}")
            verdict = ""
            if len(per_set) == 2 and None not in per_set:
                moved = shift(per_set[0]["median"], per_set[1]["median"])
                agree = abs(moved) <= m["bound"]
                ok &= agree
                verdict = f" | second moved by {moved:+.3f} (bound {m['bound']}): " + (
                    "agree" if agree else "DISAGREE")
            print(f"{w:16s} {m['name']:14s} " + " || ".join(cols) + verdict)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workload", default="all")
    k = sub.add_parser("compare")
    k.add_argument("first")
    k.add_argument("second", nargs="?")
    args = ap.parse_args()
    if args.cmd == "collect":
        collect(args.out, seeds(args.seeds), args.workload)
        return 0
    return compare(args.first, args.second)


if __name__ == "__main__":
    sys.exit(main())
