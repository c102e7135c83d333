#!/usr/bin/env python3
"""A/B a change against its parent with alternating benchmark pairs.

    python3 tools/ab_pairs.py <parent-dir> <change-dir> --workload W --seeds A-B
        [--seconds 10] [--out pairs.json]

Both directories are checkouts of the repository (export the parent with
`git archive <parent> | tar -x -C <dir>`). For each seed A..B the tool runs
`perfbench/run.py --workload W --seed S --trace 0` once in each checkout,
one run at a time; the order inside a pair alternates (parent first on
even pair indices, change first on odd ones) so drift of a shared machine
does not favour one side. Each checkout builds on its first run.

It then prints, for every end-to-end metric that BENCHMARK.json (in the
change checkout) declares: the parent's and the change's medians, the
parent's quartiles, the relative median change, the pairs the change won
(strictly better in its `better` direction) and whether the gain rule
holds: at least 9 of 10 pairs won (the same share of more pairs) and a
median gap larger than the parent's interquartile spread. It also prints
the attempted and failed operation counts and any run that was not
correct. `--out` keeps every run's result line as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3) with the inclusive method (n >= 2)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout, workload, seed, seconds):
    """The result dict of one untraced run (its last stdout line)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout} (seed {seed}, "
                         f"exit {p.returncode})")
    return json.loads(lines[-1])


def seed_range(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seed_range(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(getattr(a, side), a.workload, seed, a.seconds)
            r["seed"] = seed
            runs[side].append(r)
            got = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                           for m in e2e if m["name"] in r["metrics"])
            print(f"[ab] seed {seed} {side}: {got}", file=sys.stderr, flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)

    n = len(runs["parent"])
    need = -(-9 * n // 10)  # 9 of 10, rounded up
    print(f"{a.workload}: {n} pairs, seeds {a.seeds}")
    print(f"{'metric':<14}{'parent':>11}{'change':>11}{'rel':>8}"
          f"{'parent q1-q3':>22}{'won':>7}  gain rule")
    for m in e2e:
        name = m["name"]
        pv = [r["metrics"][name]["value"] for r in runs["parent"]]
        cv = [r["metrics"][name]["value"] for r in runs["change"]]
        lower = m["better"] == "lower"
        won = sum((c < p) if lower else (c > p) for p, c in zip(pv, cv))
        q1, pmed, q3 = quartiles(pv)
        cmed = statistics.median(cv)
        gap = (pmed - cmed) if lower else (cmed - pmed)
        holds = won >= need and gap > q3 - q1
        rel = (cmed - pmed) / pmed if pmed else float("nan")
        print(f"{name:<14}{pmed:>11.4g}{cmed:>11.4g}{rel:>+8.1%}"
              f"{f'{q1:.4g}-{q3:.4g}':>22}{f'{won}/{n}':>7}  "
              f"{'holds' if holds else 'no'}")
    for side in ("parent", "change"):
        att = sum(r["attempted"] for r in runs[side])
        fail = sum(r["failed"] for r in runs[side])
        bad = [r["seed"] for r in runs[side] if not r.get("correct", False)]
        print(f"{side}: attempted {att}, failed {fail}"
              + (f", not correct on seeds {bad}" if bad else ""))


if __name__ == "__main__":
    main()
