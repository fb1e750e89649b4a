#!/usr/bin/env python3
"""A/B the benchmark between a parent commit and this checkout.

    python3 scripts/ab.py --parent <rev> --workdir <dir> --out ab.jsonl
    python3 scripts/ab.py --summarize ab.jsonl

Run from the root of a graft checkout (the change). The parent is exported
with `git archive` into <workdir>/parent (a worktree would register itself
in this repository's .git). Each of 10 pairs runs perfbench/run.py once per
workload on each side, for the benchmark's 10 s and with the same seed
(101, 102, ...), alternating which side runs first, and appends one line per
run to the jsonl file:
{"pair", "seed", "workload", "side": "parent"|"change", "result": <run.py's JSON>}.
The summary prints, per (workload, metric), both sides' medians and
quartiles, how many pairs the change wins, and whether the change's median
stays within the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PAIRS = 10
SEED0 = 101
SECONDS = 10
WORKLOADS = ("pit_training", "lakehouse_cdc")


def export_parent(rev, dest):
    """The committed tree of `rev` under `dest` (kept across invocations)."""
    if (dest / "build.sbt").is_file():
        return
    dest.mkdir(parents=True, exist_ok=True)
    archive = subprocess.run(["git", "archive", "--format=tar", rev], cwd=ROOT,
                             stdout=subprocess.PIPE, check=True)
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive.stdout, check=True)


def run_once(checkout, workload, seed):
    """run.py's result JSON (its last stdout line), or None when it failed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(SECONDS), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summarize(path):
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    runs = [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]
    by = {}
    for r in runs:
        by.setdefault(r["workload"], {}).setdefault(r["pair"], {})[r["side"]] = r["result"]
    for workload, pairs in sorted(by.items()):
        both = [p for _, p in sorted(pairs.items())
                if p.get("parent") is not None and p.get("change") is not None]
        failed = {s: sum(p[s].get("failed", 0) for p in both) for s in ("parent", "change")}
        print(f"== {workload}: {len(both)} pairs; failed ops parent {failed['parent']}, "
              f"change {failed['change']}")
        for name, m in metrics.items():
            vals = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                    for p in both if name in p["parent"].get("metrics", {})
                    and name in p["change"].get("metrics", {})]
            if not vals:
                continue
            par, chg = [v[0] for v in vals], [v[1] for v in vals]
            lower = m["better"] == "lower"
            wins = sum((c < p) if lower else (c > p) for p, c in vals)
            mp, mc = statistics.median(par), statistics.median(chg)
            worse = ((mc - mp) if lower else (mp - mc)) / mp if mp else 0.0
            pq, cq = quartiles(par), quartiles(chg)
            verdict = "within" if worse <= m["bound"] else "OUTSIDE"
            print(f"  {name:13s} parent {mp:.4g} [{pq[0]:.4g}, {pq[1]:.4g}]  "
                  f"change {mc:.4g} [{cq[0]:.4g}, {cq[1]:.4g}]  "
                  f"change better {wins}/{len(vals)}  worse by {worse:+.1%} "
                  f"({verdict} bound {m['bound']})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="git revision of the parent side")
    ap.add_argument("--workdir", type=Path, help="where the parent tree is exported")
    ap.add_argument("--out", type=Path, help="jsonl file the runs are appended to")
    ap.add_argument("--summarize", type=Path, help="only summarize an existing jsonl file")
    a = ap.parse_args()
    if a.summarize:
        summarize(a.summarize)
        return
    if not (a.parent and a.workdir and a.out):
        ap.error("--parent, --workdir and --out are required unless --summarize")
    parent = a.workdir.resolve() / "parent"
    export_parent(a.parent, parent)
    sides = {"parent": parent, "change": ROOT}
    with a.out.open("a") as out:
        for pair in range(1, PAIRS + 1):
            seed = SEED0 + pair - 1
            order = ("parent", "change") if pair % 2 else ("change", "parent")
            for workload in WORKLOADS:
                for side in order:
                    result = run_once(sides[side], workload, seed)
                    out.write(json.dumps({"pair": pair, "seed": seed, "workload": workload,
                                          "side": side, "result": result}) + "\n")
                    out.flush()
                    print(f"pair {pair} {workload} {side}: "
                          f"{'failed' if result is None else 'ok'}", file=sys.stderr)
    summarize(a.out)


if __name__ == "__main__":
    main()
