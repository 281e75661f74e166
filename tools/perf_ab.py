#!/usr/bin/env python3
"""Alternated A/B of perfbench/run.py: a parent commit against this checkout.

    python3 tools/perf_ab.py --parent HEAD~1 --workload tape_vcr --seeds 1-10
    python3 tools/perf_ab.py --parent abc1234 --workload curate_ann_serve \\
        --seeds 11,12,13 --seconds 10 --trace 0

The parent is checked out with `git worktree add --detach` under a
temporary directory, removed again at exit. For each seed the two sides
run back to back, and the side that runs first alternates from pair to
pair, so a slow drift of the host does not favour either side. Both
sides run `python3 perfbench/run.py --workload W --seed S --seconds N
--trace T` of their own checkout. With `--trace 1`, each run's span
file is moved to `traces/<workload>-seed<S>-<parent|change>.jsonl` in
this checkout's build dir (`$CARGO_TARGET_DIR`, default `.bench_build`),
so both sides' spans outlive the parent worktree and a shared
`$CARGO_TARGET_DIR` does not let one side overwrite the other.

Prints, for every metric the runs report: the per-pair values, each
side's median and interquartile range (IQR, q3 - q1), the median ratio
change/parent, how many pairs the change won (by the metric's `better`
direction in BENCHMARK.json) and whether the median gap exceeds the
parent's IQR; metrics that read 0 in every run are only named. Failed
operations and failed runs are listed per run; a run that fails
outright is left out of its metric's pairs. Exits 1 when any run failed
or reported a failed operation.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
ROOT = Path(__file__).resolve().parent.parent


def seeds_of(text):
    """'1-5,9' -> [1, 2, 3, 4, 5, 9]"""
    out = []
    for part in text.split(","):
        lo, _, hi = part.strip().partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def better_of():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"]
            for key in ("end_to_end", "per_layer") for m in spec.get(key, [])}


def build_dir(checkout):
    """perfbench's build dir for `checkout` (perfbench/build.py's rule)."""
    return Path(os.environ.get("CARGO_TARGET_DIR",
                               str(checkout / ".bench_build"))).resolve()


def keep_trace(checkout, a, seed, side):
    """Moves the span file a traced run just wrote to a per-side name."""
    name = f"{a.workload}-seed{seed}"
    src = build_dir(checkout) / "traces" / f"{name}.jsonl"
    if a.trace and src.exists():
        dst = build_dir(ROOT) / "traces" / f"{name}-{side}.jsonl"
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.move(str(src), str(dst))


def run_side(checkout, a, seed):
    """One perfbench run; returns (result dict or None, error text)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    last = (proc.stdout.strip().splitlines() or [""])[-1]
    try:
        res = json.loads(last)
    except json.JSONDecodeError:
        return None, f"exit {proc.returncode}: {proc.stderr.strip()[-500:]}"
    metrics = {k: (v["value"] if isinstance(v, dict) else v)
               for k, v in res.get("metrics", {}).items()}
    return {"attempted": res.get("attempted"), "failed": res.get("failed"),
            "metrics": metrics}, ""


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(pairs, better):
    names = sorted({k for p in pairs for side in ("parent", "change")
                    if p[side] for k in p[side]["metrics"]})
    zero = []
    for name in names:
        rows = [(p["seed"], p["parent"]["metrics"][name],
                 p["change"]["metrics"][name]) for p in pairs
                if p["parent"] and p["change"]
                and name in p["parent"]["metrics"]
                and name in p["change"]["metrics"]]
        if not rows:
            continue
        if all(p == 0 and c == 0 for _, p, c in rows):
            zero.append(name)
            continue
        higher = better.get(name, "lower") == "higher"
        par = [r[1] for r in rows]
        chg = [r[2] for r in rows]
        wins = sum((c > p) if higher else (c < p) for _, p, c in rows)
        pm, cm = statistics.median(par), statistics.median(chg)
        pq1, pq3 = quartiles(par)
        cq1, cq3 = quartiles(chg)
        gap = abs(cm - pm)
        print(f"\n{name} ({'higher' if higher else 'lower'} is better)")
        for seed, p, c in rows:
            print(f"  seed {seed:>4}: parent {p:.6g} -> change {c:.6g}")
        ratio = f"{cm / pm:.3f}x" if pm else "n/a"
        print(f"  median parent {pm:.6g} (IQR {pq3 - pq1:.6g}, q1 {pq1:.6g}, "
              f"q3 {pq3:.6g}) -> change {cm:.6g} (IQR {cq3 - cq1:.6g}); "
              f"ratio {ratio}")
        print(f"  change better in {wins}/{len(rows)} pairs; median gap "
              f"{gap:.6g} {'>' if gap > pq3 - pq1 else '<='} parent IQR "
              f"{pq3 - pq1:.6g}")
    if zero:
        print(f"\n{len(zero)} metrics read 0 in every run on both sides "
              f"(spans this workload does not run): {', '.join(zero)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True,
                    help="commit-ish to compare against (e.g. HEAD~1)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds_of,
                    help="seed list, e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    tmp = Path(tempfile.mkdtemp(prefix="perf-ab-"))
    parent_dir = tmp / "parent"
    subprocess.run(["git", "worktree", "add", "--detach", str(parent_dir),
                    a.parent], cwd=ROOT, check=True, capture_output=True)
    pairs = []
    try:
        sides = {"parent": parent_dir, "change": ROOT}
        for i, seed in enumerate(a.seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                res, err = run_side(sides[side], a, seed)
                keep_trace(sides[side], a, seed, side)
                pair[side] = res
                status = (f"failed ops {res['failed']}/{res['attempted']}"
                          if res else f"RUN FAILED ({err})")
                print(f"pair {i + 1}/{len(a.seeds)} seed {seed} {side}: "
                      f"{status}", flush=True)
            pairs.append(pair)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force",
                        str(parent_dir)], cwd=ROOT, capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT,
                       capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"\n{a.workload}: parent {a.parent} vs {ROOT}, seeds "
          f"{','.join(map(str, a.seeds))}, --seconds {a.seconds} "
          f"--trace {a.trace}, {os.cpu_count()} cpus")
    report(pairs, better_of())
    bad = [(p["seed"], side) for p in pairs for side in ("parent", "change")
           if not p[side] or p[side]["failed"]]
    print("\nfailed runs or operations: " +
          (", ".join(f"seed {s} {side}" for s, side in bad) if bad else "none"))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
