#!/usr/bin/env python3
"""Alternating A/B pairs of one ndvibench workload: a parent revision
against the working tree.

    python3 tools/ndvibench_ab.py --workload scene_large --pairs 10 \
        --seed 401 --parent HEAD

Both sides run from copies in a temporary directory: the parent revision
exported with `git archive`, the change copied from the working tree's
tracked and unignored files. Neither side then runs beside the build and
result leftovers of a long-used checkout: with the change run in the
checkout itself, an A/A run (the same code on both sides) read
product_upsert's setup_s higher on the checkout side in 5 of 6 pairs.
Pair i runs seed `seed + i` on both sides, each through
`python3 ndvibench/run.py` in its own copy; odd seeds run the parent
first, even seeds the change. Each side builds its harness on its first
run. One line is printed per run: seed, side, the end-to-end metrics that
BENCHMARK.json bounds, and the diagnostics `jobs_per_op` and
`shuffle_mb_per_op` read from the run's full result. The summary gives,
per metric and side, the median and quartiles, and the pairs the change
wins (strictly better in the metric's direction). The temporary directory
is removed at the end; nothing in the checkout is written.
"""
import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIAGNOSTICS = ("jobs_per_op", "shuffle_mb_per_op")


def export(rev, dest):
    """The committed tree of `rev`, unpacked into `dest`."""
    tar = subprocess.run(["git", "archive", "--format=tar", rev], cwd=ROOT,
                         stdout=subprocess.PIPE, check=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest)


def copy_worktree(dest):
    """The working tree's tracked and unignored files, copied into `dest`."""
    names = subprocess.run(["git", "ls-files", "-z", "--cached", "--others",
                            "--exclude-standard"], cwd=ROOT,
                           stdout=subprocess.PIPE, check=True).stdout.split(b"\0")
    for name in filter(None, map(os.fsdecode, names)):
        src = os.path.join(ROOT, name)
        if os.path.isfile(src):   # a deleted tracked file is still listed
            os.makedirs(os.path.dirname(os.path.join(dest, name)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, name))


def run_once(checkout, workload, seed, seconds):
    """One run.py invocation: (compact result, full result) or an error."""
    p = subprocess.run([sys.executable, "ndvibench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds)],
                       cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.splitlines()
    compact = [l for l in lines if l.startswith('{"correct"')]
    full = [l.split(": ", 1)[1] for l in lines if l.startswith("full result: ")]
    if p.returncode != 0 or not compact or not full:
        return None, None, p.stdout[-1500:]
    with open(os.path.join(checkout, full[-1])) as fh:
        return json.loads(compact[-1]), json.load(fh), None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True, help="first seed")
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json's run_seconds)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    names = [n for n, _ in metrics] + list(DIAGNOSTICS)

    tmp = tempfile.mkdtemp(prefix="ndvibench_ab_")
    try:
        sides = {"parent": os.path.join(tmp, "parent"),
                 "change": os.path.join(tmp, "change")}
        for d in sides.values():
            os.makedirs(d)
        export(a.parent, sides["parent"])
        copy_worktree(sides["change"])
        values = {s: {n: [] for n in names} for s in sides}
        pairs = []   # (seed, {side: {metric: value}})
        print("seed side correct failed " + " ".join(names), flush=True)
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            got = {}
            for side in order:
                compact, full, err = run_once(sides[side], a.workload, seed, seconds)
                if compact is None:
                    print(f"{seed} {side} run failed:\n{err}", flush=True)
                    continue
                row = {n: compact["metrics"][n]["value"] for n, _ in metrics
                       if n in compact["metrics"]}
                row.update({n: full["diagnostics"][n] for n in DIAGNOSTICS
                            if n in full.get("diagnostics", {})})
                for n, v in row.items():
                    values[side][n].append(v)
                got[side] = row
                print(f"{seed} {side} {compact['correct']} {compact['failed']} "
                      + " ".join(f"{row.get(n, float('nan')):.6g}" for n in names),
                      flush=True)
            pairs.append((seed, got))

        print("\nmetric: side median [q1, q3] ...; change wins / pairs")
        better = dict(metrics)
        for n in names:
            parts = []
            for side in sides:
                xs = values[side][n]
                if xs:
                    q1, q2, q3 = quartiles(xs)
                    parts.append(f"{side} {q2:.4g} [{q1:.4g}, {q3:.4g}]")
            full_pairs = [g for _, g in pairs if n in g.get("parent", {}) and n in g.get("change", {})]
            direction = better.get(n, "lower")
            wins = sum(1 for g in full_pairs
                       if (g["change"][n] < g["parent"][n]) == (direction == "lower")
                       and g["change"][n] != g["parent"][n])
            print(f"{n}: " + "; ".join(parts) + f"; change wins {wins}/{len(full_pairs)}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
