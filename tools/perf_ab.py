#!/usr/bin/env python3
"""A/B the repository benchmark: a git revision against the working tree.

Usage: python3 tools/perf_ab.py REV --workload W --pairs N
           [--seed0 S] [--scratch DIR]

Exports REV (`git archive`) into a scratch directory, then runs
`perfbench/run.py --workload W` N times on each side, each run as long as
BENCHMARK.json's `run_seconds`: pair i uses seed S + i (default 101 + i)
on both sides, and the side that runs first alternates from pair to pair
(REV first in pairs 1, 3, 5, ...), so a drift in host load over the
session falls on both sides alike. One untimed run per side comes first.
The export is kept between invocations (its benchmark build too) and
reused while it holds the same commit.

For every end-to-end metric BENCHMARK.json declares, it prints each side's
median and quartiles, the change's win count (pairs where the working tree
is strictly better in the metric's declared direction), and whether the
medians differ by more than REV's interquartile range. Below that table
it prints each side's median of every numeric `<workload>.*` key on the
runs' detail line (per-verb timings such as `maintain.append_p50_s`). A
run with no result line, a failed operation or a false check is reported
too. Run it from the repository root, on an otherwise idle host.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


def export(rev, scratch):
    """Extract the committed tree of `rev` into `scratch`, unless it is
    already there."""
    sha = git("rev-parse", "--verify", rev + "^{commit}")
    marker = os.path.join(scratch, ".perf_ab_rev")
    if os.path.exists(marker) and open(marker).read().strip() == sha:
        return sha
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", scratch], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    with open(marker, "w") as fh:
        fh.write(sha)
    return sha


def run(tree, workload, seed, seconds):
    """One benchmark run in `tree`: (metrics dict or None, numeric
    `<workload>.*` detail fields, note)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
    except (IndexError, ValueError, KeyError, TypeError):
        tail = " | ".join(p.stderr.strip().splitlines()[-3:])
        return None, {}, f"no result line (exit {p.returncode}): {tail}"
    detail = {}
    if len(lines) > 1:
        try:
            detail = json.loads(lines[-2])["detail"]
        except (ValueError, KeyError, TypeError):
            pass
    numbers = {k: v for k, v in detail.items() if k.startswith(workload + ".")
               and isinstance(v, (int, float)) and not isinstance(v, bool)}
    notes = []
    if result["failed"]:
        notes.append(f"{result['failed']}/{result['attempted']} ops failed")
    if not result["correct"]:
        checks = detail.get("checks") if isinstance(detail.get("checks"), dict) else {}
        bad = sorted(k for k, ok in checks.items() if not ok)
        notes.append("incorrect" + (f" ({', '.join(bad)})" if bad else ""))
    return metrics, numbers, "; ".join(notes)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--scratch", default=None,
                    help="where REV is exported (default: a perf_ab directory under the temp dir)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    declared = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    scratch = args.scratch or os.path.join(tempfile.gettempdir(), "perf_ab",
                                           git("rev-parse", "--short=12", args.rev))
    sha = export(args.rev, scratch)
    sides = {"rev": scratch, "tree": ROOT}
    # one untimed run per side first: it builds the side if needed, and the
    # first run after a build reads slow (maintain setup_s ~1.6x)
    for side, tree in sides.items():
        _, _, note = run(tree, args.workload, args.seed0, seconds)
        print(f"warm-up {side} {note}".rstrip(), flush=True)
    runs = {"rev": [], "tree": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("rev", "tree") if i % 2 == 0 else ("tree", "rev")
        for side in order:
            metrics, numbers, note = run(sides[side], args.workload, seed, seconds)
            runs[side].append({"seed": seed, "metrics": metrics, "detail": numbers,
                               "note": note})
            shown = ", ".join(f"{n}={metrics[n]:.4g}" for n, _ in declared) if metrics else ""
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side:4s} {shown} {note}".rstrip(),
                  flush=True)

    print(f"\n{args.workload}: {sha[:12]} (rev) vs working tree, {args.pairs} pairs, "
          f"seeds {args.seed0}-{args.seed0 + args.pairs - 1}, {seconds} s runs")
    print(f"{'metric':12s} {'rev median [q1, q3]':28s} {'tree median [q1, q3]':28s} "
          f"{'wins':7s} |median diff| > rev IQR")
    for name, better in declared:
        pairs = [(a["metrics"][name], b["metrics"][name])
                 for a, b in zip(runs["rev"], runs["tree"])
                 if a["metrics"] and b["metrics"]]
        if not pairs:
            print(f"{name:12s} no complete pairs")
            continue
        rev = quartiles([a for a, _ in pairs])
        tree = quartiles([b for _, b in pairs])
        wins = sum(1 for a, b in pairs if (b < a if better == "lower" else b > a))
        clear = abs(tree[1] - rev[1]) > rev[2] - rev[0]
        spread = [f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]" for q in (rev, tree)]
        print(f"{name:12s} {spread[0]:28s} {spread[1]:28s} "
              f"{f'{wins}/{len(pairs)}':7s} {'yes' if clear else 'no'}")
    keys = sorted({k for side in runs.values() for r in side for k in r["detail"]})
    if keys:
        width = max(len(k) for k in keys)
        print(f"\n{'detail':{width}s} {'rev median':>12s} {'tree median':>12s}")
        for key in keys:
            meds = []
            for side in ("rev", "tree"):
                xs = [r["detail"][key] for r in runs[side] if key in r["detail"]]
                meds.append(f"{statistics.median(xs):.4g}" if xs else "-")
            print(f"{key:{width}s} {meds[0]:>12s} {meds[1]:>12s}")
    bad = [f"{side} seed {r['seed']}: {r['note']}" for side in ("rev", "tree")
           for r in runs[side] if r["note"]]
    print("every run correct, 0 failed ops" if not bad else "\n".join(bad))


if __name__ == "__main__":
    main()
