#!/usr/bin/env python3
"""Paired perfbench comparison of two git revisions.

    python3 tools/pairbench.py <base-rev> <change-rev> <workload> <pairs>

Exports each revision with `git archive` into a clean checkout (two
sibling directories of equal path length under a fresh temporary
directory, honouring TMPDIR), builds each once, then runs `<pairs>`
pairs of `perfbench/run.py --workload <workload>` at BENCHMARK.json's
run length. Both runs of a pair share one fresh random seed, and the
side that runs first alternates from pair to pair, so slow drift of the
machine falls on both sides alike.

Prints every run, then per end-to-end metric: each side's median, the
base's interquartile range, how many pairs the change won, and the
median's relative change in the metric's worse direction against its
bound (positive = worse). The checkouts are removed at the end.
"""
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checkout(rev, path):
    os.makedirs(path)
    archive = subprocess.run(["git", "-C", REPO, "archive", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", path], input=archive, check=True)


def build(path):
    # perfbench's own build step (it skips the build when its source
    # digest is unchanged, so the timed runs never rebuild)
    subprocess.run([sys.executable, "-c",
                    "import sys; sys.path.insert(0, 'perfbench'); "
                    "import run; run.build()"], cwd=path, check=True)


def run_once(path, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=path, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"perfbench failed in {path} (seed {seed})")
    res = json.loads(lines[-1])
    values = {k: v["value"] for k, v in res["metrics"].items()}
    values["fail_frac"] = res["failed"] / max(res["attempted"], 1)
    return values


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    base_rev, change_rev, workload, pairs = sys.argv[1:]
    pairs = int(pairs)
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    root = tempfile.mkdtemp(prefix="pairbench-")
    sides = {"base": os.path.join(root, "a"),
             "change": os.path.join(root, "b")}
    try:
        for side, rev in (("base", base_rev), ("change", change_rev)):
            checkout(rev, sides[side])
            build(sides[side])
        runs = {"base": [], "change": []}
        rng = random.SystemRandom()
        for i in range(pairs):
            seed = rng.randrange(1, 2 ** 31)
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                runs[side].append(run_once(sides[side], workload, seed,
                                           seconds))
            print(f"pair {i + 1} seed {seed} first {order[0]}: " +
                  "  ".join(f"{m['name']} {runs['base'][-1][m['name']]:.4g}"
                            f" -> {runs['change'][-1][m['name']]:.4g}"
                            for m in spec["end_to_end"]), flush=True)
        print(f"\n{workload}: {pairs} pairs, {base_rev} -> {change_rev}")
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            a = [r[name] for r in runs["base"]]
            b = [r[name] for r in runs["change"]]
            ma, mb = statistics.median(a), statistics.median(b)
            q1, q3 = quartiles(a)
            wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
            worse = ((mb - ma) if lower else (ma - mb)) / ma
            print(f"  {name}: median {ma:.4g} -> {mb:.4g}  base IQR "
                  f"{q1:.4g}-{q3:.4g} ({q3 - q1:.4g})  change wins "
                  f"{wins}/{pairs}  worse by {worse:+.3f} (bound "
                  f"{m['bound']})")
        print("  fail_frac max: " + "  ".join(
            f"{side} {max(r['fail_frac'] for r in runs[side])}"
            for side in ("base", "change")))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
