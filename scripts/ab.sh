#!/usr/bin/env bash
# Paired A/B of two commits on one perfbench workload.
#
#   scripts/ab.sh <parent-rev> <change-rev> --perfbench <workload> [--pairs 10]
#                 [--seed 1] [--workdir DIR] [--keep]
#
# Exports each rev's committed files (git archive) into its own directory
# under --workdir (default: a new directory under ${TMPDIR:-/tmp}) and
# builds each once. Pair i runs both sides untraced on seed --seed + i for
# the change's BENCHMARK.json run_seconds, the parent first in even pairs
# and the change first in odd ones. For each end-to-end metric of
# BENCHMARK.json it prints both medians, the parent's quartiles, how many
# pairs the change won (ties count for neither) and the verdict: "win" when
# the change is better in at least 9 of 10 pairs and its median beats the
# parent's by more than the parent's interquartile range, "loss" for the
# same the other way, else "unresolved"; fewer than 10 pairs always read
# "unresolved". Every run's metrics go to ab.json in the work directory;
# the exported trees are removed at the end unless --keep is given. Needs
# the Python standard library and sbt.
set -euo pipefail
cd "$(git -C "$(dirname "$0")" rev-parse --show-toplevel)"
exec python3 - "$@" <<'PY'
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ap = argparse.ArgumentParser(prog="scripts/ab.sh")
ap.add_argument("parent")
ap.add_argument("change")
ap.add_argument("--perfbench", required=True, metavar="WORKLOAD")
ap.add_argument("--pairs", type=int, default=10)
ap.add_argument("--seed", type=int, default=1)
ap.add_argument("--workdir")
ap.add_argument("--keep", action="store_true")
a = ap.parse_args()
if a.pairs < 1:
    ap.error("--pairs must be at least 1")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def rev(r):
    return subprocess.run(["git", "rev-parse", "--verify", r + "^{commit}"],
                          check=True, capture_output=True, text=True).stdout.strip()


work = a.workdir or tempfile.mkdtemp(prefix="ab.", dir=os.environ.get("TMPDIR", "/tmp"))
os.makedirs(work, exist_ok=True)
sides = {"parent": rev(a.parent), "change": rev(a.change)}
trees = {}
for side, sha in sides.items():
    tree = os.path.join(work, side)
    shutil.rmtree(tree, ignore_errors=True)
    os.makedirs(tree)
    archive = subprocess.Popen(["git", "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab: git archive {sha} failed")
    log(f"ab: {side} {sha[:12]} -> {tree}; building")
    subprocess.run([sys.executable, "-c", "import sys; sys.path.insert(0, 'perfbench'); "
                    "import run; run.build()"], cwd=tree, check=True)
    trees[side] = tree

with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
    benchmark = json.load(f)
metrics, seconds = benchmark["end_to_end"], benchmark["run_seconds"]


def bench(side, seed):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", a.perfbench,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=trees[side], capture_output=True, text=True)
    with open(os.path.join(work, f"{side}.log"), "a") as f:
        f.write(f"--- seed {seed}\n{proc.stderr}")
    if proc.returncode != 0:
        sys.exit(f"ab: {side} run on seed {seed} exited {proc.returncode}:\n"
                 + proc.stderr[-2000:])
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    return {"seed": seed, "correct": out["correct"],
            **{k: v["value"] for k, v in out["metrics"].items()}}


runs = {"parent": [], "change": []}
for i in range(a.pairs):
    seed = a.seed + i
    for side in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
        runs[side].append(bench(side, seed))
    p, c = runs["parent"][-1], runs["change"][-1]
    log(f"ab: pair {i + 1}/{a.pairs} seed {seed}: "
        + ", ".join(f"{m['name']} {p[m['name']]:.6g}/{c[m['name']]:.6g}" for m in metrics))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


print(f"{a.perfbench}: parent {sides['parent'][:12]}, change {sides['change'][:12]}, "
      f"{a.pairs} pairs from seed {a.seed}, --seconds {seconds:g}")
print(f"correct runs: parent {sum(r['correct'] for r in runs['parent'])}/{a.pairs}, "
      f"change {sum(r['correct'] for r in runs['change'])}/{a.pairs}")
print(f"{'metric':22s} {'parent':>12s} {'[q1 - q3]':>27s} {'change':>12s} "
      f"{'gap':>8s} {'won':>6s}  verdict")
verdicts = {}
for m in metrics:
    name, sign = m["name"], (1 if m["better"] == "higher" else -1)
    ps = [r[name] for r in runs["parent"]]
    cs = [r[name] for r in runs["change"]]
    won = sum(sign * (c - p) > 0 for p, c in zip(ps, cs))
    lost = sum(sign * (c - p) < 0 for p, c in zip(ps, cs))
    pm, cm = statistics.median(ps), statistics.median(cs)
    q1, q3 = quartiles(ps)
    beyond = a.pairs >= 10 and abs(cm - pm) > q3 - q1
    if 10 * won >= 9 * a.pairs and beyond and sign * (cm - pm) > 0:
        verdict = "win"
    elif 10 * lost >= 9 * a.pairs and beyond and sign * (cm - pm) < 0:
        verdict = "loss"
    else:
        verdict = "unresolved"
    verdicts[name] = verdict
    gap = f"{100 * (cm - pm) / pm:+.1f}%" if pm else "n/a"
    print(f"{name:22s} {pm:12.6g} [{q1:12.6g} - {q3:12.6g}] {cm:12.6g} "
          f"{gap:>8s} {won:>3d}/{a.pairs:<2d}  {verdict}")

with open(os.path.join(work, "ab.json"), "w") as f:
    json.dump({"workload": a.perfbench, "revs": sides, "seconds": seconds,
               "seed": a.seed, "runs": runs, "verdicts": verdicts}, f, indent=1)
if not a.keep:
    for tree in trees.values():
        shutil.rmtree(tree, ignore_errors=True)
print(f"runs: {os.path.join(work, 'ab.json')}")
PY
