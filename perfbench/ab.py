"""Dev A/B helper: the same benchmark code against two engine trees,
interleaved in the same time window.

    python3 perfbench/ab.py --a <rev-or-dir> --b <rev-or-dir> [--workload etl_batch ...] [--pairs 10]

Each side is a git revision of this repository (exported with
``git archive``) or a directory holding a source checkout. Both sides get a
copy of *this* tree's ``perfbench/`` and ``BENCHMARK.json``, so only the
engine differs. Pairs alternate which side runs first; pair ``i`` runs both
sides on seed ``SEED_BASE + i`` for ``run_seconds`` from ``BENCHMARK.json``.
For every end-to-end metric the helper reports each side's median and
quartiles and the share of pairs B won (ties count for neither), and calls a
difference a gain only when B wins at least 90% of the pairs and the medians
differ by more than A's own interquartile distance.
"""

import argparse
import io
import json
import os
import shutil
import subprocess
import sys
import tarfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

ENGINE = ("build.sbt", "project", "src")
SEED_BASE = 1000  # seeds the benchmark's own spread checks do not use


def materialize(side, dest):
    """Put the engine sources of ``side`` plus this benchmark into ``dest``."""
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    if os.path.isdir(side):
        for name in ENGINE:
            src = os.path.join(side, name)
            if os.path.isdir(src):
                shutil.copytree(src, os.path.join(dest, name),
                                ignore=shutil.ignore_patterns("target", ".bsp"))
            elif os.path.exists(src):
                shutil.copy(src, dest)
    else:
        blob = subprocess.run(["git", "archive", side] + list(ENGINE), cwd=ROOT,
                              check=True, capture_output=True).stdout
        with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
            tar.extractall(dest)
    shutil.copytree(HERE, os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)


def run_once(tree, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit("run failed in %s" % tree)
    r = json.loads(p.stdout.strip().splitlines()[-1])
    if not r["correct"]:
        sys.stderr.write("warning: %s seed %d reported failed checks\n" % (tree, seed))
    return {k: v["value"] for k, v in r["metrics"].items()}


def report(workload, a_runs, b_runs):
    print("== %s (%d pairs)" % (workload, len(a_runs)))
    print("  %-14s %32s %32s %8s  verdict" % ("metric", "A q1/median/q3", "B q1/median/q3", "B wins"))
    for m in a_runs[0]:
        a = [r[m] for r in a_runs]
        b = [r[m] for r in b_runs]
        qa, qb = stats.quartiles(a), stats.quartiles(b)
        wins = sum(1 for x, y in zip(a, b) if y < x)
        share = wins / len(a)
        lower = qb[1] < qa[1]
        beyond = abs(qb[1] - qa[1]) > (qa[2] - qa[0])
        verdict = ("B better" if lower else "B worse") if beyond else "within A's spread"
        if lower and not (share >= 0.9 and beyond):
            verdict += "; no gain claimable"
        print("  %-14s %10.4g/%9.4g/%9.4g %10.4g/%9.4g/%9.4g %7.0f%%  %s" % (
            m, qa[0], qa[1], qa[2], qb[0], qb[1], qb[2], 100 * share, verdict))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", required=True, help="baseline: git revision or directory")
    ap.add_argument("--b", required=True, help="change: git revision or directory")
    ap.add_argument("--workload", nargs="+",
                    default=["etl_batch", "etl_stream", "table_lifecycle", "query_mix"])
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    if a.pairs < 10:
        ap.error("at least 10 pairs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    base = os.path.join(ROOT, ".bench_build", "ab")
    trees = {"A": os.path.join(base, "A"), "B": os.path.join(base, "B")}
    materialize(a.a, trees["A"])
    materialize(a.b, trees["B"])
    for w in a.workload:
        for side in ("A", "B"):  # builds on first use; warms the page cache
            run_once(trees[side], w, SEED_BASE - 1, seconds)
        runs = {"A": [], "B": []}
        for i in range(a.pairs):
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            for side in order:
                runs[side].append(run_once(trees[side], w, SEED_BASE + i, seconds))
            print("  pair %d/%d done (%s first)" % (i + 1, a.pairs, order[0]), file=sys.stderr)
        report(w, runs["A"], runs["B"])


if __name__ == "__main__":
    main()
