"""Paired A/B runs of the benchmark between two git refs.

    python3 tools/perf_ab.py BASE HEAD --workload copy_ingest --pairs 10

Each ref is exported (``git archive``) to a temporary directory, where the
unchanged ``perfbench/run.py`` runs untraced for BENCHMARK.json's
``run_seconds``, once per side per pair, alternating which side goes first.
Prints each run's metrics and ``window_cpu_steal``, then per metric each
side's quartiles, the pairs HEAD won and the change of HEAD's median from
BASE's. An end-to-end metric also shows its ``bound`` from BENCHMARK.json,
and ``BREACH`` when HEAD's median is worse than BASE's by more than that
bound (the no-regression rule). Every metric shows whether the claim rule
holds: HEAD wins at least nine tenths of the pairs and its median is better
than BASE's by more than BASE's q3 - q1 (``claim met``, else ``claim not
met``). The detail line's per-class medians
(``op_p50_ms_by_type``: request class for copy_ingest, query for
sql_analytics) get the same table as ``op_p50_ms[class]``, so a change that
moves one class and leaves the others alone shows as such. Exits 1 if a
run's correctness check failed (perfbench's stderr, which names the check,
passes through).
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


def export(ref: str, dest: str) -> None:
    os.makedirs(dest)
    tar = subprocess.run(["git", "-C", ROOT, "archive", ref], check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)


def run(tree: str, args, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(seconds)]
    out = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
    detail, result = json.loads(out[-2])["detail"], json.loads(out[-1])
    row = {name: m["value"] for name, m in result["metrics"].items()}
    row |= {f"op_p50_ms[{cls}]": ms for cls, ms in detail["op_p50_ms_by_type"].items()}
    return row | {"window_cpu_steal": detail["window_cpu_steal"], "correct": result["correct"]}


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("base")
    p.add_argument("head")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    work = tempfile.mkdtemp(prefix="perf_ab-")
    try:
        trees = {side: os.path.join(work, side) for side in ("base", "head")}
        for side, tree in trees.items():
            export(getattr(args, side), tree)
        runs = {"base": [], "head": []}
        for i in range(args.pairs):
            for side in ("base", "head") if i % 2 == 0 else ("head", "base"):
                runs[side].append(run(trees[side], args, bench["run_seconds"]))
                print(f"pair {i + 1} {side}: " + " ".join(f"{k}={v:.4g}" for k, v in runs[side][-1].items()), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    classes = sorted({k for side in runs.values() for r in side for k in r if k.startswith("op_p50_ms[")})
    for name, direction in [*better.items(), *((c, "lower") for c in classes)]:
        b, h = ([r[name] for r in runs[side] if name in r] for side in ("base", "head"))
        if b and h:
            wins = sum((y < x) if direction == "lower" else (y > x) for x, y in zip(b, h))
            fmt = " -> ".join("/".join(f"{v:.4g}" for v in quartiles(xs)) for xs in (b, h))
            change = statistics.median(h) / statistics.median(b) - 1
            worse = change if direction == "lower" else -change
            limit = ""
            if name in bound:
                limit = f" (bound {bound[name]:.0%}{', BREACH' if worse > bound[name] else ''})"
            b1, _, b3 = quartiles(b)
            gain = statistics.median(b) - statistics.median(h)
            gain = gain if direction == "lower" else -gain
            claim = "met" if wins >= 0.9 * len(h) and gain > b3 - b1 else "not met"
            print(f"{name:12s} base q1/med/q3 -> head: {fmt}  head wins {wins}/{len(h)}"
                  f"  median {change:+.1%}{limit}  claim {claim}")
    print("steal base/head per pair: " + " ".join(
        f"{x['window_cpu_steal']:.3f}/{y['window_cpu_steal']:.3f}" for x, y in zip(runs["base"], runs["head"])))
    return 0 if all(r["correct"] for side in runs.values() for r in side) else 1


if __name__ == "__main__":
    sys.exit(main())
