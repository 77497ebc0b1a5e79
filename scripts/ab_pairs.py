"""Alternating parent/change A/B pairs of the benchmark for one workload.

    python3 scripts/ab_pairs.py --parent <rev> --change <rev> \\
        --workload board --seeds 4-13 [--seconds 10] [--work DIR]

Each pair runs ``perfbench/run.py --trace 0`` once per arm with the same
seed, one run at a time, each in a fresh ``git archive`` checkout of the
arm's revision; the arm that runs first alternates from pair to pair, so a
drift of the host (CPU steal, thermal state) hits both arms alike. Per
end-to-end metric it prints each arm's median and quartiles, the change's
relative gap, its wins over the pairs, and whether the median gap exceeds
the parent's interquartile range; per run it prints ``failed/attempted``.
Every run's result line is appended to ``<work>/ab_pairs.jsonl``.

To measure uncommitted work, stage it and pass ``--change "$(git stash
create)"``: a commit of the working tree that leaves the tree untouched.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    """``4-13`` or ``1,3,5``."""
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def checkout(rev: str, work: str) -> str:
    """A fresh copy of ``rev``'s committed files under ``work``."""
    dest = tempfile.mkdtemp(prefix=rev[:10] + "-", dir=work)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_arm(rev: str, args, seed: int) -> dict:
    src = checkout(rev, args.work)
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=src, capture_output=True, text=True, timeout=args.timeout,
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{rev} seed {seed} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(metrics: list[dict], runs: list[dict]) -> None:
    print(f"\n{len(runs)} pairs; quartiles by linear interpolation")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [r["parent"]["metrics"][name]["value"] for r in runs]
        chg = [r["change"]["metrics"][name]["value"] for r in runs]
        (p1, pm, p3), (c1, cm, c3) = quartiles(par), quartiles(chg)
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        gap = abs(cm - pm)
        better = (cm < pm) if lower else (cm > pm)
        print(f"{name:>17}  parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  "
              f"change {cm:.4g} [{c1:.4g}, {c3:.4g}]  "
              f"{(cm - pm) / pm:+.1%}  wins {wins}/{len(runs)}  "
              f"gap {gap:.4g} {'>' if gap > p3 - p1 else '<='} parent IQR {p3 - p1:.4g}"
              f"{'' if better else ' (change worse)'}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workload", required=True, choices=("pipeline_daily", "board"))
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--timeout", type=float, default=300.0, help="per run, in s")
    ap.add_argument("--work", default=os.path.join(tempfile.gettempdir(), "ab_pairs"))
    args = ap.parse_args(argv)

    revs = {arm: subprocess.run(["git", "-C", ROOT, "rev-parse", getattr(args, arm)],
                                check=True, capture_output=True, text=True).stdout.strip()
            for arm in ("parent", "change")}
    os.makedirs(args.work, exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    log = os.path.join(args.work, "ab_pairs.jsonl")
    print(f"parent {revs['parent'][:10]}  change {revs['change'][:10]}  "
          f"workload {args.workload}  log {log}", flush=True)

    runs = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for arm in order:
            pair[arm] = run_arm(revs[arm], args, seed)
        runs.append(pair)
        with open(log, "a") as f:
            f.write(json.dumps(dict(pair, revs=revs, workload=args.workload)) + "\n")
        cells = "  ".join(
            f"{arm} failed {pair[arm]['failed']}/{pair[arm]['attempted']} "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in pair[arm]["metrics"].items())
            for arm in order)
        print(f"pair {i + 1} seed {seed}  {cells}", flush=True)
    report(metrics, runs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
