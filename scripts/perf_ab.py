"""Alternating before/after perfbench runs: a base ref against the working tree.

    python scripts/perf_ab.py --base HEAD --workload clinical_checkpointed \
        --pairs 3 --seeds 1,2,3,4 [--seconds 15] [--json out.json]

Run from the repository root. The base ref is exported with ``git
archive`` and the working tree (tracked and untracked, not ignored files,
as they are on disk) is copied, each into its own temporary directory,
so both sides build and generate their inputs from clean copies. For
every seed and pair it runs ``perfbench/run.py --trace 0`` once per side,
base first on even pairs and change first on odd ones, so host drift
does not favour one side. It then prints, per end-to-end metric of
``BENCHMARK.json``: each side's median and quartiles, the change's
median gain, the number of pairs the change won, and whether the median
gap exceeds the base's interquartile range. Every run whose result says
``correct`` false, has ``failed`` > 0 or did not finish is listed.
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


def export_base(ref: str, dest: str) -> None:
    archive = subprocess.run(["git", "archive", ref], cwd=ROOT, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def export_worktree(dest: str) -> None:
    out = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        cwd=ROOT, check=True, capture_output=True).stdout
    for rel in filter(None, out.decode().split("\0")):
        src = os.path.join(ROOT, rel)
        if not os.path.isfile(src):
            continue  # deleted in the working tree
        os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
        shutil.copy2(src, os.path.join(dest, rel))


def run_once(side_dir: str, workload: str, seed: int, seconds: float
             ) -> dict:
    """One ``--trace 0`` run; its parsed result line, or an error record."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=side_dir, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "failed": None, "metrics": {},
                "error": f"exit {p.returncode}: {p.stderr[-500:]}"}
    res["metrics"] = {k: v["value"] for k, v in res["metrics"].items()}
    return res


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], metrics: list[dict]) -> list[str]:
    out = []
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        pairs = [(r["base"]["metrics"].get(name),
                  r["change"]["metrics"].get(name)) for r in runs]
        pairs = [(b, c) for b, c in pairs if b is not None and c is not None]
        if not pairs:
            continue
        base = [b for b, _ in pairs]
        change = [c for _, c in pairs]
        bq, cq = quartiles(base), quartiles(change)
        wins = sum((c > b) if higher else (c < b) for b, c in pairs)
        gap = cq[1] - bq[1]
        out.append(
            f"{name:12s} base {bq[1]:10.3f} [{bq[0]:.3f}, {bq[2]:.3f}]  "
            f"change {cq[1]:10.3f} [{cq[0]:.3f}, {cq[2]:.3f}]  "
            f"{gap / bq[1]:+7.1%}  change better in {wins}/{len(pairs)}  "
            f"|gap| {'>' if abs(gap) > bq[2] - bq[0] else '<='} base IQR "
            f"({m['better']} is better)")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git ref of the base side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=3, help="pairs per seed")
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--json", help="write every run's result here")
    a = ap.parse_args(argv)
    seeds = [int(s) for s in a.seeds.split(",")]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    tmp = tempfile.mkdtemp(prefix="perf_ab-")
    sides = {"base": os.path.join(tmp, "base"),
             "change": os.path.join(tmp, "change")}
    try:
        for d in sides.values():
            os.makedirs(d)
        export_base(a.base, sides["base"])
        export_worktree(sides["change"])
        runs = []
        for seed in seeds:
            for k in range(a.pairs):
                order = ("base", "change") if k % 2 == 0 else ("change", "base")
                pair = {"seed": seed, "pair": k}
                for side in order:
                    pair[side] = run_once(sides[side], a.workload, seed,
                                          a.seconds)
                    shown = ", ".join(f"{n}={v:.4g}" for n, v in
                                      pair[side]["metrics"].items())
                    print(f"seed {seed} pair {k} {side:6s} {shown}",
                          flush=True)
                runs.append(pair)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"\n{a.workload}: {len(runs)} pairs, seeds {a.seeds}, "
          f"base {a.base} vs working tree")
    for line in summarize(runs, metrics):
        print(line)
    bad = [(r["seed"], r["pair"], side, r[side]) for r in runs
           for side in ("base", "change")
           if not r[side].get("correct") or r[side].get("failed")]
    for seed, k, side, res in bad:
        print(f"BAD RUN seed {seed} pair {k} {side}: correct="
              f"{res.get('correct')} failed={res.get('failed')} "
              f"{res.get('error', '')}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(runs, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
