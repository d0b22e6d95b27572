#!/usr/bin/env python3
"""Paired A/B of two checkouts on one workload.

    python3 perfbench/ab.py --parent ../lake-parent --change . \\
        --workload medallion_loads --pairs 10

Copies each checkout's program into a temporary directory beside the
benchmark files of ``--change``, so both sides run identical benchmark
code, then runs them in alternating pairs: pair i uses seed
``--first-seed + i`` on both sides, and the side that goes first
alternates. Every run is untraced and lasts BENCHMARK.json's
``run_seconds``. Refuses to compare a pair whose runs report different
cpus, sf, seed or run length. Prints, per metric, each side's median and
quartiles, the pairs the change won, and a verdict: with at least ten
pairs, a gain needs nine tenths of them won and a median difference wider
than the parent's own quartile spread; a regression is a median worse
than the parent's by more than the metric's bound in BENCHMARK.json.
The pass's wall and CPU times, which have no bound, are compared from the
settings line by the gain rule both ways: a loss is nine tenths of the
pairs lost and a median difference wider than the parent's spread.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
COMPARED = ("workload", "seed", "sf", "cpus", "seconds", "trace")
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
MIN_PAIRS = 10  # fewer alternating pairs cannot support a verdict
UNBOUNDED = ("pass_s", "pass_cpu_s")  # settings-line figures; lower is better


def stage(checkout: Path, bench: Path, into: Path) -> Path:
    """A copy of ``checkout``'s program with the benchmark files of
    ``bench``, so both sides run identical benchmark code."""
    shutil.copytree(checkout, into, ignore=shutil.ignore_patterns(
        ".git", ".perfbench", "perfbench", "__pycache__"))
    shutil.copytree(bench, into / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    return into


def run_once(root: Path, workload: str, seed: int) -> tuple[dict, dict]:
    """One untraced benchmark run in a staged checkout; returns (settings
    line, result)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"run failed in {root} (seed {seed}, rc {proc.returncode}):\n"
                         + proc.stderr[-2000:])
    return json.loads(lines[-2]), json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()

    metrics = {m["name"]: m for m in SPEC["end_to_end"]}
    bench = args.change.resolve() / "perfbench"

    sides: dict[str, list[dict]] = {"parent": [], "change": []}
    with tempfile.TemporaryDirectory() as tmp:
        roots = {name: stage(path.resolve(), bench, Path(tmp) / name)
                 for name, path in (("parent", args.parent), ("change", args.change))}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            runs = {name: run_once(roots[name], args.workload, seed) for name in order}
            settings = {name: {k: run[0]["run"][k] for k in COMPARED}
                        for name, run in runs.items()}
            if settings["parent"] != settings["change"]:
                print(f"refusing to compare pair {i}: {settings}", file=sys.stderr)
                return 2
            for name, (line, result) in runs.items():
                if not result["correct"]:
                    print(f"{name} gave a wrong result on seed {seed}", file=sys.stderr)
                    return 1
                values = {k: v["value"] for k, v in result["metrics"].items()}
                values.update({k: line["report"][k]["value"] for k in UNBOUNDED})
                sides[name].append(values)
            print(f"pair {i + 1}/{args.pairs} done (seed {seed})", file=sys.stderr)

    print(f"{'metric':26} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} {'won':>6}  verdict")
    for name in sides["parent"][0]:
        p = [r[name] for r in sides["parent"]]
        c = [r[name] for r in sides["change"]]
        spec = metrics.get(name, {"better": "lower"})
        sign = -1 if spec["better"] == "lower" else 1
        wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
        losses = sum(1 for a, b in zip(p, c) if sign * (b - a) < 0)
        pq, cq = quartiles(p), quartiles(c)
        resolved = abs(cq[1] - pq[1]) > pq[2] - pq[0]
        if len(p) < MIN_PAIRS:
            verdict = f"unresolved (fewer than {MIN_PAIRS} pairs)"
        elif wins >= 0.9 * len(p) and resolved:
            verdict = "gain"
        elif "bound" in spec and sign * (cq[1] - pq[1]) < -spec["bound"] * abs(pq[1]):
            verdict = "regression"
        elif "bound" not in spec and losses >= 0.9 * len(p) and resolved:
            verdict = "loss (no bound)"
        else:
            verdict = "no gain"
        print(f"{name:26} {'/'.join(f'{v:.4g}' for v in pq):>28} "
              f"{'/'.join(f'{v:.4g}' for v in cq):>28} {wins:>2}/{len(p):<3}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
