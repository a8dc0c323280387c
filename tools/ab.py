"""Interleaved A/B of the perfbench end-to-end metrics between two refs.

    python3 tools/ab.py --workload grade_ingest --base HEAD~1 --change HEAD \\
        --seeds 1-10 [--out ab.json]

Runs ``perfbench/run.py --trace 0`` for the ``run_seconds`` that
BENCHMARK.json sets, in pairs, one pair per seed (a
seed may repeat: ``--seeds 1009x6`` is six pairs on seed 1009).  Each
side of a pair runs from a fresh copy of its ref, extracted into a new
directory, in a fresh process, and the copy is deleted afterwards, so
no build output, cache or table state carries over from one run to
the next.  The order alternates (base first in even pairs, change
first in odd ones), so host drift over the whole A/B lands on both
sides alike.

A ref is anything ``git archive`` accepts, or ``worktree``: the files
of the current checkout that git tracks or would track (uncommitted
edits included, ignored files left out).

For every end-to-end metric of BENCHMARK.json the report gives each
side's median and quartiles, the base's spread (IQR / median), and in
how many pairs the change was better.  Failed ops are summed per side.
``--out`` also keeps every run's raw result as JSON.
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
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    """``1-10``, ``1,3,5``, ``1009x6`` or a comma list of those."""
    seeds: list[int] = []
    for part in spec.split(","):
        if "x" in part:
            seed, n = part.split("x")
            seeds += [int(seed)] * int(n)
        elif "-" in part:
            lo, hi = part.split("-")
            seeds += list(range(int(lo), int(hi) + 1))
        else:
            seeds.append(int(part))
    return seeds


def checkout(ref: str, dest: str) -> None:
    """Extract ``ref`` (or the working tree for ``worktree``) into the
    empty directory ``dest``."""
    if ref == "worktree":
        files = subprocess.run(
            ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
            cwd=ROOT, check=True, capture_output=True,
        ).stdout.decode().split("\0")
        for rel in filter(None, files):
            src = os.path.join(ROOT, rel)
            if not os.path.isfile(src):
                continue  # deleted but not yet staged
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))
        return
    archive = subprocess.run(
        ["git", "archive", "--format=tar", ref],
        cwd=ROOT, check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_one(ref: str, workload: str, seed: int, seconds: float, workdir: str) -> dict:
    """One fresh-copy, fresh-process perfbench run; its JSON result."""
    dest = tempfile.mkdtemp(prefix="ab-", dir=workdir)
    try:
        checkout(ref, dest)
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=dest, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            raise RuntimeError(f"perfbench run of {ref} seed {seed} exited {proc.returncode}")
        return json.loads(lines[-1])
    finally:
        shutil.rmtree(dest, ignore_errors=True)


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, med, q3


def report(pairs: list[dict], metrics: list[dict]) -> list[str]:
    out = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [
            (p["base"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
            for p in pairs
            if name in p["base"]["metrics"] and name in p["change"]["metrics"]
        ]
        if not got:
            continue
        base = [b for b, _ in got]
        change = [c for _, c in got]
        bq1, bmed, bq3 = quartiles(base)
        cq1, cmed, cq3 = quartiles(change)
        wins = sum((c < b) if lower else (c > b) for b, c in got)
        out.append(
            f"{name:12s} base {bmed:8.3f} [{bq1:.3f}, {bq3:.3f}]  "
            f"change {cmed:8.3f} [{cq1:.3f}, {cq3:.3f}]  "
            f"delta {100 * (cmed - bmed) / bmed:+6.1f}%  "
            f"base IQR/median {(bq3 - bq1) / bmed:.3f}  "
            f"change better in {wins}/{len(got)} pairs"
        )
    for side in ("base", "change"):
        out.append(
            f"{side}: {sum(p[side]['failed'] for p in pairs)} failed of "
            f"{sum(p[side]['attempted'] for p in pairs)} attempted"
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--base", required=True, help="git ref, or 'worktree'")
    ap.add_argument("--change", required=True, help="git ref, or 'worktree'")
    ap.add_argument("--seeds", required=True, help="e.g. 1-10, 1,2,3 or 1009x6")
    ap.add_argument("--workdir", default=None, help="where the fresh copies go")
    ap.add_argument("--out", default=None, help="write every run's result here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    workdir = args.workdir or tempfile.mkdtemp(prefix="ab-")
    os.makedirs(workdir, exist_ok=True)
    pairs = []
    try:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"seed": seed, "order": list(order)}
            for side in order:
                t0 = time.time()
                pair[side] = run_one(
                    getattr(args, side), args.workload, seed, seconds, workdir
                )
                vals = {k: v["value"] for k, v in pair[side]["metrics"].items()}
                print(f"pair {i} seed {seed} {side}: {vals} failed "
                      f"{pair[side]['failed']} ({time.time() - t0:.0f} s)", flush=True)
            pairs.append(pair)
            if args.out:
                with open(args.out, "w") as fh:
                    json.dump({"args": vars(args), "pairs": pairs}, fh, indent=1)
    finally:
        if args.workdir is None:
            shutil.rmtree(workdir, ignore_errors=True)
    print(f"\n{args.workload}: {args.base} (base) vs {args.change} (change), "
          f"{len(pairs)} pairs")
    for line in report(pairs, metrics):
        print(line)


if __name__ == "__main__":
    main()
