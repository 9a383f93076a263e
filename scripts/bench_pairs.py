#!/usr/bin/env python
"""Paired benchmark runs: the working tree against a git revision.

    python scripts/bench_pairs.py BASE_REV --workload W --pairs N [--first-seed S]

``BASE_REV`` is exported with ``git archive`` into a temporary dir.  Pair
``i`` runs the unchanged ``perfbench/run.py --workload W --seed S+i
--trace 0`` once in each tree, with ``--seconds`` the benchmark's
``run_seconds``, one fresh process per run and one run at a time; the
side that runs first alternates from pair to pair, so a slow spell on
the host lands on both sides alike.

For every end-to-end metric that ``BENCHMARK.json`` declares, it prints
each side's median and quartiles, the median ratio work/base, and how
many pairs each side won (by the metric's ``better`` direction).  It
does the same for two ungated per-run timings the run reports on stderr
(``commit_p50_s``, ``catchup_events_per_s``), and prints each side's
correct runs and failed operations.  Exit status 1 when a run fails or
is not correct."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

from gitrev import REPO, export_rev

# Ungated timings from the run's stderr line, with their better direction.
UNGATED = {"commit_p50_s": ("s", "lower"), "catchup_events_per_s": ("events/s", "higher")}
RUN_TIMEOUT_S = 1200


def run_once(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``root``: its result line plus the ungated
    timings, or ``{"error": ...}``."""
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # each run imports only its own tree
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    try:
        proc = subprocess.run(
            cmd, cwd=root, env=env, capture_output=True, text=True, timeout=RUN_TIMEOUT_S
        )
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-500:]}"}
    out = json.loads(lines[-1])
    values = {k: m["value"] for k, m in out["metrics"].items()}
    for line in proc.stderr.splitlines():
        if line.startswith("{") and '"workload"' in line:
            info = json.loads(line)
            values.update({k: info[k] for k in UNGATED})
    return {"correct": out["correct"], "failed": out["failed"], "values": values}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(name: str, unit: str, better: str, pairs: list[dict], note: str = "") -> None:
    both = [p for p in pairs if name in p["base"] and name in p["work"]]
    if not both:
        print(f"{name}: no paired values")
        return
    print(f"{name} ({unit}, {better} is better{note})")
    med = {}
    for side in ("base", "work"):
        xs = [p[side][name] for p in both]
        q1, med[side], q3 = quartiles(xs)
        print(f"  {side}: median {med[side]:.4g} [quartiles {q1:.4g}, {q3:.4g}]")
    sign = 1 if better == "lower" else -1
    wins = {"work": 0, "base": 0, "tie": 0}
    for p in both:
        d = sign * (p["work"][name] - p["base"][name])
        wins["work" if d < 0 else "base" if d > 0 else "tie"] += 1
    ratio = med["work"] / med["base"] if med["base"] else float("nan")
    print(
        f"  work/base median {ratio:.3f}; pairs won: work {wins['work']}, "
        f"base {wins['base']}, tied {wins['tie']}"
    )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base_rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=7001)
    args = ap.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]

    pairs, ok = [], True
    with tempfile.TemporaryDirectory(prefix="bench-base-") as base_root:
        export_rev(args.base_rev, base_root)
        roots = {"base": base_root, "work": REPO}
        print(f"base {args.base_rev} vs work tree {REPO}: {args.workload}, "
              f"{args.pairs} pairs, --seconds {seconds}", flush=True)
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("base", "work") if i % 2 == 0 else ("work", "base")
            pair = {}
            for side in order:
                r = run_once(roots[side], args.workload, seed, seconds)
                if "error" in r or not r["correct"] or r["failed"]:
                    ok = False
                pair[side] = r
                print(f"pair {i + 1} seed {seed} {side}: "
                      + (r["error"] if "error" in r else
                         f"correct {r['correct']} failed {r['failed']} "
                         + json.dumps({k: round(v, 4) for k, v in r["values"].items()})),
                      flush=True)
            pairs.append(pair)

    for side in ("base", "work"):
        runs = [p[side] for p in pairs]
        correct = sum(1 for r in runs if r.get("correct"))
        failed = sum(r.get("failed", 0) for r in runs)
        errors = sum(1 for r in runs if "error" in r)
        print(f"{side}: {correct}/{len(runs)} runs correct, {failed} failed operations, "
              f"{errors} runs errored")
    values = [{s: p[s].get("values", {}) for s in ("base", "work")} for p in pairs]
    for m in bench["end_to_end"]:
        report(m["name"], m["unit"], m["better"], values, f", bound {m['bound']}")
    for name, (unit, better) in UNGATED.items():
        report(name, unit, better, values, ", ungated")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
