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
each side's median and quartiles, the median ratio work/base, how many
pairs each side won (by the metric's ``better`` direction), and a
verdict against the metric's ``bound`` (see ``verdict``).  It prints the
same numbers, without a verdict, for two ungated per-run timings the run
reports on stderr (``commit_p50_s``, ``catchup_events_per_s``), and each
side's correct runs and failed operations.  Exit status 1 when a run
fails or is not correct, or when a metric is worse beyond its bound."""

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
GAIN_PAIRS = 10  # fewest pairs a gain may be shown on


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


def verdict(base: list[float], work: list[float], better: str, bound: float) -> str:
    """One end-to-end metric's verdict over paired runs (``base[i]`` and
    ``work[i]`` are pair ``i``).

    ``worse beyond bound``: the work median is worse than the base median
    by more than ``bound`` (a fraction of the base median).
    ``gain shown``: otherwise, when at least ``GAIN_PAIRS`` pairs ran,
    the work run won at least nine tenths of them (a tie counts for
    neither side) and the work median is better than the base median by
    more than the base interquartile range.
    ``unresolved``: otherwise, when the base runs spread wider than the
    bound (interquartile range over median) and not every work run beats
    every base run.  ``within bound``: otherwise."""
    sign = 1 if better == "lower" else -1
    q1, med, q3 = quartiles(base)
    shift = sign * (statistics.median(work) - med)
    if shift > bound * abs(med):
        return "worse beyond bound"
    wins = sum(1 for b, w in zip(base, work) if sign * (w - b) < 0)
    if len(base) >= GAIN_PAIRS and 10 * wins >= 9 * len(base) and -shift > q3 - q1:
        return "gain shown"
    if q3 - q1 > bound * abs(med) and not all(
        sign * (w - b) < 0 for w in work for b in base
    ):
        return "unresolved"
    return "within bound"


def report(
    name: str, unit: str, better: str, pairs: list[dict], bound: float | None = None
) -> str | None:
    """Print one metric's paired summary; return its verdict when a
    ``bound`` is given (``None`` without one or without paired values)."""
    both = [p for p in pairs if name in p["base"] and name in p["work"]]
    if not both:
        print(f"{name}: no paired values")
        return None
    note = ", ungated" if bound is None else f", bound {bound}"
    print(f"{name} ({unit}, {better} is better{note})")
    med, xs = {}, {}
    for side in ("base", "work"):
        xs[side] = [p[side][name] for p in both]
        q1, med[side], q3 = quartiles(xs[side])
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
    if bound is None:
        return None
    v = verdict(xs["base"], xs["work"], better, bound)
    print(f"  verdict: {v}")
    return v


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
        if report(m["name"], m["unit"], m["better"], values, m["bound"]) == "worse beyond bound":
            ok = False
    for name, (unit, better) in UNGATED.items():
        report(name, unit, better, values)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
