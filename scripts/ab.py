#!/usr/bin/env python
"""A/B proof of registry keys: the working tree against a git revision.

    python scripts/ab.py BASE_REV KEY [KEY ...]

``BASE_REV`` is exported with ``git archive`` into a temporary dir, and
each tree gets one worker process with its own ``get_session()`` under
the same settings.  For every key the tool reports:

1. ``plan``: whether the analyzed plans (at sf0.01) are equal modulo
   expression ids (``#123``) and lambda-variable counters, with a
   unified diff when they are not;
2. ``rows``: whether the collected rows are equal at sf0.001, sf0.01
   and sf0.1;
3. ``time``: a best-of-6 build + action (noop write) at sf0.1, with the
   two trees interleaved and the side that runs first alternating.

Exit status 1 when any key's rows differ or a side fails; a plan diff
alone is reported, not failed, since a rewrite may change the plan.

Both workers share the host: each gets ``SPARK_DRIVER_MEMORY`` of a
quarter of the host's RAM unless it is set already, and both see the
same ``SPARK_GRAFT_CPUS``.  Fixtures are the test suite's
(``tests/conftest.py``)."""

from __future__ import annotations

import difflib
import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALES = ("sf0.001", "sf0.01", "sf0.1")
PLAN_SCALE = "sf0.01"
TIME_SCALE = "sf0.1"
ROUNDS = 6


def norm_plan(df) -> str:
    txt = re.sub(r"#\d+", "#N", df._jdf.queryExecution().analyzed().toString())
    # lambda variables carry a session-global counter (x_3, y_4, ...)
    return re.sub(r"(lambda [a-z]+)_\d+", r"\1_K", txt)


# -- worker side ---------------------------------------------------------


def worker(root: str) -> None:
    """Serve one tree: read JSON commands on stdin, answer on stdout."""
    sys.path.insert(0, root)
    os.chdir(root)
    import mysql_postgres_debezium_cdc_spark as pkg
    from mysql_postgres_debezium_cdc_spark.registry import all_queries
    from mysql_postgres_debezium_cdc_spark.session import get_session

    if not pkg.__file__.startswith(root):
        raise RuntimeError(f"{pkg.__file__} is not under {root}")
    spark = get_session("ab")
    specs = all_queries()
    reply = sys.stdout
    sys.stdout = sys.stderr  # keep stray prints off the reply channel
    for line in sys.stdin:
        cmd = json.loads(line)
        out: dict = {}
        try:
            fn = specs[cmd["key"]].fn
            sf_dir = cmd["sf"]
            if cmd["op"] == "plan":
                out["plan"] = norm_plan(fn(spark, sf_dir))
            elif cmd["op"] == "rows":
                h = hashlib.sha256()
                rows = fn(spark, sf_dir).collect()
                for r in rows:
                    h.update(repr(r).encode())
                out.update(n=len(rows), digest=h.hexdigest())
            else:  # time
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                out.update(build=t1 - t0, action=time.perf_counter() - t1)
        except Exception as ex:  # noqa: BLE001 — reported per key
            traceback.print_exc()
            out["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
        spark.catalog.clearCache()
        reply.write(json.dumps(out) + "\n")
        reply.flush()
    spark.stop()


# -- driver side ---------------------------------------------------------


class Side:
    def __init__(self, label: str, root: str, env: dict):
        self.label = label
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", root],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            env=env,
            text=True,
        )

    def ask(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"{self.label} worker exited")
        return json.loads(line)

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait()


def worker_env() -> dict:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # each worker imports only its own tree
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    if not env.get("SPARK_DRIVER_MEMORY"):
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        env["SPARK_DRIVER_MEMORY"] = f"{kb // 4096}m"
    return env


def prove(base: Side, work: Side, key: str, testdata: str) -> bool:
    """Print one key's verdicts; False when rows differ or a side fails."""
    ok = True

    def at(sf: str) -> str:
        return os.path.join(testdata, sf)

    print(key, flush=True)
    b, w = (s.ask(op="plan", key=key, sf=at(PLAN_SCALE)) for s in (base, work))
    if "error" in b or "error" in w:
        print(f"  plan: error (base: {b.get('error')}; work: {w.get('error')})")
        return False
    if b["plan"] == w["plan"]:
        print("  plan: equal modulo ids")
    else:
        print("  plan: DIFFERS")
        diff = difflib.unified_diff(
            b["plan"].splitlines(), w["plan"].splitlines(), "base", "work", lineterm=""
        )
        for ln in diff:
            print("    " + ln)
    for sf in SCALES:
        b, w = (s.ask(op="rows", key=key, sf=at(sf)) for s in (base, work))
        if "error" in b or "error" in w:
            print(f"  rows {sf}: error (base: {b.get('error')}; work: {w.get('error')})")
            ok = False
        elif b == w:
            print(f"  rows {sf}: equal ({w['n']} rows)")
        else:
            print(f"  rows {sf}: DIFFER (base {b['n']} rows, work {w['n']} rows)")
            ok = False
    best = {}
    for rnd in range(ROUNDS):
        for side in (base, work) if rnd % 2 == 0 else (work, base):
            t = side.ask(op="time", key=key, sf=at(TIME_SCALE))
            if "error" in t:
                print(f"  time: {side.label} error: {t['error']}")
                return False
            total = t["build"] + t["action"]
            if side.label not in best or total < sum(best[side.label]):
                best[side.label] = (t["build"], t["action"])
    for label in ("base", "work"):
        build, action = best[label]
        print(
            f"  time {TIME_SCALE} best-of-{ROUNDS} {label}: {build + action:.3f} s "
            f"(build {build:.3f} + action {action:.3f})"
        )
    print(f"  time work/base: {sum(best['work']) / sum(best['base']):.3f}", flush=True)
    return ok


def main(argv: list[str]) -> int:
    if len(argv) >= 2 and argv[0] == "--worker":
        worker(argv[1])
        return 0
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from tests.conftest import SF_DIR_SMOKE

    testdata = os.path.dirname(SF_DIR_SMOKE)
    rev, keys = argv[0], argv[1:]
    with tempfile.TemporaryDirectory(prefix="ab-base-") as base_root:
        archive = subprocess.run(
            ["git", "archive", "--format=tar", rev], cwd=REPO, capture_output=True, check=True
        )
        subprocess.run(["tar", "-x", "-C", base_root], input=archive.stdout, check=True)
        env = worker_env()
        print(
            f"base {rev} vs work tree {REPO} "
            f"(cpus {env['SPARK_GRAFT_CPUS']}, driver heap {env['SPARK_DRIVER_MEMORY']} each)",
            flush=True,
        )
        base, work = Side("base", base_root, env), Side("work", REPO, env)
        try:
            results = [prove(base, work, key, testdata) for key in keys]
        finally:
            base.close()
            work.close()
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
