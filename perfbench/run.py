#!/usr/bin/env python3
"""Closed-loop CDC replica benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run, in this fresh process: generate (or reuse) the workload's
inputs for the seed, start a Spark session and one standing query
through ``CdcPipeline.run_stream`` / ``MultiTableCdcRouter.run_stream``,
bootstrap the replica from the initial snapshot plus warm-up steps
(set-up), then run timed steps until ``--seconds`` have passed.  A step
hands the query one backlog file, waits for its micro-batch to commit,
then reads the replica (point lookups and full scans), so commits and
reads are sampled over the whole timed window.  Every read and the final
replica are checked against the generator's last-write-wins model.  The
last line of stdout is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics from a traced run with ``--trace 1``.  See README.md for the metric
definitions.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

PROC_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

import measure  # noqa: E402
from generate import WIRE_DDL, generate  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

# Driver heap for a 15 GB shared host (the session default is 48g).
DRIVER_MEMORY = "1g"
# Spark task slots.  Commits are mostly per-job driver work: two slots
# commit as fast as four, and leave CPUs for the driver, JIT and GC
# threads, so a stalled or stolen CPU delays fewer of a stage's tasks.
TASK_SLOTS = 2
QUERY_TIMEOUT_S = 90  # longest wait for one micro-batch to commit
MIN_COMMITS = 3  # timed steps a run makes even when --seconds has passed
# Enough reads for a tail percentile with 10 samples beyond it.
MIN_READS = measure.MIN_BEYOND + 1


def ensure_inputs(wl: Workload, seed: int) -> tuple[str, dict]:
    """Inputs cached per (workload, seed) under ``.work/inputs``."""
    spec = hashlib.blake2b(repr(wl).encode(), digest_size=4).hexdigest()
    d = os.path.join(WORK, "inputs", f"{wl.name}-{seed}-{spec}")
    model_path = os.path.join(d, "model.json")
    if not os.path.exists(model_path):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(wl, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(model_path) as f:
        return os.path.join(d, "files"), json.load(f)


def save_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)


def configure_spark_env(run_dir: str, cpus: int) -> None:
    """Benchmark settings for the session ``get_session`` builds: task
    slots, driver heap, and scratch space inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp  # py4j's connection-info file
    tempfile.tempdir = None
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


class Replica:
    """The system under test for one workload: a CdcPipeline for one
    table or a MultiTableCdcRouter for several, plus the file stream
    that feeds it."""

    def __init__(self, spark, wl: Workload, root: str):
        from pyspark.sql import types as T

        from mysql_postgres_debezium_cdc_spark.sources.debezium import CdcConfig
        from mysql_postgres_debezium_cdc_spark.streaming.cdc import (
            CdcPipeline,
            MultiTableCdcRouter,
        )

        self.spark, self.wl, self.root = spark, wl, root
        self.tables = {t.name: t for t in wl.tables}
        self.src = os.path.join(root, "src")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.src, exist_ok=True)
        types = {"long": T.LongType(), "double": T.DoubleType(), "string": T.StringType()}
        specs = {
            t.name: (T.StructType([T.StructField(f, types[ty]) for f, ty in t.fields]), t.row_cols)
            for t in wl.tables
        }
        state = os.path.join(root, "state")
        if len(wl.tables) == 1:
            t = wl.tables[0]
            self.system = CdcPipeline(spark, specs[t.name][0], t.pk, t.row_cols, state)
            self.sinks = {t.name: self.system.sink}
        else:
            self.system = MultiTableCdcRouter(
                spark, CdcConfig.from_properties(wl.config), specs, state
            )
            self.sinks = {n: p.sink for n, p in self.system.pipelines.items()}
        self.state_root = state
        self.query = None

    def start(self) -> None:
        """Start the standing query: default trigger, one file per micro-batch."""
        stream = (
            self.spark.readStream.schema(WIRE_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = self.system.run_stream(stream, self.ckpt, trigger_once=False)
        self.batches = 0

    def commit(self, path: str):
        """Hand the query one file and wait until its micro-batch has
        committed; returns that batch's ``StreamingQueryProgress``.  A hard
        link keeps the generator's mtime, which orders the file source.
        The batch's entry in the checkpoint's commit log, written last in a
        trigger, is watched from Python so the wait makes no JVM calls."""
        os.link(path, os.path.join(self.src, os.path.basename(path)))
        batch = self.batches
        logged = os.path.join(self.ckpt, "commits", str(batch))
        deadline = time.monotonic() + QUERY_TIMEOUT_S
        check = time.monotonic() + 0.5
        while True:
            if os.path.exists(logged) or time.monotonic() >= check:
                p = self.query.lastProgress
                if p is not None and p.batchId == batch:
                    break
                if not self.query.isActive:
                    raise RuntimeError(f"stream failed: {self.query.exception()}")
                if time.monotonic() > deadline:
                    raise TimeoutError(f"batch {batch} did not commit within {QUERY_TIMEOUT_S} s")
                check = time.monotonic() + 0.5
            time.sleep(0.005)
        self.batches += 1
        return p

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


def point_read(replica: Replica, lookup: dict) -> bool:
    import pyspark.sql.functions as F

    t = replica.tables[lookup["table"]]
    df = replica.sinks[t.name].read()
    for c, v in zip(t.pk, lookup["pk"]):
        df = df.where(F.col(c) == F.lit(v))
    got = [tuple(r) for r in df.select(*t.pk, *t.row_cols, "_cdc_offset").collect()]
    want = [tuple(lookup["expect"])] if lookup["expect"] else []
    return got == want


def scan_read(replica: Replica, table: str, expect: dict) -> bool:
    import pyspark.sql.functions as F

    t = replica.tables[table]
    row = replica.sinks[table].read().agg(F.count(F.lit(1)), F.sum(t.sum_col)).collect()[0]
    return row[0] == expect["rows"] and (row[1] or 0) == expect["sum"]


def attempt(fn, *args) -> bool:
    """One read operation; a raised error counts as a failed operation."""
    try:
        return fn(*args)
    except Exception:
        traceback.print_exc()
        return False


class Reads:
    """The reads of one step, after file ``b`` has committed: point
    lookups and full-replica scans, alternating, each checked against the
    model's answer for that file."""

    def __init__(self, replica: Replica, model: dict):
        self.replica, self.model = replica, model
        self.point: list[float] = []
        self.scan: list[float] = []
        self.attempted = self.failed = 0

    def step(self, b: int, n: int | None = None) -> None:
        expect = self.model["after_file"][b]
        tables = [t.name for t in self.replica.wl.tables]
        per_step = len(expect["point_reads"])
        for j in range(per_step if n is None else n):
            lookup = expect["point_reads"][j % per_step]
            table = tables[(b * per_step + j) % len(tables)]
            for times, fn, arg in (
                (self.point, point_read, (lookup,)),
                (self.scan, scan_read, (table, expect["scans"][table])),
            ):
                s = time.monotonic()
                ok = attempt(fn, self.replica, *arg)
                times.append(time.monotonic() - s)
                self.attempted, self.failed = self.attempted + 1, self.failed + (not ok)


def check_replica(replica: Replica, expect: dict, files: list[str]) -> list[str]:
    """Compare every table with the model after the last committed file
    (row count + value hash) and, for the router, the dead-letter counts
    by reason over ``files``, the files committed so far."""
    from generate import table_digest

    problems = []
    for t in replica.wl.tables:
        df = replica.sinks[t.name].read().select(*t.pk, *t.row_cols, "_cdc_offset")
        got = table_digest(tuple(r) for r in df.collect())
        if got != expect["tables"][t.name]:
            problems.append(f"{t.name}: replica {got} != model {expect['tables'][t.name]}")
    if len(replica.wl.tables) > 1:
        got = dead_letter_counts(replica, files)
        if got != expect["dead_letters"]:
            problems.append(f"dead letters {got} != model {expect['dead_letters']}")
    return problems


def dead_letter_counts(replica: Replica, files: list[str]) -> dict:
    import pyspark.sql.functions as F

    raw = replica.spark.read.schema(WIRE_DDL).parquet(*files)
    reason = (
        F.when(F.col("_error").startswith("unparseable"), "unparseable")
        .when(F.col("_error").startswith("unsupported op"), "unsupported_op")
        .otherwise("unknown_table")
    )
    rows = replica.system.dead_letters(raw).groupBy(reason.alias("r")).count().collect()
    out = {"unparseable": 0, "unsupported_op": 0, "unknown_table": 0}
    out.update({r["r"]: r["count"] for r in rows})
    return out


class Run:
    def __init__(self, wl: Workload, seed: int, seconds: float, trace: bool, cpus: int):
        self.wl, self.seed, self.seconds, self.trace, self.cpus = wl, seed, seconds, trace, cpus
        self.run_dir = os.path.join(WORK, "runs", f"{wl.name}-{seed}-{os.getpid()}")
        self.spark = None
        self.jvm_proc = None
        self.replica = None

    def execute(self) -> dict:
        wl = self.wl
        t = time.monotonic()
        src_dir, model = ensure_inputs(wl, self.seed)
        gen_s = time.monotonic() - t
        baseline = 0.0
        if self.trace and wl.single_thread_baseline:
            baseline = single_thread_catchup(wl, self.seed)
            gen_s = time.monotonic() - t  # the baseline run is not set-up either
        files = [os.path.join(src_dir, f) for f in sorted(os.listdir(src_dir))]
        n_setup = 1 + wl.warmup_batches
        shutil.rmtree(self.run_dir, ignore_errors=True)
        configure_spark_env(self.run_dir, self.cpus)

        from mysql_postgres_debezium_cdc_spark.session import get_session

        t = time.monotonic()
        self.spark = get_session("perfbench")
        self.jvm_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        session_s = time.monotonic() - t
        process_s = t - PROC_START - gen_s  # interpreter and imports

        # Set-up: the snapshot batch, then warm-up steps (commit + reads).
        t = time.monotonic()
        replica = self.replica = Replica(self.spark, wl, os.path.join(self.run_dir, "replica"))
        replica.start()
        replica.commit(files[0])
        snapshot_s = time.monotonic() - t
        reads = Reads(replica, model)
        for b in range(1, n_setup):
            replica.commit(files[b])
            reads.step(b)
        bootstrap_s = time.monotonic() - t
        setup_s = process_s + session_s + bootstrap_s
        attempted, failed = n_setup + reads.attempted, reads.failed

        tracer = None
        if self.trace:
            from tracing import Tracer

            tracer = Tracer(self.spark, replica)
            tracer.install()
        probe_s = measure.cpu_probe_s()
        cpu0 = measure.cpu_times()
        # Timed steps: while the next one is expected to end within
        # --seconds (a traced run makes a fixed number, so its counts
        # repeat for a seed).
        reads = Reads(replica, model)
        progress = []
        b, t0 = n_setup, time.monotonic()
        step_s = 0.0
        while b < len(files) and (
            len(progress) < wl.trace_steps
            if self.trace
            else time.monotonic() - t0 + step_s <= self.seconds or len(progress) < MIN_COMMITS
        ):
            t = time.monotonic()
            progress.append(replica.commit(files[b]))
            reads.step(b)
            b += 1
            step_s = time.monotonic() - t
        window_s = time.monotonic() - t0
        if min(len(reads.point), len(reads.scan)) < MIN_READS:
            reads.step(b - 1, MIN_READS - min(len(reads.point), len(reads.scan)))
        host = {**measure.host_shares(cpu0, measure.cpu_times()), "cpu_probe_s": probe_s}
        if tracer is not None:
            tracer.uninstall()
        replica.stop()
        attempted += len(progress) + reads.attempted
        failed += reads.failed
        # numInputRows counts the batch once per scan, and a commit scans it
        # more than once, so records come from the generator's file sizes.
        events = sum(model["records_per_file"][n_setup:b])
        commits = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
        point, scan = reads.point, reads.scan

        problems = check_replica(replica, model["after_file"][b - 1], files[:b])
        attempted += 1
        failed += bool(problems)
        for p in problems:
            print(f"correctness: {p}", file=sys.stderr)

        state_bytes, _ = measure.dir_bytes(replica.state_root)
        rss = measure.vm_hwm_mb()
        if self.jvm_proc is not None:
            rss += measure.vm_hwm_mb(self.jvm_proc.pid)
        e2e = {
            "setup_s": (setup_s, "s"),
            "state_mb": (state_bytes / 1e6, "MB"),
            "peak_rss_mb": (rss, "MB"),
        }
        # Catch-up, commit and read times swing with the host's CPU steal
        # (see README.md), so they are recorded here and reported by the
        # traced run, not gated.
        info = {
            "workload": wl.name,
            "seed": self.seed,
            "catchup_events_per_s": events / sum(commits),
            "commit_p50_s": measure.median(commits),
            "read_point_p50_s": measure.median(point),
            "read_scan_p50_s": measure.median(scan),
            "commits": len(commits),
            "point_reads": len(point),
            "scan_reads": len(scan),
            "generate_s": gen_s,
            "session_s": session_s,
            "bootstrap_s": bootstrap_s,
            "snapshot_s": snapshot_s,
            "window_s": window_s,
            "host_steal_share": host["steal"],
            "host_iowait_share": host["iowait"],
            "host_cpu_probe_s": probe_s,
            "commit_s": commits,
            "point_s": point,
            "scan_s": scan,
        }
        print(json.dumps(info), file=sys.stderr)
        if tracer is not None:
            layers = tracer.report(
                progress=progress,
                events=events,
                session_s=session_s,
                bootstrap_s=bootstrap_s,
                setup_events=sum(model["records_per_file"][:n_setup]),
                host=host,
                point=point,
                scan=scan,
                out_dir=os.path.join(WORK, "traces"),
                info=info,
                baseline_events_per_s=baseline,
                untraced_commit_p50_s=untraced_commit_p50(wl, self.cpus),
            )
            metrics = layers
        else:
            metrics = e2e
            save_json(
                results_path(wl, self.cpus, self.seed),
                {**info, **{k: v for k, (v, _) in e2e.items()}},
            )
        return {
            "correct": not problems and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def close(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
        if self.replica is not None:
            self.replica.stop()
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            if self.jvm_proc is not None:
                self.jvm_proc.stdin.close()  # the JVM exits on EOF of its stdin
                self.jvm_proc.wait(timeout=60)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def results_path(wl: Workload, cpus: int, seed: int | str) -> str:
    return os.path.join(WORK, "results", f"{wl.name}-c{cpus}-{seed}.json")


def untraced_commit_p50(wl: Workload, cpus: int) -> float | None:
    """Median commit_p50_s of earlier untraced runs of ``wl`` at ``cpus``
    task slots in this checkout."""
    paths = glob.glob(results_path(wl, cpus, "*"))
    values = []
    for path in paths:
        with open(path) as f:
            values.append(json.load(f)["commit_p50_s"])
    return measure.median(values) if values else None


def single_thread_catchup(wl: Workload, seed: int) -> float:
    """Catch-up rate of the same workload and seed at one task slot, from
    an untraced run in a child process (recorded for information)."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", wl.name,
         "--seed", str(seed), "--seconds", "0", "--cpus", "1"],
        capture_output=True, text=True, timeout=120,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"single-thread baseline failed:\n{proc.stderr[-2000:]}")
    with open(results_path(wl, 1, seed)) as f:
        return json.load(f)["catchup_events_per_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1].strip())
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cpus",
        type=int,
        default=min(TASK_SLOTS, len(os.sched_getaffinity(0))),
        help=f"Spark task slots (default: {TASK_SLOTS}, or fewer if fewer CPUs are usable)",
    )
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import mysql_postgres_debezium_cdc_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the CDC package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), args.cpus)
    try:
        result = run.execute()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
