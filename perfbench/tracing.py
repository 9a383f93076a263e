"""Traced run: spans and counts recorded from outside the package.

``Tracer.install`` wraps the package's public CDC functions and the
py4j gateway client for the timed phase only:

- spans (name, start, end, parent, micro-batch id) around
  ``CdcPipeline.process_batch`` / ``.decode``, ``decode_envelope``,
  ``with_change_columns``, ``compact``, ``apply_changes``,
  ``ParquetStateSink.merge`` / ``.read`` and
  ``MultiTableCdcRouter.process_batch``;
- py4j calls and the time spent in them, by wrapping the gateway
  client's ``send_command``;
- JVM GC time and heap use through ``ManagementFactory`` at commit
  boundaries;
- rows, bytes and files of every state version a merge writes, from
  the parquet footers.

Spark plans are lazy, so a span around a builder holds only its driver
build time.  Per commit the tracer therefore also runs the decode prefix
and the decode→compact prefix of each table to a ``noop`` sink
(``prefix.*`` spans, with ``Dataset.observe`` counters); they are left
out of the commit time when layers are attributed.  Spans stay in memory
and are written to one JSON file by ``report``.
"""

from __future__ import annotations

import json
import os
import threading
import time

import measure


class Tracer:
    def __init__(self, spark, replica):
        self.spark, self.replica = spark, replica
        self.spans: list[dict] = []
        self.local = threading.local()
        self.batch: int | None = None
        self.counting = False
        self.py4j = {"calls": 0, "wait": 0.0}
        self.commits: list[dict] = []
        self.writes: list[dict] = []
        self.restore: list[tuple] = []

    # -- spans ------------------------------------------------------------
    def span(self, name: str, fn, *args, **kwargs):
        stack = self.local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "parent": stack[-1]["id"] if stack else None,
            "batch": self.batch,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self.restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def install(self) -> None:
        from mysql_postgres_debezium_cdc_spark.sources import debezium
        from mysql_postgres_debezium_cdc_spark.streaming import cdc

        self.orig = {
            "decode_envelope": debezium.decode_envelope,
            "with_change_columns": cdc.with_change_columns,
            "compact": cdc.compact,
        }

        def spanned(name):
            def wrap(orig):
                def f(*args, **kwargs):
                    return self.span(name, orig, *args, **kwargs)

                return f

            return wrap

        def merge(orig):
            def f(sink, compacted):
                self.span("sink.merge", orig, sink, compacted)
                self.span("trace.footer", self._record_write, sink)

            return f

        def commit(name):
            def wrap(orig):
                def f(system, raw):
                    self._commit(name, orig, system, raw)

                return f

            return wrap

        self._patch(debezium, "decode_envelope", spanned("decode.envelope"))
        self._patch(cdc, "with_change_columns", spanned("decode.change_columns"))
        self._patch(cdc, "compact", spanned("compact"))
        self._patch(cdc, "apply_changes", spanned("sink.apply_changes"))
        self._patch(cdc.CdcPipeline, "decode", spanned("pipeline.decode"))
        self._patch(cdc.ParquetStateSink, "read", spanned("read.open"))
        self._patch(cdc.ParquetStateSink, "merge", merge)
        self._patch(cdc.CdcPipeline, "process_batch", commit("pipeline.process_batch"))
        self._patch(
            cdc.MultiTableCdcRouter, "process_batch", commit("router.process_batch")
        )

        client = self.spark.sparkContext._gateway._gateway_client

        def send_command(orig):
            def f(*args, **kwargs):
                if not self.counting:
                    return orig(*args, **kwargs)
                t = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    self.py4j["calls"] += 1
                    self.py4j["wait"] += time.perf_counter() - t

            return f

        self._patch(client, "send_command", send_command)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self.restore):
            setattr(owner, attr, orig)
        self.restore.clear()

    # -- per-commit work ---------------------------------------------------
    def _jvm_gc_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def _heap_mb(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 1e6

    def _prefixes(self, raw) -> dict:
        """Run each table's decode prefix and decode→compact prefix to a
        noop sink, timing them and observing the decode counters."""
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        wl = self.replica.wl
        pipes = getattr(self.replica.system, "pipelines", None)
        router = pipes is not None
        if not router:
            pipes = {wl.tables[0].name: self.replica.system}
        known = list(pipes)
        counters = Observation("decode")
        keys_out = 0
        for i, (table, pipe) in enumerate(pipes.items()):
            topic = "topic" if "topic" in raw.columns else None
            env = self.orig["decode_envelope"](raw, pipe.row_schema, topic_col=topic)
            if i == 0:
                err = F.coalesce(F.col("_error"), F.lit(""))
                env = env.observe(
                    counters,
                    F.count(F.lit(1)).alias("events_in"),
                    F.sum(F.col("_tombstone").cast("long")).alias("tombstones"),
                    F.sum(err.startswith("unparseable").cast("long")).alias("unparseable"),
                    F.sum(err.startswith("unsupported op").cast("long")).alias("unsupported"),
                    F.sum(
                        (
                            (err == "")
                            & ~F.col("_tombstone")
                            & ~F.coalesce(F.col("src_table").isin(*known), F.lit(False))
                        ).cast("long")
                    ).alias("unknown_table"),
                )
            decoded = self.orig["with_change_columns"](env, pipe.offset_col)
            if router:
                decoded = decoded.where(F.col("src_table") == table)
            self.span("prefix.decode", decoded.write.format("noop").mode("overwrite").save)
            out = Observation(f"compact-{table}")
            compacted = self.orig["compact"](decoded, pipe.pk_cols).observe(
                out, F.count(F.lit(1)).alias("keys_out")
            )
            self.span("prefix.compact", compacted.write.format("noop").mode("overwrite").save)
            keys_out += out.get["keys_out"]
        stats = dict(counters.get)
        stats["keys_out"] = keys_out
        return stats

    def _commit(self, name: str, orig, system, raw) -> None:
        self.batch = len(self.commits)
        router = name.startswith("router")
        if router:
            raw.persist()  # as the router does, so prefixes and merges share one scan
        try:
            stats = self.span("trace.prefix", self._prefixes, raw)
            gc0 = self.span("trace.probe", self._jvm_gc_s)
            calls0, wait0 = self.py4j["calls"], self.py4j["wait"]
            self.counting = True
            try:
                self.span(name, orig, system, raw)
            finally:
                self.counting = False
        finally:
            if router:
                raw.unpersist()
        stats.update(
            py4j_calls=self.py4j["calls"] - calls0,
            py4j_wait_s=self.py4j["wait"] - wait0,
            gc_s=self.span("trace.probe", self._jvm_gc_s) - gc0,
            heap_mb=self.span("trace.probe", self._heap_mb),
        )
        self.commits.append(stats)
        self.batch = None

    def _record_write(self, sink) -> None:
        import pyarrow.parquet as pq

        d = sink.current_version_dir()
        files = [
            os.path.join(d, f) for f in os.listdir(d) if not f.startswith((".", "_"))
        ]
        self.writes.append(
            {
                "batch": self.batch,
                "rows": sum(pq.read_metadata(f).num_rows for f in files),
                "bytes": sum(os.path.getsize(f) for f in files),
                "files": len(files),
            }
        )

    # -- report -------------------------------------------------------------
    def report(self, *, progress, events, session_s, bootstrap_s, setup_events, host, point,
               scan, out_dir, info, baseline_events_per_s, untraced_commit_p50_s) -> dict:
        """Per-layer metrics (name → (value, unit)); writes the spans and a
        per-commit layer breakdown to ``out_dir``.  Tracing overhead is the
        traced commit time, less the prefix runs and probes, against
        ``untraced_commit_p50_s`` (earlier untraced runs), when known."""
        n = len(self.commits)
        spans = self.spans
        kids: dict[int, list] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in spans:
            s["dur"] = s["end"] - s["start"]
            s["one"] = 1
            s["self"] = s["dur"] - sum(c["end"] - c["start"] for c in kids.get(s["id"], []))

        def per_batch(pred, field="dur") -> list[float]:
            out = [0.0] * n
            for s in spans:
                if s["batch"] is not None and pred(s["name"]):
                    out[s["batch"]] += s[field]
            return out

        traced_only = per_batch(lambda x: x.startswith("trace."))
        footers = per_batch(lambda x: x == "trace.footer")
        prefix_decode = per_batch(lambda x: x == "prefix.decode")
        prefix_compact = per_batch(lambda x: x == "prefix.compact")
        top = per_batch(lambda x: x.endswith("process_batch"))
        decode_build = per_batch(lambda x: x.startswith(("decode.", "pipeline.decode")), "self")
        compact_build = per_batch(lambda x: x == "compact")
        merge = per_batch(lambda x: x == "sink.merge")
        merge_self = per_batch(lambda x: x == "sink.merge", "self")
        apply_build = per_batch(lambda x: x == "sink.apply_changes")
        read_in_merge = per_batch(lambda x: x == "read.open")
        slices = per_batch(lambda x: x in ("pipeline.decode", "compact", "sink.merge"))
        router_self = [t - s - f for t, s, f in zip(top, slices, footers)]
        decode_calls = per_batch(lambda x: x == "decode.envelope", "one")
        trig = [p.durationMs for p in progress]
        trigger_s = [(d["triggerExecution"] - d["addBatch"]) / 1000.0 for d in trig]
        rows = []
        for b in range(n):
            d = trig[b]
            tracing = traced_only[b]  # prefix runs, probes and footer reads
            layers = {
                "trigger": trigger_s[b],
                "decode": decode_build[b] + prefix_decode[b],
                "compact": compact_build[b] + prefix_compact[b] - prefix_decode[b],
                "sink": merge_self[b] + apply_build[b] - prefix_compact[b],
                "read": read_in_merge[b],
                "router": router_self[b],
            }
            net = d["triggerExecution"] / 1000.0 - tracing
            rows.append(
                {
                    "batch": b,
                    "commit_net_s": net,
                    "tracing_s": tracing,
                    "layers": layers,
                    "coverage": sum(layers.values()) / net,
                    # foreachBatch plumbing: addBatch outside process_batch.
                    "callback_s": d["addBatch"] / 1000.0 - (tracing - footers[b]) - top[b],
                }
            )
        med = measure.median
        writes = self.writes
        c = self.commits
        events = sum(x["events_in"] for x in c)
        dead = sum(x["unparseable"] + x["unsupported"] + x["unknown_table"] for x in c)
        valid = events - sum(x["tombstones"] for x in c) - dead
        keys_out = sum(x["keys_out"] for x in c)
        rows_written = sum(w["rows"] for w in writes)
        by_batch: dict[int, list] = {}
        for w in writes:
            by_batch.setdefault(w["batch"], []).append(w)
        state_rows = sum(w["rows"] for w in by_batch[n - 1])
        files_scanned = 0
        for sink in self.replica.sinks.values():
            files_scanned += measure.dir_bytes(sink.current_version_dir())[1]
        commits_s = [d["triggerExecution"] / 1000.0 for d in trig]
        routed = len(self.replica.sinks) > 1
        reads_open = [s["dur"] for s in spans if s["name"] == "read.open" and s["batch"] is None]
        slice_merges = [s["dur"] for s in spans if s["name"] == "sink.merge"]
        builds = [a + b + d for a, b, d in zip(decode_build, compact_build, apply_build)]
        log_commit_s = [(d["walCommit"] + d["commitOffsets"]) / 1000.0 for d in trig]
        net = [r["commit_net_s"] for r in rows]
        metrics = {
            "catchup_events_per_s": (events / sum(net), "events/s"),
            "commit_p50_s": (med(net), "s"),
            "read_point_p50_s": (med(point), "s"),
            "read_scan_p50_s": (med(scan), "s"),
            "sink.merge_s": (med([m - p for m, p in zip(merge, prefix_compact)]), "s"),
            "sink.rows_written": (rows_written, "rows"),
            "sink.keys_touched": (keys_out, "keys"),
            "sink.write_amplification": (rows_written / max(keys_out, 1), "rows/key"),
            "sink.bytes_written": (sum(w["bytes"] for w in writes), "bytes"),
            "sink.files_written": (sum(w["files"] for w in writes), "files"),
            "sink.state_rows": (state_rows, "rows"),
            "read.open_s": (med(reads_open), "s"),
            "read.point_tail_s": (measure.tail(point)[0], "s"),
            "read.scan_tail_s": (measure.tail(scan)[0], "s"),
            "read.files_scanned": (files_scanned, "files"),
            "decode.build_s": (med(decode_build), "s"),
            "decode.exec_s": (med(prefix_decode), "s"),
            "decode.events_in": (events, "events"),
            "decode.tombstones": (sum(x["tombstones"] for x in c), "events"),
            "decode.dead_unparseable": (sum(x["unparseable"] for x in c), "events"),
            "decode.dead_unsupported_op": (sum(x["unsupported"] for x in c), "events"),
            "decode.valid_ratio": (valid / max(events, 1), "ratio"),
            "compact.build_s": (med(compact_build), "s"),
            "compact.exec_s": (med([b - a for a, b in zip(prefix_decode, prefix_compact)]), "s"),
            "compact.keys_out": (keys_out, "keys"),
            "compact.ratio": (valid / max(keys_out, 1), "events/key"),
            "router.decode_calls_per_commit": (med(decode_calls) if routed else 0, "calls"),
            "router.slice_merge_s": (med(slice_merges) if routed else 0.0, "s"),
            "router.overhead_s": (med(router_self) if routed else 0.0, "s"),
            "router.dead_unknown_table": (sum(x["unknown_table"] for x in c), "events"),
            "trigger.overhead_s": (med(trigger_s), "s"),
            "trigger.latest_offset_s": (med([d["latestOffset"] / 1000.0 for d in trig]), "s"),
            "trigger.log_commit_s": (med(log_commit_s), "s"),
            "driver.py4j_calls_per_commit": (med([x["py4j_calls"] for x in c]), "calls"),
            "driver.py4j_wait_s_per_commit": (med([x["py4j_wait_s"] for x in c]), "s"),
            "driver.build_s_per_commit": (med(builds), "s"),
            "jvm.gc_s_per_commit": (med([x["gc_s"] for x in c]), "s"),
            "jvm.heap_used_mb": (med([x["heap_mb"] for x in c]), "MB"),
            "session.start_s": (session_s, "s"),
            "bootstrap.s": (bootstrap_s, "s"),
            "bootstrap.events_per_s": (setup_events / bootstrap_s, "events/s"),
            "host.steal_share": (host["steal"], "ratio"),
            "host.iowait_share": (host["iowait"], "ratio"),
            "host.cpu_probe_s": (host["cpu_probe_s"], "s"),
            "commit.max_s": (max(commits_s), "s"),
            "trace.coverage": (med([r["coverage"] for r in rows]), "ratio"),
            "baseline.local1_events_per_s": (baseline_events_per_s, "events/s"),
        }
        info = {**info, "traced_commit_net_p50_s": med(net)}
        if untraced_commit_p50_s:
            info["tracing_overhead"] = info["traced_commit_net_p50_s"] / untraced_commit_p50_s - 1
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{info['workload']}-{info['seed']}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "info": info,
                    "commits": rows,
                    "counts": c,
                    "writes": writes,
                    "spans": [
                        {k: s[k] for k in ("id", "name", "start", "end", "parent", "batch")}
                        for s in spans
                    ],
                    "metrics": {k: v for k, (v, _) in metrics.items()},
                },
                f,
                indent=1,
            )
        return metrics
