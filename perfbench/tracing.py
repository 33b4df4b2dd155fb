"""Tracing for the benchmark's per-layer run.

- `Tracer` keeps named spans in memory. Each span runs under a Spark job
  group of the same name, so the event log can attribute every job,
  task and shuffle byte to the span that caused it. A span's self time is
  its wall time minus its child spans.
- `tracing_tableio` wraps `TableIO` so every `write`, `read` and
  `read_sink` call is a span.
- `read_event_log` sums task counters per job group from the event log
  that Spark writes at `spark.stop()`. Nothing is registered on the JVM,
  so no listener or callback server is involved.
- `StderrFile` points fd 2 at a file for the whole run. The JVM inherits
  it, so codegen compile failures can be counted afterwards.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time

NO_GROUP = "untraced"
COUNTERS = (
    "jobs", "task_s", "gc_s", "scheduler_delay_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "failed_tasks",
)
CODEGEN_PATTERNS = (b"Failed to compile", b"grows beyond 64 KB", b"ERROR CodeGenerator")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.stack: list[dict] = []
        self.spans: list[dict] = []

    def _set_group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "children_s": 0.0}
        self.stack.append(rec)
        self._set_group(name)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - rec["t0"]
            self.stack.pop()
            if self.stack:
                self.stack[-1]["children_s"] += rec["s"]
            self._set_group(self.stack[-1]["name"] if self.stack else NO_GROUP)
            self.spans.append(rec)

    def self_s(self, name: str) -> float:
        return sum(r["s"] - r["children_s"] for r in self.spans if r["name"] == name)


WRITE_SPANS = {
    "pipeline_out": "tableio.write_out",
    "rollups": "tableio.write_rollups",
    "checkpoints": "tableio.checkpoint",
}


def tracing_tableio(root: str, tracer: Tracer):
    """A TableIO whose calls are spans; behaviour is the base class's."""
    from illumio_spark.sources.tableio import TableIO

    class TracingTableIO(TableIO):
        def write(self, df, table, run_id, *args, **kwargs):
            with tracer.span(WRITE_SPANS.get(table, f"tableio.write_{table}")):
                return super().write(df, table, run_id, *args, **kwargs)

        def read(self, spark, table, run_id=None):
            with tracer.span("tableio.read"):
                return super().read(spark, table, run_id)

        def read_sink(self, spark, sink, run_id=None):
            with tracer.span("tableio.read"):
                return super().read_sink(spark, sink, run_id)

    return TracingTableIO(root)


def event_log_conf(evdir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(evdir),
        "spark.eventLog.compress": "false",
    }


def _empty_counters() -> dict:
    c = {k: 0.0 for k in COUNTERS}
    c["records_read"] = []
    return c


def read_event_log(evdir: str) -> dict:
    """{job group: counters} summed over every task of the group's jobs.

    `records_read` lists the shuffle records each reducer task read, which
    gives the exchange's partition skew."""
    files = []
    for p in sorted(glob.glob(os.path.join(evdir, "*"))):
        files += sorted(glob.glob(os.path.join(p, "events_*"))) if os.path.isdir(p) else [p]
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for fp in files:
        with open(fp) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
                    groups.setdefault(g, _empty_counters())["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    c = groups[g]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        c["failed_tasks"] += 1
                    run = m.get("Executor Run Time", 0)
                    busy = run + m.get("Executor Deserialize Time", 0) + m.get(
                        "Result Serialization Time", 0
                    )
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    c["task_s"] += run / 1000
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    c["scheduler_delay_s"] += max(dur - busy, 0) / 1000
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    if sr.get("Total Records Read"):
                        c["records_read"].append(sr["Total Records Read"])
                    sw = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return groups


def counters_delta(a: dict | None, b: dict | None) -> dict:
    """Counters of `a` minus those of `b` (cumulative cut k minus cut k-1)."""
    a = a or _empty_counters()
    b = b or _empty_counters()
    return {k: a[k] - b[k] for k in COUNTERS}


def skew(records: list[int]) -> float:
    """max / median rows over the reducer partitions of one exchange."""
    return max(records) / statistics.median(records) if records else 0.0


class StderrFile:
    """Point fd 2 (inherited by the JVM) at a file until close()."""

    def __init__(self, path: str):
        self.path = path
        sys.stderr.flush()
        self.saved = os.dup(2)
        self.f = open(path, "wb")
        os.dup2(self.f.fileno(), 2)

    def close(self) -> int:
        """Restore fd 2; return the number of codegen-failure lines, and
        echo those lines to the restored stderr."""
        sys.stderr.flush()
        os.dup2(self.saved, 2)
        os.close(self.saved)
        self.f.close()
        hits = 0
        with open(self.path, "rb") as f:
            for line in f:
                if any(p in line for p in CODEGEN_PATTERNS):
                    hits += 1
                    sys.stderr.write(line.decode(errors="replace")[:300])
        return hits
