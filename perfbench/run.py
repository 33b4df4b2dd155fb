"""Benchmark of the transcript pipeline and the near-dup chain.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One driver process, one operation at a time,
on local[nproc]. The load generator (perfbench/loadgen.py) builds the
seed's input and the oracle's answer in a child process and caches them
under perfbench/.cache. Then the run starts the session, warms the workload
up, and repeats its operation until the operations have taken S seconds
and at least MIN_OPS of them have run.
Every operation's committed output is checked against the oracle; an
operation that raises or fails the check counts as failed.

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics of one traced operation plus
cumulative noop-sink cuts. The line before it holds the run context:
nproc, load average, an fsync'd disk probe, every latency sample and the
error rate. Both lines are also appended to perfbench/.results/runs.jsonl.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402

CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, ".results")
TAIL_Q = 0.9  # commit_latency_s_tail: nearest-rank p90 of the run's samples
# Operations still speed up while the JIT warms, so every run measures at
# least this many: a median over 2 in one run and over 3 in the next would
# sit at different points of that curve.
MIN_OPS = 3
# A run stops after this many failed operations, so a program that fails
# every time still ends (with no result) instead of retrying for ever.
MAX_FAILED = 3
DISK_PROBE_MB = 32

END_TO_END_UNITS = {
    "rows_per_s": "rows/s",
    "commit_latency_s_p50": "s",
    "commit_latency_s_tail": "s",
    "sink_bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under path (manifests excluded)."""
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".json") or f.startswith(".") or f.startswith("_"):
                continue
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


def rollup_counts(spark, io, run_id: str) -> dict:
    out: dict = {}
    for r in io.read(spark, "rollups", run_id).collect():
        out[r["sink"]] = out.get(r["sink"], 0) + r["n_rows"]
    return out


class Meter:
    """CPU seconds and peak RSS of this process plus its JVM, and the
    machine's steal time (CPU time taken by other guests of the host), all
    from /proc; and the JVM's own GC and JIT-compile seconds from its
    management beans. Without a JVM it meters this process only."""

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, jvm_pid: int | None = None, jvm=None):
        self.pids = ["self"] + ([str(jvm_pid)] if jvm_pid else [])
        self.mx = jvm.java.lang.management.ManagementFactory if jvm is not None else None

    def gc_jit_s(self) -> tuple[float, float]:
        if self.mx is None:
            return 0.0, 0.0
        gc_ms = sum(b.getCollectionTime() for b in self.mx.getGarbageCollectorMXBeans())
        return gc_ms / 1000, self.mx.getCompilationMXBean().getTotalCompilationTime() / 1000

    def cpu_s(self) -> float:
        ticks = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
        return ticks / self.TICK

    @classmethod
    def steal_s(cls) -> float:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / cls.TICK

    def peak_rss_mb(self) -> float:
        kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb / 1024


class Timer:
    """Wall seconds, CPU seconds, host steal seconds and the JVM's GC and
    JIT-compile seconds of one block."""

    def __init__(self, meter: Meter):
        self.meter = meter

    def __enter__(self):
        self.gc0, self.jit0 = self.meter.gc_jit_s()
        self.cpu0, self.steal0 = self.meter.cpu_s(), Meter.steal_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.t0
        self.cpu_s = self.meter.cpu_s() - self.cpu0
        self.steal_s = Meter.steal_s() - self.steal0
        gc, jit = self.meter.gc_jit_s()
        self.gc_s, self.jit_s = gc - self.gc0, jit - self.jit0
        return False


class Op:
    """One measured operation: its Timer, input rows, sink bytes, and the
    differences its output showed against the oracle."""

    def __init__(self, timer: Timer, rows: int, sink_bytes: int, mismatches: list[str]):
        self.seconds, self.cpu_s, self.steal_s = timer.seconds, timer.cpu_s, timer.steal_s
        self.gc_s, self.jit_s = timer.gc_s, timer.jit_s
        self.rows, self.sink_bytes, self.mismatches = rows, sink_bytes, mismatches


class PipelineBatch:
    """One resumable batch run (run_resumable, the CLI's --resume path) over
    the whole input into a fresh parquet TableIO."""

    def __init__(self, spark, meta: dict, data: str, work: str, meter: Meter | None = None):
        self.spark, self.meta, self.work, self.data = spark, meta, work, data
        self.meter = meter or Meter()
        self.n = 0

    @property
    def path(self) -> str:
        return os.path.join(self.data, self.meta["file"])

    def warmup(self, tally: "Tally") -> None:
        """Three operations. The first compiles the plan: 15-20 s whatever
        the input size. The JIT keeps the next few slow too (CPU per
        operation falls from ~15 s to ~8 s by the fourth). Measured
        operations that start on the second made the run's slowest one (the
        tail) spread 0.20-0.27 between runs; a fourth warm-up operation
        steadied it little more and does not fit the run budget."""
        for _ in range(3):
            tally.run(self)

    def exhausted(self) -> bool:
        return False

    def op(self, io_factory=None, outer=None) -> Op:
        from illumio_spark.plans.resume import run_resumable
        from illumio_spark.sources.tableio import TableIO

        self.n += 1
        run_id = f"op{self.n}"
        io = (io_factory or TableIO)(os.path.join(self.work, run_id))
        df = self.spark.read.parquet(self.path)
        with Timer(self.meter) as t, outer or contextlib.nullcontext():
            res = run_resumable(self.spark, df, io, run_id=run_id)
        self.last_io, self.last_run = io, run_id
        self.scanned = self.meta["rows"]
        return Op(t, self.meta["rows"], dir_stats(os.path.join(io.root, "pipeline_out"))[0],
                  self.checked(res, io, run_id, self.meta["expected"]))

    def checked(self, res, io, run_id: str, expected: dict) -> list[str]:
        if res is None:
            return [f"{run_id}: run_resumable found nothing pending"]
        return self.check(io, run_id, expected)

    def check(self, io, run_id: str, expected: dict) -> list[str]:
        import checks
        from illumio_spark.sources.tableio import TableIO

        plain = TableIO(io.root)  # check reads stay out of any trace
        got = checks.spark_digests(
            {s: plain.read_sink(self.spark, s, run_id) for s in checks.SINK_COLUMNS}
        )
        return checks.pipeline_mismatches(got, rollup_counts(self.spark, plain, run_id), expected)

    def cleanup(self) -> None:
        shutil.rmtree(self.last_io.root, ignore_errors=True)

    def traced_inputs(self):
        return self.spark.read.parquet(self.path)


class PipelineIncremental(PipelineBatch):
    """Days revealed one at a time; each operation is one run_resumable
    against the same TableIO root, processing the newly revealed day."""

    def __init__(self, spark, meta: dict, data: str, work: str, meter: Meter | None = None):
        super().__init__(spark, meta, data, work, meter)
        self.root = os.path.join(work, "tables")
        self.days = meta["days"]
        self.revealed = 0

    def exhausted(self) -> bool:
        return self.revealed >= len(self.days)

    def warmup(self, tally: "Tally") -> None:
        tally.run(self)  # reveals the first day

    def op(self, io_factory=None, outer=None) -> Op:
        from illumio_spark.plans.resume import run_resumable
        from illumio_spark.sources.tableio import TableIO

        day = self.days[self.revealed]
        self.revealed += 1
        run_id = f"day{self.revealed:03d}"
        io = (io_factory or TableIO)(self.root)
        files = [os.path.join(self.data, d["file"]) for d in self.days[: self.revealed]]
        df = self.spark.read.parquet(*files)
        with Timer(self.meter) as t, outer or contextlib.nullcontext():
            res = run_resumable(self.spark, df, io, run_id=run_id)
        out = os.path.join(self.root, "pipeline_out", f"run_id={run_id}")
        op = Op(t, day["expected"]["rows"], dir_stats(out)[0],
                self.checked(res, io, run_id, day["expected"]))
        self.last_io, self.last_run, self.last_day = io, run_id, day
        self.scanned = sum(d["expected"]["rows"] for d in self.days[: self.revealed])
        return op

    def cleanup(self) -> None:
        pass  # history is the workload

    def traced_inputs(self):
        return self.spark.read.parquet(os.path.join(self.data, self.last_day["file"]))


class NeardupChain:
    """compact_neardup_frontier(band_signatures(corpus)), committing the
    keeper ids through TableIO."""

    def __init__(self, spark, meta: dict, data: str, work: str, meter: Meter | None = None):
        self.spark, self.meta, self.work = spark, meta, work
        self.meter = meter or Meter()
        self.path = os.path.join(data, meta["file"])
        self.root = os.path.join(work, "tables")
        self.n = 0
        self.expected = None

    def warmup(self, tally: "Tally") -> None:
        """Five operations: the chain runs about 60 small jobs, and its time
        per operation keeps falling for about six of them while the JIT
        warms. After three, the measured operations still fell 15-20%
        within a run; after four, the first measured one was often the
        slowest, and the tail spread 0.25 between runs."""
        for _ in range(5):
            tally.run(self)

    def exhausted(self) -> bool:
        return False

    def expected_keepers(self) -> set:
        import checks
        from illumio_spark.operators.dedup import band_signatures

        if self.expected is None:
            bands = band_signatures(self.spark.read.parquet(self.path)).collect()
            self.expected = checks.union_find_keepers(
                (r["doc_id"], r["band_idx"], r["band_key"]) for r in bands
            )
        return self.expected

    def op(self, outer=None, tracer=None) -> Op:
        from illumio_spark.operators.dedup import band_signatures, compact_neardup_frontier
        from illumio_spark.sources.tableio import TableIO

        self.n += 1
        run_id = f"op{self.n}"
        io = TableIO(self.root)
        corpus = self.spark.read.parquet(self.path)
        with Timer(self.meter) as t, outer or contextlib.nullcontext():
            if tracer is None:
                keep = compact_neardup_frontier(band_signatures(corpus))
                io.write(keep, "keepers", run_id)
            else:
                self.traced_pairs = traced_chain(corpus, io, run_id, tracer)
        self.last_run = run_id
        mism = self.check(run_id)
        return Op(t, self.meta["rows"], dir_stats(self.out(run_id))[0], mism)

    def out(self, run_id: str) -> str:
        return os.path.join(self.root, "keepers", f"run_id={run_id}")

    def check(self, run_id: str) -> list[str]:
        got = {r["doc_id"] for r in self.spark.read.parquet(self.out(run_id)).collect()}
        want = self.expected_keepers()
        self.last_keepers = len(got)
        if got == want:
            return []
        return [f"keepers: {len(got - want)} unexpected, {len(want - got)} missing of {len(want)}"]

    def cleanup(self) -> None:
        shutil.rmtree(self.out(self.last_run), ignore_errors=True)


WORKLOADS = {
    "pipeline_batch": PipelineBatch,
    "pipeline_unicode": PipelineBatch,
    "pipeline_incremental": PipelineIncremental,
    "neardup_chain": NeardupChain,
}


def traced_chain(corpus, io, run_id: str, tracer):
    """The untraced operation with its CC call as a span of its own.
    compact_neardup_frontier looks neardup_components up in its module when
    it runs, so wrapping that name for the length of the call times the
    real plan. Returns the star-edge frame that CC was given."""
    from illumio_spark.operators import dedup as D

    real, given = D.neardup_components, {}

    def components(nodes, pairs, *args, **kwargs):
        given["pairs"] = pairs
        with tracer.span("dedup.cc"):
            return real(nodes, pairs, *args, **kwargs)

    D.neardup_components = components
    try:
        # self time: the band signatures, their distinct and its checkpoint
        with tracer.span("dedup.signatures"):
            keep = D.compact_neardup_frontier(D.band_signatures(corpus))
    finally:
        D.neardup_components = real
    with tracer.span("dedup.label"):
        io.write(keep, "keepers", run_id)
    return given["pairs"]


def pipeline_cuts(spark, transcripts, tracer) -> dict:
    """Cumulative noop-sink cuts through run_pipeline's lazy layers:
    {layer: seconds of the cut ending at that layer}."""
    from illumio_spark.functions.parse import parse_turns
    from illumio_spark.plans.pipeline import fanout_frame, ordered_for_sink, parse_enrich_format

    ordered = ordered_for_sink(transcripts, spark.sparkContext.defaultParallelism * 4, sort=False)
    enriched = parse_enrich_format(spark, ordered)
    cuts = [
        ("scan", transcripts),
        ("pipeline.exchange", ordered),
        ("parse", parse_turns(ordered)),
        # only the columns fan-out reads, so the cut computes no more than
        # the real plan does after column pruning
        ("format", enriched.select(*FANOUT_INPUTS)),
        ("pipeline.fanout", fanout_frame(enriched).sortWithinPartitions("conv_id", "turn_idx")),
    ]
    times = {}
    for name, df in cuts:
        with tracer.span(f"cut.{name}") as rec:
            df.write.format("noop").mode("overwrite").save()
        times[name] = rec["s"]
    return times


FANOUT_INPUTS = ["conv_id", "turn_idx", "event_class", "event_type", "severity",
                 "routed_text", "text", "error_reason", "ts"]
CUT_LAYERS = ["scan", "pipeline.exchange", "parse", "format", "pipeline.fanout"]
COUNTER_LAYERS = CUT_LAYERS + [
    "tableio.write_out", "tableio.checkpoint", "resume.probe",
    "dedup.signatures", "dedup.star_edges", "dedup.cc", "dedup.label",
]
LAYER_SCALARS = [
    ("session.start_s", "s"),
    ("driver.s", "s"),
    ("scan.s", "s"),
    ("pipeline.exchange.s", "s"),
    ("pipeline.exchange.skew", "ratio"),
    ("parse.s", "s"),
    ("parse.nonascii_share", "ratio"),
    ("parse.dead_letter_share", "ratio"),
    ("format.s", "s"),
    ("format.codegen_fallbacks", "count"),
    ("pipeline.fanout.s", "s"),
    ("tableio.write_out.s", "s"),
    ("tableio.write_rollups.s", "s"),
    ("tableio.checkpoint.s", "s"),
    ("tableio.read.s", "s"),
    ("tableio.bytes", "B"),
    ("tableio.files", "count"),
    ("tableio.committed_runs", "count"),
    ("resume.probe.s", "s"),
    ("resume.rows_scanned", "rows"),
    ("resume.rows_pending", "rows"),
    ("resume.useful_ratio", "ratio"),
    ("dedup.signatures.s", "s"),
    ("dedup.star_edges.s", "s"),
    ("dedup.edges", "count"),
    ("dedup.bucket_max", "count"),
    ("dedup.cc.s", "s"),
    ("dedup.label.s", "s"),
    ("dedup.keep_ratio", "ratio"),
    ("trace.op_s", "s"),
    ("trace.untraced_op_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.cuts_s", "s"),
]
COUNTER_UNITS = {
    "jobs": "count", "task_s": "s", "gc_s": "s", "scheduler_delay_s": "s",
    "shuffle_read_bytes": "B", "shuffle_write_bytes": "B", "failed_tasks": "count",
}


def per_layer_units() -> dict:
    units = dict(LAYER_SCALARS)
    for layer in COUNTER_LAYERS:
        for c in tr.COUNTERS:
            units[f"{layer}.{c}"] = COUNTER_UNITS[c]
    return units


def traced_run(spark, wl, workload: str, meta: dict, untraced: list[float]):
    """One traced operation, then its noop-sink cuts. Returns the layer
    values known before the event log is read, the tracer, and the traced
    operation."""
    from pyspark.sql import functions as F

    from illumio_spark.operators.dedup import band_signatures
    from illumio_spark.sources.tableio import TableIO

    tracer = tr.Tracer(spark.sparkContext)
    v: dict = {}
    if workload == "neardup_chain":
        op = wl.op(outer=tracer.span("driver"), tracer=tracer)
        # CC computes the star edges inside its first job; a noop-sink cut
        # of the frame CC was given times them (layer_metrics subtracts it)
        with tracer.span("trace.cuts") as rec:
            with tracer.span("cut.dedup.star_edges") as cut:
                wl.traced_pairs.write.format("noop").mode("overwrite").save()
        v["trace.cuts_s"], v["cut.dedup.star_edges"] = rec["s"], cut["s"]
        with tracer.span("trace.aux"):
            v["dedup.edges"] = wl.traced_pairs.count()
            v["dedup.bucket_max"] = (
                band_signatures(spark.read.parquet(wl.path))
                .select("doc_id", "band_idx", "band_key").distinct()
                .groupBy("band_idx", "band_key").count()
                .agg(F.max("count")).collect()[0][0]
            )
        v["dedup.keep_ratio"] = wl.last_keepers / meta["rows"]
        v["tableio.committed_runs"] = 1
        paths = [wl.out(wl.last_run)]
    else:
        # run_resumable's own time outside TableIO calls is its resume probe
        op = wl.op(io_factory=lambda root: tr.tracing_tableio(root, tracer),
                   outer=tracer.span("resume.probe"))
        io, run_id = TableIO(wl.last_io.root), wl.last_run  # untraced reads
        roll = rollup_counts(spark, io, run_id)
        v["parse.dead_letter_share"] = roll.get("dead_letter", 0) / max(sum(roll.values()), 1)
        v["parse.nonascii_share"] = meta.get("nonascii_share", 0.0)
        v["tableio.committed_runs"] = len(io.committed_runs("checkpoints"))
        paths = [os.path.join(io.root, t, f"run_id={run_id}")
                 for t in ("pipeline_out", "rollups", "checkpoints")]
        v["resume.rows_scanned"] = wl.scanned
        v["resume.rows_pending"] = sum(roll.values())
        v["resume.useful_ratio"] = v["resume.rows_pending"] / max(wl.scanned, 1)
        with tracer.span("trace.cuts") as rec:
            v["cuts"] = pipeline_cuts(spark, wl.traced_inputs(), tracer)
        v["trace.cuts_s"] = rec["s"]
    stats = [dir_stats(p) for p in paths]
    v["tableio.bytes"] = sum(s[0] for s in stats)
    v["tableio.files"] = sum(s[1] for s in stats)
    v["trace.op_s"] = op.seconds
    v["trace.untraced_op_s"] = statistics.median(untraced)
    v["trace.overhead_s"] = op.seconds - v["trace.untraced_op_s"]
    wl.cleanup()
    return v, tracer, op


def layer_metrics(v: dict, tracer, groups: dict, session_s: float, codegen: int) -> dict:
    """Assemble every per-layer metric; layers the workload does not run
    read 0 (the predicted non-moves)."""
    units = per_layer_units()
    m = {k: 0.0 for k in units}
    m["session.start_s"] = session_s
    m["format.codegen_fallbacks"] = codegen
    for k, val in v.items():
        if k in m:
            m[k] = val
    for name in ("driver", "resume.probe", "tableio.write_rollups", "tableio.checkpoint",
                 "tableio.read", "dedup.signatures", "dedup.cc", "dedup.label"):
        m[f"{name}.s"] = tracer.self_s(name)
    for name in ("tableio.checkpoint", "resume.probe", "dedup.signatures", "dedup.label"):
        for c, val in tr.counters_delta(groups.get(name), None).items():
            m[f"{name}.{c}"] = val
    if "cut.dedup.star_edges" in v:
        # the star edges' share of the CC span, as the cut timed it
        star = groups.get("cut.dedup.star_edges")
        m["dedup.star_edges.s"] = v["cut.dedup.star_edges"]
        m["dedup.cc.s"] -= v["cut.dedup.star_edges"]
        for c, val in tr.counters_delta(star, None).items():
            m[f"dedup.star_edges.{c}"] = val
        for c, val in tr.counters_delta(groups.get("dedup.cc"), star).items():
            m[f"dedup.cc.{c}"] = val
    cuts = v.get("cuts")
    if cuts:
        prev_t, prev_g = 0.0, None
        for layer in CUT_LAYERS:
            m[f"{layer}.s"] = cuts[layer] - prev_t
            g = groups.get(f"cut.{layer}")
            for c, val in tr.counters_delta(g, prev_g).items():
                m[f"{layer}.{c}"] = val
            prev_t, prev_g = cuts[layer], g
        # the sink write's own share: the write span minus the lazy layers
        m["tableio.write_out.s"] = tracer.self_s("tableio.write_out") - cuts["pipeline.fanout"]
        for c, val in tr.counters_delta(groups.get("tableio.write_out"), prev_g).items():
            m[f"tableio.write_out.{c}"] = val
        ex = groups.get("cut.pipeline.exchange")
        m["pipeline.exchange.skew"] = tr.skew(ex["records_read"]) if ex else 0.0
    return {k: {"value": m[k], "unit": units[k]} for k in units}


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def disk_probe_mb_s(directory: str, size_mb: int = DISK_PROBE_MB) -> float:
    """Sequential fsync'd write throughput of the disk under `directory`."""
    buf = os.urandom(size_mb * 1024 * 1024)
    path = os.path.join(directory, "disk_probe.bin")
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.remove(path)
    return size_mb / dt


def nearest_rank(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[max(math.ceil(q * len(s)) - 1, 0)]


def run_loadgen(workload: str, seed: int, scale: float) -> str:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "loadgen.py"), "--workload", workload,
         "--seed", str(seed), "--scale", str(scale), "--out", CACHE],
        check=True, stdout=subprocess.PIPE, text=True,
    )
    return out.stdout.strip().splitlines()[-1]


def isolate_scratch(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


class Tally:
    """Attempted and failed operations: an operation fails if it raises or
    its output differs from the oracle's answer. Also the peak RSS after
    each attempt."""

    def __init__(self, meter: Meter):
        self.meter = meter
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.rss: list[float] = []

    def count(self, op: Op) -> Op:
        self.attempted += 1
        if op.mismatches:
            self.failed += 1
            self.errors += op.mismatches
        return op

    def run(self, wl) -> Op | None:
        try:
            op = wl.op()
        except Exception as e:  # a failed operation; the run goes on
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            return None
        finally:
            self.rss.append(self.meter.peak_rss_mb())
        wl.cleanup()
        return self.count(op)


def measure(args) -> tuple[dict, dict]:
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = run_loadgen(args.workload, args.seed, args.scale)
        with open(os.path.join(data, "expected.json")) as f:
            meta = json.load(f)
        isolate_scratch(work)
        os.chdir(work)  # derby.log / spark-warehouse land here, not in the checkout root
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
        from illumio_spark.session import build_session

        extra = None
        if args.trace:
            evdir = os.path.join(work, "eventlog")
            os.makedirs(evdir)
            extra = tr.event_log_conf(evdir)
            stderr = tr.StderrFile(os.path.join(work, "stderr.log"))
        spark = None
        try:
            t0 = time.perf_counter()
            spark = build_session(app_name=f"perfbench-{args.workload}",
                                  master=f"local[{nproc}]", shuffle_partitions=nproc,
                                  extra_conf=extra)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            from pyspark import SparkContext

            meter = Meter(SparkContext._gateway.proc.pid, spark._jvm)
            tally = Tally(meter)
            wl = WORKLOADS[args.workload](spark, meta, data, work, meter)
            if isinstance(wl, NeardupChain):
                wl.expected_keepers()  # the reference answer is load-generator work
            t0 = time.perf_counter()
            wl.warmup(tally)  # JIT, codegen, first touch of the readers
            warm_s = time.perf_counter() - t0
            ops, spent = [], 0.0
            while ((spent < args.seconds or len(ops) < MIN_OPS) and tally.failed < MAX_FAILED
                   and not wl.exhausted()):
                t1 = time.perf_counter()
                op = tally.run(wl)
                if op is not None:
                    ops.append(op)
                spent += op.seconds if op is not None else time.perf_counter() - t1
            if not ops:
                raise RuntimeError(f"no operation succeeded, {tally.failed} of "
                                   f"{tally.attempted} failed: {tally.errors[:3]}")
            if args.trace:
                v, tracer, traced_op = traced_run(spark, wl, args.workload, meta,
                                                  [o.seconds for o in ops])
                tally.count(traced_op)
        finally:
            if spark is not None:
                stop_spark(spark)
            codegen = stderr.close() if args.trace else 0
        lat = [o.seconds for o in ops]
        rows = sum(o.rows for o in ops)
        if args.trace:
            metrics = layer_metrics(v, tracer, tr.read_event_log(evdir), session_s, codegen)
        else:
            values = {
                "rows_per_s": statistics.median(o.rows / o.seconds for o in ops),
                "commit_latency_s_p50": statistics.median(lat),
                "commit_latency_s_tail": nearest_rank(lat, TAIL_Q),
                "sink_bytes_per_row": sum(o.sink_bytes for o in ops) / rows,
                # after the first operation: later readings follow the JVM's
                # heap growth, which varies more from run to run
                "peak_rss_mb": tally.rss[0],
                "setup_s": session_s + warm_s,
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "trace": args.trace,
            "nproc": nproc,
            "loadavg": os.getloadavg(),
            "disk_probe_mb_s": disk_probe_mb_s(work),
            "input_rows": meta["rows"],
            "session_start_s": session_s,
            "warmup_s": warm_s,
            "latency_samples": lat,
            "cpu_samples": [o.cpu_s for o in ops],
            "steal_samples": [o.steal_s for o in ops],
            "gc_samples": [o.gc_s for o in ops],
            "jit_samples": [o.jit_s for o in ops],
            "peak_rss_mb_samples": tally.rss,
            "tail_percentile": TAIL_Q * 100,
            "error_rate": tally.failed / tally.attempted,
            "errors": tally.errors[:20],
        }
        result = {"correct": tally.failed == 0, "attempted": tally.attempted,
                  "failed": tally.failed, "metrics": metrics}
        return context, result
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    if not os.path.isdir(os.path.join(ROOT, "illumio_spark")):
        print(f"perfbench: no illumio_spark package under {ROOT}; run from the repo root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    context, result = measure(args)
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"context": context, "result": result}) + "\n")
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
