"""Traced runs: spans around the engine's public functions, Spark's own
event log and stream progress, folded into the per-layer metrics.

Wrappers are installed by the benchmark at run time (the engine carries no
tracing code). A span records name, start, end, parent span and the op it
belongs to; spans stay in memory until the run ends. Only spans and Spark
jobs inside timed ops count, and every per-layer value is per timed op
unless its name says otherwise (``*_ratio``, ``cache_mb``, ``replay_slice_mb``).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "opencode_hive_archon_spark"
MB = 1024.0 * 1024.0

BATCH_MODULES = (
    "operators.recall",
    "operators.relational",
    "operators.reshape",
    "operators.tpch_style",
    "operators.similarity",
    "operators.dedup",
    "operators.textops",
    "operators.udfs",
    "streaming.jobs",
    "sources.deltalog",
)
RECALL_FNS = (
    "scored_candidates",
    "supabase_native_candidates",
    "external_rerank_stage",
    "build_envelope",
)
# delta_append and delta_vacuum are left out: no registered query calls them.
DELTA_FNS = (
    "delta_merge",
    "delta_delete",
    "delta_update",
    "delta_snapshot",
    "delta_checkpoint",
    "delta_optimize",
)
# Public entry points that commit; delta_checkpoint only writes a checkpoint.
DELTA_WRITERS = ("delta_write", "delta_append", "delta_merge", "delta_delete",
                 "delta_update", "delta_optimize", "delta_checkpoint")
STREAM_PHASES = {
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "getBatch": "get_batch_ms",
    "latestOffset": "latest_offset_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}
CATALYST_PHASES = ("analysis", "optimization", "planning")

# name -> better; the order is the order of BENCHMARK.json's per_layer list.
PER_LAYER = {
    "mcp_transport.handle_self_ms": "lower",
    "mcp.recall_search_ms": "lower",
    "mcp.validate_branch_ms": "lower",
    "mcp.execute_self_ms": "lower",
    "engine.recall_build_ms": "lower",
    "plans.routing.route_ms": "lower",
    **{f"operators.recall.{fn}_ms": "lower" for fn in RECALL_FNS},
    **{f"{mod}.{kind}_ms": "lower" for mod in BATCH_MODULES for kind in ("build", "execute")},
    "session.table_open.calls": "lower",
    "session.table_open_ms": "lower",
    "session.materialize.calls": "lower",
    "session.materialize_ms": "lower",
    "session.materialize_keyed.hits": "higher",
    "session.materialize_keyed.misses": "lower",
    "session.materialize_keyed.hit_ratio": "higher",
    "session.cache_mb": "lower",
    **{f"sources.deltalog.{fn}_ms": "lower" for fn in DELTA_FNS},
    "sources.deltalog.replay_slice_mb": "lower",
    "sources.deltalog.files_added": "lower",
    "sources.deltalog.files_removed": "lower",
    "sources.deltalog.bytes_written_mb": "lower",
    "streaming.batches": "lower",
    "streaming.start_ms": "lower",
    **{f"streaming.{m}": "lower" for m in STREAM_PHASES.values()},
    "spark.jobs": "lower",
    "spark.stages": "lower",
    "spark.tasks": "lower",
    "spark.executor_cpu_ms": "lower",
    "spark.executor_run_ms": "lower",
    "spark.gc_ms": "lower",
    "spark.task_wait_ms": "lower",
    "spark.shuffle_write_mb": "lower",
    "spark.shuffle_read_mb": "lower",
    "spark.spill_mb": "lower",
    **{f"catalyst.{p}_ms": "lower" for p in CATALYST_PHASES},
}
UNITS = {"calls": "count", "hits": "count", "misses": "count", "batches": "count",
         "files_added": "count", "files_removed": "count", "jobs": "count",
         "stages": "count", "tasks": "count", "hit_ratio": "ratio"}


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MiB"
    return UNITS[name.rsplit(".", 1)[1]]


@dataclass
class Span:
    """Start and end are ``time.perf_counter()`` readings of the recording
    process: the wall clock of a virtual machine can step under load."""

    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder; ``op`` names the timed op in progress
    (None outside timed ops)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op: str | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self.replay_mb: list[float] = []
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            self.spans.append(Span(sid, name, start, time.perf_counter(), parent, self.op))

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def patch_function(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` in every loaded engine module that holds a
        reference to it, so ``from x import f`` call sites are traced too."""
        orig = getattr(module, attr)
        _replace_everywhere(orig, self.wrap(orig, name))

    def patch_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self.wrap(getattr(cls, attr), name))


@contextlib.contextmanager
def op_scope(tracer: Tracer, spark, op: str):
    """Mark a timed op: spans record ``op`` and the Spark jobs this thread
    submits carry it as their job group. Both are cleared on exit, so later
    jobs (the next op's bookkeeping, the calibration probe) are not counted
    as the op's."""
    sc = spark.sparkContext
    tracer.op = op
    sc.setJobGroup(op, "perfbench op")
    try:
        yield
    finally:
        tracer.op = None
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for a, b in sorted(children.get(s.sid, ())):
            a, b = max(a, reach), min(b, s.end)
            if b > a:
                covered += b - a
                reach = b
        out[s.sid] = (s.end - s.start) - covered
    return out


def install_engine_wrappers(tracer: Tracer) -> None:
    """Spans around the public functions every workload may reach."""
    from pyspark.sql.readwriter import DataFrameReader
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from opencode_hive_archon_spark import engine, mcp, mcp_transport, registry, session
    from opencode_hive_archon_spark.operators import recall
    from opencode_hive_archon_spark.plans import routing
    from opencode_hive_archon_spark.sources import deltalog

    registry.all_specs()  # import every operator module before patching
    observe_deltalog(tracer, deltalog)

    tracer.patch_method(mcp_transport.StdioTransport, "handle", "mcp_transport.handle")
    tracer.patch_method(mcp.MCPServer, "recall_search", "mcp.recall_search")
    tracer.patch_method(mcp.MCPServer, "validate_branch", "mcp.validate_branch")
    tracer.patch_method(engine.RecallEngine, "recall", "engine.recall")
    tracer.patch_function(routing, "route_retrieval", "plans.routing.route")
    for fn in RECALL_FNS:
        tracer.patch_function(recall, fn, f"operators.recall.{fn}")
    for fn in DELTA_FNS:
        tracer.patch_function(deltalog, fn, f"sources.deltalog.{fn}")
    tracer.patch_function(session, "read_table", "session.table_open")
    tracer.patch_method(DataFrameReader, "parquet", "session.table_open")
    tracer.patch_function(session, "materialize", "session.materialize")
    tracer.patch_method(DataStreamWriter, "start", "streaming.start")

    keyed = session.materialize_keyed

    def counted_keyed(spark, key, build):
        full_key = (spark.sparkContext.applicationId, *key)
        if tracer.op is not None:
            hit = full_key in session._KEYED
            tracer.counts["session.materialize_keyed.hits" if hit else
                          "session.materialize_keyed.misses"] += 1
        return keyed(spark, key, build)

    _replace_everywhere(keyed, counted_keyed)


def replay_slice_mb(table: str, version: int | None = None) -> float:
    """Bytes of ``_delta_log`` a read at ``version`` (default: head) replays:
    the newest checkpoint at or below it plus the JSON commits after it."""
    log = os.path.join(table, "_delta_log")
    names = [n for n in os.listdir(log) if n[:20].isdigit()]
    if version is None:
        version = max(int(n[:20]) for n in names if n.endswith(".json"))
    base = max(
        (int(n[:20]) for n in names if ".checkpoint." in n and int(n[:20]) <= version),
        default=-1,
    )
    total = 0
    for n in names:
        v = int(n[:20])
        if (v == base and ".checkpoint." in n) or (n.endswith(".json") and base < v <= version):
            total += os.path.getsize(os.path.join(log, n))
    return total / MB


def observe_deltalog(tracer: Tracer, deltalog) -> None:
    """Count what the table log records for every outermost public delta
    writer call (files added and removed, bytes of data files and of log
    files written; deletion-vector files are not counted),
    and the log slice each ``delta_snapshot`` replays. Only the Delta log
    layout is read, not the engine's internals."""
    depth = threading.local()

    def table_of(name, args, kwargs):
        if "table" in kwargs:
            return kwargs["table"]
        return args[2] if name in ("delta_write", "delta_append") else args[1]

    def writer(name, fn):
        def observed(*args, **kwargs):
            log = os.path.join(table_of(name, args, kwargs), "_delta_log")
            outer = not getattr(depth, "n", 0)
            before = set(os.listdir(log)) if outer and os.path.isdir(log) else set()
            depth.n = getattr(depth, "n", 0) + 1
            try:
                return fn(*args, **kwargs)
            finally:
                depth.n -= 1
                if outer and tracer.op is not None:
                    count_commits(log, before)

        return observed

    def count_commits(log: str, before: set) -> None:
        for name in sorted(set(os.listdir(log)) - before):
            path = os.path.join(log, name)
            if not name[:20].isdigit():
                continue
            tracer.counts["sources.deltalog.bytes_written_mb"] += os.path.getsize(path) / MB
            if not name.endswith(".json"):
                continue
            with open(path) as fh:
                for line in fh:
                    action = json.loads(line)
                    if "add" in action:
                        tracer.counts["sources.deltalog.files_added"] += 1
                        tracer.counts["sources.deltalog.bytes_written_mb"] += action["add"]["size"] / MB
                    elif "remove" in action:
                        tracer.counts["sources.deltalog.files_removed"] += 1

    def snapshot(fn):
        def observed(spark, table, version=None, *args, **kwargs):
            if tracer.op is not None:
                tracer.replay_mb.append(replay_slice_mb(table, version))
            return fn(spark, table, version, *args, **kwargs)

        return observed

    for name in DELTA_WRITERS:
        orig = getattr(deltalog, name)
        _replace_everywhere(orig, writer(name, orig))
    _replace_everywhere(deltalog.delta_snapshot, snapshot(deltalog.delta_snapshot))


def _replace_everywhere(orig, new) -> None:
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE):
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, new)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        # the default zstd codec has no reader here; plain JSON lines
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (possibly rolled) log file under ``log_dir``."""
    def part(path):
        base = os.path.basename(path)
        return (os.path.dirname(path), int(base.split("_")[1]) if base.startswith("events_") else 0)

    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    events = []
    for path in sorted(files, key=part):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except ValueError:  # a line cut short by a killed writer
                        pass
    return events


def spark_stats(events: list[dict], windows: dict[str, tuple[float, float]]) -> dict[str, float]:
    """Sum job, stage and task statistics over the jobs of timed ops.

    A job belongs to an op if its job group is the op id, or, for jobs
    another thread submits (stream micro-batches), if it was submitted
    inside the op's wall-clock window (epoch seconds)."""
    def op_of(job: dict) -> str | None:
        group = (job.get("Properties") or {}).get("spark.jobGroup.id")
        if group in windows:
            return group
        t = job.get("Submission Time", 0) / 1000.0
        for op, (a, b) in windows.items():
            if a <= t <= b:
                return op
        return None

    out: dict[str, float] = defaultdict(float)
    stage_op: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            op = op_of(ev)
            if op is not None:
                out["spark.jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_op[sid] = op
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_op:
                out["spark.stages"] += 1
                if "Submission Time" in info:
                    stage_submit[info["Stage ID"]] = info["Submission Time"]
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_op:
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            out["spark.tasks"] += 1
            out["spark.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            out["spark.executor_run_ms"] += m.get("Executor Run Time", 0)
            out["spark.gc_ms"] += m.get("JVM GC Time", 0)
            submit = stage_submit.get(ev["Stage ID"])
            if submit is not None and "Launch Time" in info:
                out["spark.task_wait_ms"] += max(0, info["Launch Time"] - submit)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            out["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            out["spark.spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
    return dict(out)


def stream_listener(spark, sink: list):
    """Register a listener appending (epoch s, durationMs) per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append((time.time(), dict(event.progress.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def catalyst_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning time of ``df``'s own plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in CATALYST_PHASES:
        opt = phases.get(p)
        out[f"catalyst.{p}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def cache_mb(spark) -> float:
    """Blocks held by persisted DataFrames, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def layer_metrics(
    tracer: Tracer,
    windows: dict[str, tuple[float, float]],
    events: list[dict] | None = None,
    progress: list[tuple[float, dict]] | None = None,
    extra: dict[str, float] | None = None,
) -> dict[str, dict]:
    """Every per-layer metric (0 where the workload does not reach the
    layer), per timed op."""
    n_ops = max(1, len(windows))
    spans = [s for s in tracer.spans if s.op in windows]
    selfs = self_times(tracer.spans)
    by_id = {s.sid: s for s in tracer.spans}
    totals: dict[str, float] = defaultdict(float)

    def outermost(s: Span) -> bool:
        p = by_id.get(s.parent)
        while p is not None:
            if p.name == s.name:
                return False
            p = by_id.get(p.parent)
        return True

    for s in spans:
        ms = (s.end - s.start) * 1000.0
        if s.name == "mcp_transport.handle":
            totals["mcp_transport.handle_self_ms"] += selfs[s.sid] * 1000.0
        elif s.name == "mcp.recall_search":
            totals["mcp.recall_search_ms"] += ms
            totals["mcp.execute_self_ms"] += selfs[s.sid] * 1000.0
        elif s.name == "mcp.validate_branch":
            totals["mcp.validate_branch_ms"] += ms
        elif s.name == "engine.recall":
            totals["engine.recall_build_ms"] += ms
        elif s.name in ("session.table_open", "session.materialize"):
            if outermost(s):
                totals[f"{s.name}.calls"] += 1
                totals[f"{s.name}_ms"] += ms
        else:
            totals[f"{s.name}_ms"] += ms
    for key, val in tracer.counts.items():
        totals[key] += val
    totals.update(spark_stats(events or [], windows))
    for t, durations in progress or ():
        if any(a <= t <= b for a, b in windows.values()):
            totals["streaming.batches"] += 1
            for phase, name in STREAM_PHASES.items():
                totals[f"streaming.{name}"] += durations.get(phase, 0)
    out = {}
    for name in PER_LAYER:
        val = totals.get(name, 0.0)
        if name not in ("session.materialize_keyed.hit_ratio", "session.cache_mb",
                        "sources.deltalog.replay_slice_mb"):
            val /= n_ops
        out[name] = {"value": val, "unit": unit_of(name)}
    if tracer.replay_mb:
        out["sources.deltalog.replay_slice_mb"]["value"] = sum(tracer.replay_mb) / len(tracer.replay_mb)
    hits = totals.get("session.materialize_keyed.hits", 0.0)
    misses = totals.get("session.materialize_keyed.misses", 0.0)
    out["session.materialize_keyed.hit_ratio"]["value"] = hits / (hits + misses) if hits + misses else 0.0
    for name, val in (extra or {}).items():
        out[name]["value"] = val
    return out


def top_level_ms(tracer: Tracer, windows: dict[str, tuple[float, float]]) -> float:
    """Summed duration of root spans of timed ops, to reconcile with the
    measured wall time."""
    return sum(
        (s.end - s.start) * 1000.0
        for s in tracer.spans
        if s.op in windows and s.parent is None
    )
