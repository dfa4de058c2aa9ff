"""``batch``: one client thread running tier-1 queries.

A frozen subset of ``bench.BENCH_QUERIES``, one query per operator module
(two for ``relational``), plus four registered Delta-table queries for the
storage layer (merge, update, deletion-vector delete, optimize, the
automatic checkpoint, snapshot reads), runs through
``registry.all_specs()[name].fn(spark, sf_dir)``. Each run:

1. set-up: session start (with its first job) plus one open of every table;
2. a cold pass: the first call of every query in the session, so every
   session cache a query fills (``materialize``, ``materialize_keyed``) is
   filled inside its timed run; no two queries of the set share a keyed
   cache, so none is warmed by another. The Delta queries build their
   table under the run's temp dir on first call, so their commits all
   happen in this pass;
3. warm passes, at least one, until ``--seconds`` have passed since 2;
   they find the caches and Delta tables the cold pass made. A second pass
   would add a warm pass time (8-10 s) to each run, which the run budget
   gives to ``serve``'s warm-up instead.

The gated figure is the engine's CPU time per query (this process, its JVM
and its Python workers), over every timed run, cold ones included, so cost
moved into or out of the cold pass shows. Wall-clock latency, its median
and mean over the same runs, goes to the detail line with the cold and warm
pass times.

Every timed run collects its result into this process (``toPandas``), and the
result is compared, untimed, with the query's DuckDB oracle under
``tools/check.py``'s normalisation, so cold and warm results are both
checked. The seed shuffles the query order of each pass.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time

from perfbench import common, trace

# Frozen copy: later edits to bench.BENCH_QUERIES do not change this workload.
QUERIES = (
    "recall_envelope",
    "pricing_summary",
    "join_shuffle",
    "pivot_lineitem_status",
    "promo_revenue_share",
    "dedup_embedding_cosine",
    "dedup_exact",
    "text_quality_score",
    "udaf_grouped_normalize",
    "stream_tumbling_counts",
    "source_delta_update",
    "source_delta_merge_upsert",
    "source_delta_optimize_dv",
    "source_delta_deletion_vectors",
)
MIN_WARM_PASSES = 1


def layer_of(spec) -> str:
    return spec.fn.__module__.removeprefix(trace.PACKAGE + ".")


class Oracle:
    """DuckDB oracle results, computed once per query (every query of the
    set has an oracle)."""

    def __init__(self, sf_dir: str, specs):
        import duckdb

        from opencode_hive_archon_spark.session import TABLE_NAMES

        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self.specs = specs
        self.results: dict = {}
        self.passed: dict = {}

    def check(self, name: str, got) -> str | None:
        from tools import check

        if name in self.passed and self.passed[name].equals(got):
            return None  # identical to a result that passed the full comparison
        if name not in self.results:
            iterative = check.ITER_ORACLES.get(name)
            sql = self.specs[name].oracle
            self.results[name] = iterative(self.con) if iterative else self.con.execute(sql).df()
        problems = check.compare(name, got, self.results[name])
        if problems:
            return " | ".join(problems)
        self.passed[name] = got
        return None


def run(args, run_dir: str, sf_dir: str) -> None:
    from opencode_hive_archon_spark import registry, session

    rng = random.Random(args.seed)
    tracer = trace.Tracer() if args.trace else None
    log_dir = os.path.join(run_dir, "eventlog")
    progress: list = []
    if tracer:
        trace.install_engine_wrappers(tracer)

    t0 = time.perf_counter()
    spark = session.get_spark(
        "perfbench-batch", extra_conf=trace.event_log_conf(log_dir) if tracer else None
    )
    spark.range(1000).count()
    for t in session.TABLE_NAMES:
        session.read_table(spark, sf_dir, t)
    setup_s = time.perf_counter() - t0

    specs = registry.all_specs()
    oracle = Oracle(sf_dir, specs)
    failures: list[str] = []
    attempted = 0
    if tracer:
        trace.stream_listener(spark, progress)

    lat: list[float] = []
    cpu: list[float] = []
    passes: list[tuple[str, float]] = []
    windows: dict[str, tuple[float, float]] = {}
    cache_peak = 0.0
    start = time.perf_counter()
    while len(passes) <= MIN_WARM_PASSES or time.perf_counter() - start < args.seconds:
        kind = "warm" if passes else "cold"
        order = list(QUERIES)
        rng.shuffle(order)
        pass_s = 0.0
        for name in order:
            spec = specs[name]
            layer = layer_of(spec)
            op = f"{len(passes)}:{name}"
            attempted += 1
            with trace.op_scope(tracer, spark, op) if tracer else contextlib.nullcontext():
                cpu_start = common.tree_cpu_s(os.getpid())
                wall, t = time.time(), time.perf_counter()
                try:
                    if tracer:
                        df = tracer.call(f"{layer}.build", spec.fn, spark, sf_dir)
                        got = tracer.call(f"{layer}.execute", df.toPandas)
                    else:
                        got = spec.fn(spark, sf_dir).toPandas()
                except Exception as exc:  # noqa: BLE001 - counted as a failed op
                    failures.append(f"{op}: {type(exc).__name__}: {exc}"[:400])
                    continue
                elapsed = time.perf_counter() - t
                cpu_s = common.tree_cpu_s(os.getpid()) - cpu_start
            windows[op] = (wall, time.time())
            lat.append(elapsed)
            cpu.append(cpu_s)
            pass_s += elapsed
            problem = oracle.check(name, got)
            if problem:
                failures.append(f"{op}: {problem}"[:400])
            if tracer:
                for key, val in trace.catalyst_ms(df).items():
                    tracer.counts[key] += val
                cache_peak = max(cache_peak, trace.cache_mb(spark))
        passes.append((kind, pass_s))
    peak_rss_mb = common.peak_rss_mb(os.getpid())

    detail = {
        "workload": "batch",
        "queries": list(QUERIES),
        "cold_pass_s": passes[0][1],
        "query_pass_s": statistics.median(s for k, s in passes if k == "warm"),
        "passes": passes,
        **common.latency_detail(lat),
        "peak_rss_mb": peak_rss_mb,
        "calibration": common.calibration(spark),
    }
    metrics = common.op_metrics(cpu, setup_s)
    if tracer:
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        detail["traced_e2e"] = metrics
        detail["reconcile"] = {
            "top_level_spans_ms": trace.top_level_ms(tracer, windows),
            "measured_ms": sum(lat) * 1000.0,
        }
        common.stop_spark(spark)
        metrics = trace.layer_metrics(
            tracer, windows, trace.read_event_log(log_dir), progress,
            extra={"session.cache_mb": cache_peak},
        )
    else:
        common.stop_spark(spark)
    common.emit(failures, attempted, metrics, detail)
