"""``serve``: one closed-loop client calling the MCP stdio server.

The client spawns the engine's JSON-RPC server, sends ``initialize`` and
then ``tools/call`` requests one at a time, each only after the previous
reply. The request stream is a pure function of the seed: blocks of
``BLOCK`` calls with a fixed mix, shuffled by the seed, so every seed gets
the same shares. Every reply is checked against DuckDB over the same
``documents`` table.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import time
from decimal import ROUND_HALF_UP, Decimal

from perfbench import common, trace

# One block of the request stream: 2 validate_branch, 4 supabase-routed
# searches (external rerank stage), 1 blank query, 4 exact repeats of an
# earlier search, 9 novel mem0-routed searches.
BLOCK = ["validate"] * 2 + ["supabase"] * 4 + ["blank"] + ["repeat"] * 4 + ["mem0"] * 9
# Two blocks: 40 timed calls keep the mean steady from run to run.
MIN_BLOCKS = 2
# Untimed calls after set-up: whole blocks of a stream with a fixed seed, so
# every run warms the same way and no timed call pays a code path's first-use
# cost. The JVM's JIT keeps compiling through the first two blocks after
# set-up: with one warm-up block, the first timed block took about a quarter
# more CPU time a call than the second.
WARMUP_SEED = "serve-warmup"
WARMUP_BLOCKS = 2
MODES = ("conversation", "fast", "accurate")
OOV = ("zebra", "quasar", "lattice", "umbra", "fjord", "kelvin", "nimbus", "prism")


def requests(seed: int | str, vocab: list[str], scenario_ids: list[str]):
    """Endless seeded stream of (kind, tools/call params)."""
    rng = random.Random(seed)
    searches: list[dict] = []

    def search(provider: str | None) -> dict:
        words = [
            rng.choice(vocab) if rng.random() < 0.8 else rng.choice(OOV)
            for _ in range(rng.randint(2, 8))
        ]
        # upper case and runs of blanks exercise the token normalisation
        words = [w.upper() if rng.random() < 0.1 else w for w in words]
        args = {
            "query": (" " if rng.random() < 0.8 else "   ").join(words),
            "mode": rng.choice(MODES),
            "top_k": rng.randint(1, 10),
            "threshold": rng.choice((0.5, 0.55, 0.6, 0.65, 0.7, 0.8)),
        }
        if provider:
            args["provider_override"] = provider
        return args

    while True:
        block = BLOCK[:]
        rng.shuffle(block)
        if not searches:  # a repeat needs an earlier search to copy
            block.insert(0, block.pop(block.index("mem0")))
        for kind in block:
            if kind == "validate":
                yield kind, {"name": "validate_branch",
                             "arguments": {"scenario_id": rng.choice(scenario_ids)}}
                continue
            if kind == "repeat":
                args = dict(rng.choice(searches))
            elif kind == "blank":
                args = dict(search(None), query=rng.choice(("", "   ")))
            else:
                args = search("supabase" if kind == "supabase" else None)
                searches.append(args)
            yield kind, {"name": "recall_search", "arguments": args}


def _half_up(x: float) -> float:
    """%.2f as the engine formats it (exact binary value, ties away)."""
    return float(Decimal(x).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


class Expected:
    """Top-k ids, confidences and branch recomputed with DuckDB."""

    TOKENS = "list_distinct(string_split(regexp_replace(trim(lower({})), '\\s+', ' ', 'g'), ' '))"

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE documents AS SELECT doc_id, text FROM read_parquet(?)",
            [os.path.join(sf_dir, "documents.parquet")],
        )

    def candidates(self, args: dict) -> list[tuple[int, float]]:
        query, top_k = args["query"], args["top_k"]
        if not query.strip():
            return []
        overlap = (
            f"len(list_intersect({self.TOKENS.format('$q')}, {self.TOKENS.format('text')}))"
        )
        if args.get("provider_override") != "supabase":
            sql = (
                f"SELECT doc_id, least(1.0, 0.5 + 0.05 * {overlap}) AS c FROM documents "
                "ORDER BY c DESC, doc_id ASC LIMIT $k"
            )
            return self.con.execute(sql, {"q": query, "k": top_k}).fetchall()
        # supabase prior (1/16 steps), native top-k, then the rerank stage
        sql = f"""
            WITH native AS (
              SELECT doc_id, text, 0.5 + CAST(doc_id % 5 AS DOUBLE) * 0.0625 AS c
              FROM documents ORDER BY c DESC, doc_id ASC LIMIT $k),
            n AS (SELECT count(*) AS n FROM native)
            SELECT doc_id, CASE WHEN n > 1 THEN least(1.0, c + 0.05 * {overlap}) ELSE c END AS c
            FROM native, n ORDER BY c DESC, doc_id ASC LIMIT $k"""
        return self.con.execute(sql, {"q": query, "k": top_k}).fetchall()

    def check(self, args: dict, result: dict) -> str | None:
        want = self.candidates(args)
        got = [(c["id"], c["confidence"]) for c in result["candidates"]]
        if got != [(i, _half_up(c)) for i, c in want]:
            return f"candidates {got} != {[(i, _half_up(c)) for i, c in want]}"
        supabase = args.get("provider_override") == "supabase"
        top = max((c for _, c in want), default=0.0)
        if not want:
            branch = "EMPTY_SET"
        elif top < args["threshold"]:
            branch = "LOW_CONFIDENCE"
        else:
            branch = "SUCCESS" if supabase else "RERANK_BYPASSED"
        provider = "supabase" if supabase else "mem0"
        if (result["branch"], result["context_packet"]["provider"]) != (branch, provider):
            return f"branch/provider {result['branch']}/{result['context_packet']['provider']} != {branch}/{provider}"
        return None


class Server:
    """The engine's stdio server as a child process."""

    def __init__(self, sf_dir: str, traced_out: str | None, log_dir: str):
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
        if traced_out:
            cmd = [sys.executable, "-m", "perfbench.serve_server", traced_out, log_dir]
        else:
            cmd = [sys.executable, "-m", "opencode_hive_archon_spark.mcp_transport"]
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            env=env, cwd=common.ROOT,
        )
        self.next_id = 0

    def call(self, method: str, params: dict) -> dict:
        self.next_id += 1
        self.proc.stdin.write(
            json.dumps({"jsonrpc": "2.0", "id": self.next_id, "method": method, "params": params})
            + "\n"
        )
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"server exited with {self.proc.poll()}")
        return json.loads(line)

    def close(self) -> None:
        """End of input stops the server; then reap it and everything below."""
        pids = common.descendants(self.proc.pid)
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()
        common.reap(pids)


def _tool_result(resp: dict) -> dict:
    if "error" in resp:
        raise RuntimeError(f"JSON-RPC error {resp['error']}")
    res = resp["result"]
    if res.get("isError"):
        raise RuntimeError(f"tool error {res}")
    return json.loads(res["content"][0]["text"])


def run(args, run_dir: str, sf_dir: str) -> None:
    from opencode_hive_archon_spark.plans.scenarios import SCENARIOS

    from perfbench.datagen import VOCAB

    scenario_ids = [s[0] for s in SCENARIOS]
    stream = requests(args.seed, VOCAB, scenario_ids)
    expected = Expected(sf_dir)
    traced_out = os.path.join(run_dir, "spans.json") if args.trace else None
    log_dir = os.path.join(run_dir, "eventlog")

    t0 = time.perf_counter()
    server = Server(sf_dir, traced_out, log_dir)
    failures: list[str] = []
    lat: list[float] = []
    cpu: list[float] = []
    windows: dict[str, tuple[float, float]] = {}
    mix: dict[str, int] = {}
    by_kind: dict[str, list[float]] = {}
    attempted = 0
    try:
        server.call("initialize", {})
        first = {"name": "recall_search", "arguments": {"query": "fast hash join", "top_k": 5}}
        _tool_result(server.call("tools/call", first))
        setup_s = time.perf_counter() - t0
        warmup = requests(WARMUP_SEED, VOCAB, scenario_ids)
        for _ in range(WARMUP_BLOCKS * len(BLOCK)):
            _tool_result(server.call("tools/call", next(warmup)[1]))
        # whole blocks only, so every run has the same request mix
        need = MIN_BLOCKS * len(BLOCK)
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or attempted < need or attempted % len(BLOCK):
            kind, params = next(stream)
            attempted += 1
            mix[kind] = mix.get(kind, 0) + 1
            cpu_start = common.tree_cpu_s(server.proc.pid)
            start_wall, start = time.time(), time.perf_counter()
            try:
                resp = server.call("tools/call", params)
                lat.append(time.perf_counter() - start)
                cpu.append(common.tree_cpu_s(server.proc.pid) - cpu_start)
                by_kind.setdefault(kind, []).append(lat[-1] * 1000.0)
                windows[str(server.next_id)] = (start_wall, time.time())
                result = _tool_result(resp)
                if params["name"] == "validate_branch":
                    ok = result.get("branch_match") and result.get("action_match")
                    problem = None if ok else f"validate_branch {result}"
                else:
                    problem = expected.check(params["arguments"], result)
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                problem = f"{type(exc).__name__}: {exc}"
            if problem:
                failures.append(f"{params}: {problem}"[:400])
        peak_rss_mb = common.peak_rss_mb(server.proc.pid)
    finally:
        server.close()

    metrics = common.op_metrics(cpu, setup_s)
    searches = [n for k, n in mix.items() if k != "validate"]
    detail = {
        "workload": "serve",
        **common.latency_detail(lat),
        "warmup_calls": WARMUP_BLOCKS * len(BLOCK),
        "peak_rss_mb": peak_rss_mb,
        "median_ms": {k: statistics.median(v) for k, v in by_kind.items()},
        "mix": mix,
        "repeat_share": mix.get("repeat", 0) / max(1, sum(searches)),
        "calibration": common.calibration(),
    }
    if args.trace:
        with open(traced_out) as fh:
            dump = json.load(fh)
        tracer = trace.Tracer()
        tracer.spans = [trace.Span(**s) for s in dump["spans"]]
        tracer.counts.update(dump["counts"])
        tracer.replay_mb = dump["replay_mb"]
        detail["traced_e2e"] = metrics
        metrics = trace.layer_metrics(tracer, windows, trace.read_event_log(log_dir))
        detail["reconcile"] = {
            "server_top_level_ms": trace.top_level_ms(tracer, windows),
            "client_round_trip_ms": sum(lat) * 1000.0,
        }
    common.emit(failures, attempted, metrics, detail)
