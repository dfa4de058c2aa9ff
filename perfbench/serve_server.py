"""The engine's MCP stdio server with the benchmark's span wrappers.

Usage: ``python -m perfbench.serve_server SPANS_JSON EVENT_LOG_DIR``
(reads requests on stdin like ``python -m
opencode_hive_archon_spark.mcp_transport``). The wrappers are installed
before serving; each ``tools/call`` is an op named by its JSON-RPC id. At
end of input the Spark session is stopped, which closes its event log, and
the spans are written to SPANS_JSON.
"""

from __future__ import annotations

import dataclasses
import json
import sys

from perfbench import trace


def main() -> None:
    out_path, log_dir = sys.argv[1], sys.argv[2]
    from opencode_hive_archon_spark import mcp_transport, session

    tracer = trace.Tracer()
    trace.install_engine_wrappers(tracer)

    get_spark = session.get_spark

    def traced_get_spark(*args, **kwargs):
        conf = dict(kwargs.pop("extra_conf", None) or {}, **trace.event_log_conf(log_dir))
        return get_spark(*args, extra_conf=conf, **kwargs)

    session.get_spark = traced_get_spark
    handle = mcp_transport.StdioTransport.handle

    def op_handle(self, msg):
        if msg.get("method") != "tools/call":
            return handle(self, msg)
        with trace.op_scope(tracer, self._engine_server().spark, str(msg.get("id"))):
            return handle(self, msg)

    mcp_transport.StdioTransport.handle = op_handle
    transport = mcp_transport.StdioTransport()
    transport.serve()
    if transport._server is not None:
        transport._server.spark.stop()
    with open(out_path, "w") as fh:
        json.dump(
            {
                "spans": [dataclasses.asdict(s) for s in tracer.spans],
                "counts": tracer.counts,
                "replay_mb": tracer.replay_mb,
            },
            fh,
        )


if __name__ == "__main__":
    main()
