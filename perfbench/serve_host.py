"""Traced launcher for the MCP stdio server (``serve`` with ``--trace 1``).

Usage: ``python serve_host.py <spans.json> [server args...]``

Runs the unmodified ``serving.main`` after wrapping, from outside, the
public calls into each layer: JSON-RPC decode/encode and
``MCPServer.handle_message`` (serving), ``SparkVectorSearch.search`` and
``search_df`` (engine), ``embed_text_driver`` (functions),
``DataFrame.collect`` (Spark) and ``get_spark`` (session).  Only requests
whose JSON-RPC id is a string are traced, so traced and untraced calls
interleave in one server.  Each traced request runs under its own Spark
job group.  At EOF the spans and the per-request Spark counters are
written to ``<spans.json>``.
"""

from __future__ import annotations

import json
import sys
import time

import tracing
from mcp_server_vector_search_spark import engine, serving, session
from mcp_server_vector_search_spark.functions import embedder

try:  # PySpark 4 classic DataFrame
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # pragma: no cover - older PySpark
    from pyspark.sql import DataFrame


def main(argv: list[str]) -> None:
    out_path, server_args = argv[0], argv[1:]
    log = tracing.Spans()
    log.enabled = False
    catalyst: dict = {}
    state = {"sc": None, "session_start_s": None}

    class Codec:
        """Stands in for the ``json`` module inside serving.py."""

        JSONDecodeError = json.JSONDecodeError

        @staticmethod
        def loads(s):
            t0 = time.perf_counter()
            msg = json.loads(s)
            t1 = time.perf_counter()
            msg_id = msg.get("id") if isinstance(msg, dict) else None
            log.op = msg_id if isinstance(msg_id, str) else None
            log.enabled = log.op is not None
            if log.enabled:
                log.spans.append({"name": "serving.codec", "start": t0, "end": t1,
                                  "parent": None, "op": log.op})
            return msg

        @staticmethod
        def dumps(obj, **kw):
            if not log.enabled:
                return json.dumps(obj, **kw)
            with log.span("serving.codec"):
                return json.dumps(obj, **kw)

    serving.json = Codec

    orig_handle = serving.MCPServer.handle_message

    def handle_message(self, msg):
        if not log.enabled:
            return orig_handle(self, msg)
        sc = state["sc"]
        sc.setJobGroup(f"perfbench-{log.op}", "traced MCP request")
        try:
            with log.span("serving.handle"):
                return orig_handle(self, msg)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    serving.MCPServer.handle_message = handle_message
    log.wrap(engine.SparkVectorSearch, "search", "engine.search")
    log.wrap(engine.SparkVectorSearch, "search_df", "engine.search_df")
    log.wrap(embedder, "embed_text_driver", "functions.embed")

    orig_collect = DataFrame.collect

    def collect(self):
        if not log.enabled:
            return orig_collect(self)
        with log.span("spark.collect"):
            rows = orig_collect(self)
        catalyst[log.op] = catalyst.get(log.op, 0.0) + tracing.catalyst_ms(self._jdf)
        return rows

    DataFrame.collect = collect

    orig_get_spark = session.get_spark

    def get_spark(*a, **kw):
        t0 = time.perf_counter()
        spark = orig_get_spark(*a, **kw)
        state["session_start_s"] = time.perf_counter() - t0
        state["sc"] = spark.sparkContext
        return spark

    session.get_spark = get_spark

    serving.main(server_args)

    # stdin reached EOF: read the per-request Spark counters back
    sc = state["sc"]
    tracing.drain_listener_bus(sc)
    self_ms = log.self_times()
    incl_ms = log.totals()
    ops = {}
    for op, names in self_ms.items():
        if op is None:
            continue
        jobs = sc.statusTracker().getJobIdsForGroup(f"perfbench-{op}")
        spark = tracing.job_counters(sc, jobs)
        rows_read = spark.pop("input_records")
        incl = incl_ms[op]
        rec = {
            "serving.codec_ms": names.get("serving.codec", 0.0),
            "functions.prompt_embed_ms": names.get("functions.embed", 0.0),
            "engine.plan_ms": names.get("engine.search_df", 0.0),
            "engine.execute_ms": incl.get("engine.search", 0.0)
            - incl.get("engine.search_df", 0.0),
            "sources.rows_read": rows_read,
            "engine.rows_read_per_result": rows_read / engine.DEFAULT_K,
            "spark.catalyst_ms": catalyst.get(op, 0.0),
            "self_ms.serving": names.get("serving.codec", 0.0)
            + names.get("serving.handle", 0.0),
            "self_ms.engine": names.get("engine.search", 0.0)
            + names.get("engine.search_df", 0.0),
            "self_ms.functions": names.get("functions.embed", 0.0),
            "self_ms.spark": names.get("spark.collect", 0.0),
        }
        rec.update({f"spark.{k}": v for k, v in spark.items()})
        ops[str(op)] = rec
    with open(out_path, "w") as f:
        json.dump({"ops": ops, "session_start_s": state["session_start_s"],
                   "spans": log.spans}, f)


if __name__ == "__main__":
    main(sys.argv[1:])
