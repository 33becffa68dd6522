"""``ingest`` workload: repeated passes over a fixed mix of write-side
registered queries (streaming micro-batch ingest and index append),
driven in-process through ``registry.QUERIES``.

Each query is timed as bench.py times it: the ``fn(spark, sf_dir)``
call, then ``.count()``, then ``release_scratch()`` + ``clearCache()``.
Row counts are checked after the timed region against values frozen
with the workload.  After every pass the run's own ``TMPDIR`` and the
session's temporary tables are counted (left-behind stream checkpoints,
sources and memory-sink tables); nothing is cleaned up between passes.
"""

from __future__ import annotations

import math
import os
import tempfile
import time
from pathlib import Path

import common
import datagen

# query -> row count, fixed by datagen's shapes for every seed
MIX = {
    # one row per (hour, event type)
    "streaming_tumbling_counts": datagen.EVENT_HOURS * len(datagen.EVENT_TYPES),
    # one row per event type
    "streaming_dedup_events": len(datagen.EVENT_TYPES),
    # one row per IVF cell
    "streaming_index_append": datagen.N_CELLS,
}
# Warm-up passes after the cold one.  Process-tree CPU per pass settles
# by the second (52, 19, 13, 14 s for cold and warm 1-3 on four cores).
WARMUP_PASSES = 2
SETTLE = 0.10  # a settled warm-up pass is within 10% of the timed median


def run(root: Path, work: Path, seed: int, seconds: float, cpus: int,
        traced: bool, mix: dict | None = None,
        n_hours: int = datagen.EVENT_HOURS, warmup_passes: int = WARMUP_PASSES,
        corrupt_one: bool = False) -> dict:
    mix = dict(mix or MIX)
    data_dir = work / "data"
    datagen.write_inputs(str(data_dir), {
        "events": datagen.events(seed, n_hours), "embeddings": datagen.embeddings(seed),
    })
    # Spark, its Python workers and every tempfile stay inside ``work``
    os.environ.update(common.program_env(root, work))
    tempfile.tempdir = None
    os.chdir(work)
    tmp_dir = str(work / "tmp")

    t0 = time.perf_counter()
    from mcp_server_vector_search_spark.functions import train

    # registration-time oracle folding reads this directory; point it at
    # the generated inputs so the run reads nothing outside its checkout
    train.ORACLE_SF_DIR = str(data_dir)
    from mcp_server_vector_search_spark import registry
    from mcp_server_vector_search_spark.cache import release_scratch
    from mcp_server_vector_search_spark.session import get_spark

    spark = get_spark(app_name="perfbench-ingest", cpus=cpus)
    session_start_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    registry.load_all_operators()
    registry_load_s = time.perf_counter() - t1

    tracer = _Tracer(spark) if traced else None
    sf = str(data_dir)
    passes: list[dict] = []

    def one_pass(phase: str, trace_it: bool) -> dict:
        rec = {"phase": phase, "traced": trace_it, "queries": {}}
        if tracer:
            tracer.log.enabled = trace_it
        cpu0 = common.tree_cpu_s(os.getpid())
        p0 = time.perf_counter()
        for name in mix:
            rec["queries"][name] = _run_query(
                spark, registry.QUERIES[name], name, sf, release_scratch,
                tracer if trace_it else None, len(passes))
        rec["s"] = time.perf_counter() - p0
        rec["cpu_s"] = round(common.tree_cpu_s(os.getpid()) - cpu0, 2)
        entries, mb = common.dir_usage(tmp_dir)
        temp_tables = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
        rec["residue"] = {"tmp_entries": entries, "tmp_mb": round(mb, 3),
                          "temp_tables": temp_tables}
        passes.append(rec)
        return rec

    try:
        one_pass("setup", False)
        setup_s = time.perf_counter() - t0
        for _ in range(warmup_passes):
            one_pass("warmup", False)
        t_start = time.perf_counter()
        n_timed = 0
        while n_timed < 2 or time.perf_counter() - t_start < seconds:
            one_pass("timed", traced and n_timed % 2 == 0)
            n_timed += 1
        timed_s = time.perf_counter() - t_start
        if tracer:
            tracer.finish()
        peak_rss_mb, rss_split = common.tree_hwm_mb(os.getpid())
    finally:
        _stop(spark)

    # -- checks, outside the timed region --------------------------------
    if corrupt_one:  # self-test: one wrong row count must be counted
        q = next(iter(mix))
        passes[-1]["queries"][q]["rows"] += 1
    failures = []
    for i, p in enumerate(passes):
        for name, q in p["queries"].items():
            why = q.get("error")
            if why is None and q["rows"] != mix[name]:
                why = f"{q['rows']} rows, frozen value {mix[name]}"
            q["ok"] = why is None
            if why:
                failures.append({"op": name, "pass": i, "phase": p["phase"],
                                 "reason": why})

    timed = [p for p in passes if p["phase"] == "timed"]
    plain = [p for p in timed if not p["traced"]]
    call_ms = [q["s"] * 1e3 if q["ok"] else math.inf
               for p in plain for q in p["queries"].values()]
    pass_s = [p["s"] if all(q["ok"] for q in p["queries"].values()) else math.inf
              for p in plain]
    setup_ok = all(q["ok"] for q in passes[0]["queries"].values())
    attempted = sum(len(p["queries"]) for p in passes)
    residue = _residue_per_pass(passes)
    end_to_end = {
        "setup_s": (setup_s if setup_ok else math.inf, "s"),
        "call_ms.p50": (common.percentile(call_ms, 50), "ms"),
        "pass_s": (common.median(pass_s), "s"),
    }
    record = {
        "workload": "ingest", "mix": mix, "queries_per_pass": len(mix),
        "timed_passes": len(plain), "timed_calls": len(call_ms),
        "timed_s": round(timed_s, 3), "timed_pass_cpu_s": [p["cpu_s"] for p in timed],
        "session_start_s": round(session_start_s, 3),
        "registry_load_s": round(registry_load_s, 3),
        "warmup": {"passes": warmup_passes,
                   "pass_s": [round(p["s"], 3) for p in passes if p["phase"] != "timed"],
                   "cpu_s": [p["cpu_s"] for p in passes if p["phase"] != "timed"],
                   # the last warm-up pass within 10% of the timed median
                   "settled": abs(passes[warmup_passes]["s"] - common.median(
                       [p["s"] for p in timed])) <= SETTLE * common.median(
                       [p["s"] for p in timed])},
        "residue_after_each_pass": [p["residue"] for p in passes],
        "residue_growth_per_pass": residue,
        "peak_rss_mb": peak_rss_mb, "peak_rss_mb_by_process": rss_split,
        "failed_share": len(failures) / attempted, "failures": failures[:20],
    }
    out = {"end_to_end": end_to_end, "attempted": attempted,
           "failed": len(failures), "record": record}
    if traced:
        layer = tracer.per_layer()
        layer.update(residue)
        layer.update(common.memory_layers(rss_split))
        layer["session.start_s"] = session_start_s
        layer["registry.load_s"] = registry_load_s
        tr = [p for p in timed if p["traced"]]
        tr_ms = [q["s"] * 1e3 for p in tr for q in p["queries"].values()]
        un_ms = [q["s"] * 1e3 for p in plain for q in p["queries"].values()]
        layer["trace.overhead.call_ms.p50"] = (
            common.median(tr_ms) - common.median(un_ms))
        layer["trace.overhead.pass_s"] = (
            common.median([p["s"] for p in tr]) - common.median([p["s"] for p in plain]))
        out["per_layer"] = layer
        out["spans"] = tracer.log.spans
    return out


def _run_query(spark, fn, name: str, sf: str, release_scratch, tracer,
               pass_no: int) -> dict:
    if tracer:
        return tracer.run_query(spark, fn, name, sf, release_scratch, pass_no)
    t0 = time.perf_counter()
    try:
        rows = fn(spark, sf).count()
    except Exception as exc:  # noqa: BLE001 — a failed query is reported by name
        return {"s": time.perf_counter() - t0, "rows": None,
                "error": f"{type(exc).__name__}: {str(exc)[:300]}"}
    finally:
        release_scratch()
        spark.catalog.clearCache()
    return {"s": time.perf_counter() - t0, "rows": rows}


def _residue_per_pass(passes: list[dict]) -> dict[str, float]:
    """Median growth per timed pass of what passes leave behind."""
    keys = (("tmp_entries", "streaming.residue_dirs"),
            ("tmp_mb", "streaming.residue_mb"),
            ("temp_tables", "streaming.memory_tables"))
    out = {}
    for src, dst in keys:
        growth = [b["residue"][src] - a["residue"][src]
                  for a, b in zip(passes, passes[1:]) if b["phase"] == "timed"]
        out[dst] = common.median(growth)
    return out


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = common.process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        common.reap(tree)
        proc.wait()


class _Tracer:
    """Spans, Spark job counters, Catalyst phases and streaming progress
    for the traced passes of an in-process run."""

    def __init__(self, spark) -> None:
        import tracing
        from pyspark.sql import SparkSession

        self.tracing = tracing
        self.sc = spark.sparkContext
        self.log = tracing.Spans()
        self.progress: list = []
        self.listener = tracing.progress_listener(self.progress)
        spark.streams.addListener(self.listener)
        # streams on spark.newSession() children report to the child's
        # listener bus only: attach the listener to every child
        orig_new = SparkSession.newSession
        tracer = self

        def new_session(self_):
            child = orig_new(self_)
            if tracer.log.enabled:
                child.streams.addListener(tracer.listener)
            return child

        SparkSession.newSession = new_session
        self.ops: list[dict] = []

    def run_query(self, spark, fn, name, sf, release_scratch, pass_no) -> dict:
        tr = self.tracing
        op = {"name": name, "id": len(self.ops), "pass": pass_no, "w0": time.time()}
        self.log.op = op["id"]
        self.sc.setJobGroup(f"perfbench-{name}", "traced query")
        t0 = time.perf_counter()
        out = {}
        try:
            op["j0"] = tr.next_job_id(self.sc)
            with self.log.span("operators.construct"):
                df = fn(spark, sf)
            op["j1"] = tr.next_job_id(self.sc)
            with self.log.span("spark.count"):
                out["rows"] = df.count()
        except Exception as exc:  # noqa: BLE001 — reported by name
            out = {"rows": None, "error": f"{type(exc).__name__}: {str(exc)[:300]}"}
            df = None
        finally:
            with self.log.span("cache.release"):
                release_scratch()
                spark.catalog.clearCache()
        out["s"] = time.perf_counter() - t0
        op["j2"] = tr.next_job_id(self.sc)
        op.setdefault("j1", op["j2"])
        op["w1"] = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        if df is not None:
            df._jdf.queryExecution().executedPlan()
            op["catalyst_ms"] = tr.catalyst_ms(df._jdf)
        self.ops.append(op)
        return out

    def finish(self) -> None:
        """Read the counters back once every traced pass has run."""
        tr = self.tracing
        tr.drain_listener_bus(self.sc)
        time.sleep(0.5)  # let the Python listener callbacks land
        self_ms = self.log.self_times()
        for op in self.ops:
            op["spark"] = tr.job_counters(self.sc, range(op["j0"], op["j2"]))
            op["eager_jobs"] = op["j1"] - op["j0"]
            mine = [p for p in self.progress
                    if op["w0"] <= tr.progress_epoch(p) <= op["w1"]]
            op["stream"] = tr.stream_counters(mine)
            op["self_ms"] = self_ms[op["id"]]

    def per_layer(self) -> dict:
        """Per traced pass sums, as the median over traced passes."""
        by_pass: dict[int, list[dict]] = {}
        for op in self.ops:
            by_pass.setdefault(op["pass"], []).append(op)
        per_pass = []
        for ops in by_pass.values():
            rec = {f"spark.{k}": sum(o["spark"][k] for o in ops)
                   for k in self.tracing.SPARK_COUNTERS}
            rec["sources.rows_read"] = rec.pop("spark.input_records")
            rec["spark.catalyst_ms"] = sum(o.get("catalyst_ms", 0.0) for o in ops)
            for k in ("batches", "planning_ms", "commit_ms"):
                rec[f"streaming.{k}"] = sum(o["stream"][k] for o in ops)
            for span, layer in (("operators.construct", "operators"),
                                ("spark.count", "spark"), ("cache.release", "cache")):
                rec[f"self_ms.{layer}"] = sum(o["self_ms"].get(span, 0.0) for o in ops)
            for o in ops:
                q = f"operators.{o['name']}"
                rec[f"{q}.construct_ms"] = o["self_ms"].get("operators.construct", 0.0)
                rec[f"{q}.execute_ms"] = o["self_ms"].get("spark.count", 0.0)
                rec[f"{q}.eager_jobs"] = o["eager_jobs"]
            per_pass.append(rec)
        return {k: common.median([r[k] for r in per_pass]) for k in per_pass[0]}
