"""Benchmark for the MCP serve path and streaming / index ingest.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve|ingest --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Inputs are generated from ``--seed`` inside the checkout (``.perfbench/``);
the program sees only those files.  Spark runs on at most four local
cores.  Each run prints ``# name = value unit`` lines, then, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``; per-layer metrics
and the tracing overhead with ``--trace 1``).  A self-labelling record
(steal, load average, cores, seed, commit, warm-up) goes to
``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

import common
import ingest
import serve

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "mcp_server_vector_search_spark"
MAX_CPUS = 4

END_TO_END = {
    "setup_s": "s",
    "call_ms.p50": "ms",
    "pass_s": "s",
}
INGEST_QUERIES = (
    "streaming_tumbling_counts", "streaming_dedup_events", "streaming_index_append",
)
PER_LAYER = {
    "serving.codec_ms": "ms",
    "functions.prompt_embed_ms": "ms",
    "engine.plan_ms": "ms",
    "engine.execute_ms": "ms",
    "sources.rows_read": "count",
    "engine.rows_read_per_result": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.catalyst_ms": "ms",
    **{f"operators.{q}.{m}": u for q in INGEST_QUERIES
       for m, u in (("construct_ms", "ms"), ("execute_ms", "ms"), ("eager_jobs", "count"))},
    "streaming.batches": "count",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.residue_dirs": "count",
    "streaming.residue_mb": "MB",
    "streaming.memory_tables": "count",
    "memory.jvm_hwm_mb": "MB",
    "memory.python_hwm_mb": "MB",
    "session.start_s": "s",
    "registry.load_s": "s",
    "self_ms.serving": "ms",
    "self_ms.engine": "ms",
    "self_ms.functions": "ms",
    "self_ms.operators": "ms",
    "self_ms.spark": "ms",
    "self_ms.cache": "ms",
    "trace.overhead.call_ms.p50": "ms",
    "trace.overhead.pass_s": "s",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.selftest:
        import selftest

        return selftest.main(ROOT)
    if args.workload is None:
        ap.error("--workload is required")
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(res["line"])
    return 0


def run_workload(workload: str, seed: int, seconds: float, traced: bool,
                 keep_work: bool = False, **kw) -> dict:
    """Run one workload; returns the result line, metrics and record.
    Per-layer metrics of a layer the workload bypasses read 0."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    labels = common.HostLabels(ROOT, seed, cpus)
    base = ROOT / ".perfbench"
    work = base / f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cwd = os.getcwd()
    try:
        mod = serve if workload == "serve" else ingest
        out = mod.run(ROOT, work, seed, seconds, cpus, traced, **kw)
    except Exception:  # noqa: BLE001 — a crashed run is a failed run
        traceback.print_exc()
        out = crashed_run(traced)
    finally:
        os.chdir(cwd)
    record = {**labels.finish(), **out["record"], "trace": traced}
    names = PER_LAYER if traced else END_TO_END
    values = out["per_layer"] if traced else {k: v for k, (v, _) in out["end_to_end"].items()}
    metrics = {k: (float(values.get(k, 0.0)), u) for k, u in names.items()}
    if traced:
        record["end_to_end_traced"] = {k: v for k, (v, _) in out["end_to_end"].items()}
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    correct = out["failed"] == 0
    for k, (v, u) in metrics.items():
        print(f"# {k} = {v:.6g} {u}")
    print(f"# samples: {record.get('timed_calls')} timed operations, "
          f"{record.get('timed_passes')} timed passes; failed_share "
          f"{record['failed_share']:.4g}; steal {record['steal_share']:.3f}; "
          f"cores {cpus}/{record['nproc']}")
    for f in record["failures"]:
        print(f"# FAILED {f['op']} ({f['phase']}): {f['reason']}")
    records = base / "records"
    records.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{workload}-s{seed}-t{int(traced)}-{stamp}"
    with open(records / f"{name}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if "spans" in out:
        with open(records / f"{name}-spans.json", "w") as f:
            json.dump(out["spans"], f)
    if not keep_work:
        shutil.rmtree(work, ignore_errors=True)
    line = common.result_line(correct, out["attempted"], out["failed"], metrics)
    return {"line": line, "metrics": metrics, "record": record, "out": out,
            "work": work}


def crashed_run(traced: bool) -> dict:
    """Result of a run that raised: one failed operation, every metric
    at the failure sentinel."""
    end_to_end = {k: (common.FAILED_LATENCY, u) for k, u in END_TO_END.items()}
    out = {"end_to_end": end_to_end, "attempted": 1, "failed": 1,
           "record": {"failed_share": 1.0,
                      "failures": [{"op": "run", "phase": "any",
                                    "reason": "raised; traceback on stderr"}]}}
    if traced:
        out["per_layer"] = {}
    return out


if __name__ == "__main__":
    sys.exit(main())
