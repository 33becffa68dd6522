"""Fast self-test of the benchmark (``run.py --selftest``).

Runs each workload traced on sf0.001-sized inputs for a few operations,
with one output deliberately corrupted, and checks that:

- every end-to-end and per-layer metric is printed with its unit;
- the corrupted serve reply and the corrupted row count are counted as
  failures;
- the server's stderr went to a file, not an undrained pipe;
- the checkout reached the Python workers through PYTHONPATH (the
  server runs outside the checkout, so a UDF can import the package
  only that way).
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import datagen
import run


def _check_metrics(res: dict, problems: list[str], workload: str) -> None:
    printed = json.loads(res["line"])["metrics"]
    for name, unit in run.PER_LAYER.items():
        if printed.get(name, {}).get("unit") != unit:
            problems.append(f"{workload}: per-layer {name} [{unit}] not printed")
    e2e = res["out"]["end_to_end"]
    for name, unit in run.END_TO_END.items():
        if name not in e2e or e2e[name][1] != unit:
            problems.append(f"{workload}: end-to-end {name} [{unit}] not produced")


def main(root: Path) -> int:
    problems: list[str] = []

    res = run.run_workload("serve", 1, 0.0, True, keep_work=True,
                           n_docs=50, warmup_min=0, corrupt_one=True)
    _check_metrics(res, problems, "serve")
    out = res["out"]
    if out["failed"] != 1 or res["record"]["failed_share"] <= 0:
        problems.append(f"serve: corrupted reply not counted (failed={out['failed']})")
    stderr = Path(out["stderr_path"])
    if not stderr.is_file() or stderr.stat().st_size == 0:
        problems.append("serve: server stderr did not go to its log file")
    first = out["env"]["PYTHONPATH"].split(os.pathsep)[0]
    if first != str(root):
        problems.append(f"serve: PYTHONPATH starts with {first!r}, not the checkout")
    if out["attempted"] - out["failed"] < 2:
        problems.append("serve: UDF-backed calls failed; PYTHONPATH did not reach workers")
    shutil.rmtree(res["work"], ignore_errors=True)

    hours = 6
    res = run.run_workload(
        "ingest", 1, 0.0, True,
        mix={"streaming_tumbling_counts": hours * len(datagen.EVENT_TYPES)},
        n_hours=hours, warmup_passes=0, corrupt_one=True)
    _check_metrics(res, problems, "ingest")
    if res["out"]["failed"] != 1:
        problems.append(f"ingest: corrupted row count not counted "
                        f"(failed={res['out']['failed']})")

    for p in problems:
        print(f"# SELFTEST FAIL: {p}")
    print("# selftest", "failed" if problems else "passed")
    return 1 if problems else 0
