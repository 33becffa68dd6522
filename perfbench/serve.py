"""``serve`` workload: the real MCP stdio server in a subprocess, driven
by one closed-loop client.

Each request is timed from the line written to the reply line read.
Replies are checked, after the timed region, against an independent
numpy replica of the tool contract.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

import common
import datagen

N_DOCS = 5000          # the sf0.1 documents table size
K = 10
DIM = 64
PASS_CALLS = 10        # one pass: ten sequential requests
# Warm-up runs until the JIT settles, judged on the server tree's CPU
# per block of calls (steal does not inflate it, unlike latency): that
# still fell 18 -> 12 -> 10 -> 8.5 s per 5 calls after 15 calls (four cores).
WARMUP_MIN = 20
WARMUP_BLOCK = 5
WARMUP_MAX = 30
SETTLE = 0.10          # settled: block CPU moved < 10% from the block before
TOOL = "vector_search_spark"
SERVER_MODULE = "mcp_server_vector_search_spark.serving"


# -- independent replica of the tool contract ----------------------------


def _token_vec(tok: str, cache: dict) -> np.ndarray:
    v = cache.get(tok)
    if v is None:
        seed = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        v = cache[tok] = np.random.default_rng(seed).standard_normal(DIM)
    return v


def _embed(text: str, cache: dict) -> np.ndarray:
    acc = np.zeros(DIM)
    for tok in text.split(" "):
        acc += _token_vec(tok, cache)
    n = np.linalg.norm(acc)
    return (acc / n if n > 0 else acc).astype(np.float32)


class Replica:
    """md5-seeded token vectors summed and L2-normalised (float32), score
    (1+cos)/2 rounded half-up at 6 places, top-k by (score desc, name asc)."""

    def __init__(self, docs) -> None:
        self.cache: dict = {}
        self.names = [str(i) for i in docs.column("doc_id").to_pylist()]
        self.index = {n: i for i, n in enumerate(self.names)}
        texts = docs.column("text").to_pylist()
        self.mat = np.stack([_embed(t, self.cache) for t in texts]).astype(np.float64)
        self.norms = np.linalg.norm(self.mat, axis=1)

    def scores(self, prompt: str) -> np.ndarray:
        q = _embed(prompt, self.cache).astype(np.float64)
        cos = self.mat @ q / (self.norms * np.linalg.norm(q))
        return np.floor((1.0 + cos) / 2.0 * 1e6 + 0.5) / 1e6

    def check(self, prompt: str, reply: dict, k: int = K) -> str | None:
        """None when ``reply`` honours the contract, else the reason."""
        if "result" not in reply or reply["result"].get("isError"):
            return f"error reply: {json.dumps(reply)[:200]}"
        try:
            rows = json.loads(reply["result"]["content"][0]["text"])
        except (KeyError, IndexError, ValueError) as exc:
            return f"unparseable reply: {exc}"
        if len(rows) != k:
            return f"{len(rows)} rows, expected {k}"
        ref = self.scores(prompt)
        tol = 1e-6 + 1e-9  # one unit in the 6th place, plus float slack
        prev = None
        for row in rows:
            i = self.index.get(row.get("name"))
            if i is None:
                return f"unknown name {row.get('name')!r}"
            if abs(float(row["score"]) - ref[i]) > tol:
                return f"score of {row['name']}: {row['score']} vs {ref[i]:.6f}"
            key = (-float(row["score"]), row["name"])
            if prev is not None and key < prev:
                return "rows not ordered by (score desc, name asc)"
            prev = key
        # nothing scoring above the k-th returned score was left out
        kth = min(float(r["score"]) for r in rows)
        returned = {r["name"] for r in rows}
        missed = [n for n, s in zip(self.names, ref) if s > kth + tol and n not in returned]
        if missed:
            return f"missed higher-scoring docs {missed[:3]}"
        return None


# -- server process ------------------------------------------------------


class Server:
    """The stdio server; stderr goes to a file, never an undrained pipe
    (Spark's progress bar would fill it and stall the server)."""

    def __init__(self, root: Path, work: Path, data_dir: Path, cpus: int,
                 spans_out: Path | None = None) -> None:
        args = ["--corpus-dir", str(data_dir), "--cpus", str(cpus)]
        if spans_out is None:
            cmd = [sys.executable, "-m", SERVER_MODULE, *args]
        else:
            host = Path(__file__).with_name("serve_host.py")
            cmd = [sys.executable, str(host), str(spans_out), *args]
        self.stderr_path = work / "server.stderr"
        self._err = open(self.stderr_path, "w")
        self.env = {**os.environ, **common.program_env(root, work)}
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._err,
            text=True, env=self.env, cwd=str(work),
        )

    def request(self, msg: dict) -> tuple[dict | None, float]:
        """Send one request; (reply or None on EOF, seconds)."""
        line = json.dumps(msg) + "\n"
        t0 = time.perf_counter()
        self.proc.stdin.write(line)
        self.proc.stdin.flush()
        out = self.proc.stdout.readline()
        dt = time.perf_counter() - t0
        return (json.loads(out) if out else None), dt

    def notify(self, msg: dict) -> None:
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()

    def close(self) -> int | None:
        """EOF on stdin ends the server, and with it its JVM and Python
        workers; wait for every one of them, killing stragglers."""
        tree = common.process_tree(self.proc.pid)
        try:
            self.proc.stdin.close()
        except BrokenPipeError:
            pass
        common.reap(tree)
        self.proc.wait()
        self.proc.stdout.close()
        self._err.close()
        return self.proc.returncode


def tool_call(msg_id, prompt: str, k: int = K) -> dict:
    return {"jsonrpc": "2.0", "id": msg_id, "method": "tools/call",
            "params": {"name": TOOL, "arguments": {"prompt": prompt, "k": k}}}


# -- the workload --------------------------------------------------------


def run(root: Path, work: Path, seed: int, seconds: float, cpus: int,
        traced: bool, n_docs: int = N_DOCS,
        warmup_min: int = WARMUP_MIN, corrupt_one: bool = False) -> dict:
    data_dir = work / "data"
    docs = datagen.documents(seed, n_docs)
    datagen.write_inputs(str(data_dir), {"documents": docs})
    prompts = datagen.prompts(seed, 2000)
    spans_out = work / "spans.json" if traced else None

    t0 = time.perf_counter()
    server = Server(root, work, data_dir, cpus, spans_out)
    calls: list[dict] = []  # every tools/call: prompt, reply, seconds, phase

    def call(msg_id, phase: str) -> float:
        prompt = prompts[len(calls) % len(prompts)]
        reply, dt = server.request(tool_call(msg_id, prompt))
        if reply is None:
            raise RuntimeError(f"server exited; see {server.stderr_path}")
        calls.append({"prompt": prompt, "reply": reply, "s": dt, "phase": phase,
                      "traced": isinstance(msg_id, str)})
        return dt

    try:
        init, _ = server.request({"jsonrpc": "2.0", "id": 0, "method": "initialize",
                                  "params": {"protocolVersion": "2024-11-05",
                                             "capabilities": {},
                                             "clientInfo": {"name": "perfbench"}}})
        if init is None:
            raise RuntimeError(f"server exited; see {server.stderr_path}")
        server.notify({"jsonrpc": "2.0", "method": "notifications/initialized"})
        call(1, "setup")
        setup_s = time.perf_counter() - t0

        # warm-up until the JIT settles
        warm_blocks: list[dict] = []
        prev = None
        while True:
            cpu0 = common.tree_cpu_s(server.proc.pid)
            lat = [call(len(calls) + 1, "warmup") for _ in range(WARMUP_BLOCK)]
            cpu = common.tree_cpu_s(server.proc.pid) - cpu0
            warm_blocks.append({"calls": WARMUP_BLOCK, "cpu_s": round(cpu, 2),
                                "median_ms": round(common.median(lat) * 1e3, 1)})
            n_warm = sum(b["calls"] for b in warm_blocks)
            settled = prev is not None and abs(cpu - prev) <= SETTLE * prev
            if (n_warm >= warmup_min and settled) or n_warm >= WARMUP_MAX:
                break
            prev = cpu

        # timed region: whole passes until ``seconds`` have elapsed; in a
        # traced run every other pass is traced (string ids)
        passes: list[tuple[bool, float]] = []
        pass_cpu_s: list[float] = []
        t_start = time.perf_counter()
        min_passes = 2 if traced else 1  # a traced run needs both kinds
        while len(passes) < min_passes or time.perf_counter() - t_start < seconds:
            tr = traced and len(passes) % 2 == 0
            total = 0.0
            cpu0 = common.tree_cpu_s(server.proc.pid)
            for _ in range(PASS_CALLS):
                n = len(calls) + 1
                total += call(f"t{n}" if tr else n, "timed")
            pass_cpu_s.append(round(common.tree_cpu_s(server.proc.pid) - cpu0, 2))
            passes.append((tr, total))
        timed_s = time.perf_counter() - t_start
        peak_rss_mb, rss_split = common.tree_hwm_mb(server.proc.pid)
    finally:
        rc = server.close()

    # -- checks, outside the timed region --------------------------------
    if corrupt_one:  # self-test: one wrong score must be counted
        rows = json.loads(calls[-1]["reply"]["result"]["content"][0]["text"])
        rows[0]["score"] = round(rows[0]["score"] + 0.01, 6)
        calls[-1]["reply"]["result"]["content"][0]["text"] = json.dumps(rows)
    replica = Replica(docs)
    failures = []
    for c in calls:
        why = replica.check(c["prompt"], c["reply"])
        c["ok"] = why is None
        if why:
            failures.append({"op": "tools/call", "phase": c["phase"], "reason": why})

    timed = [c for c in calls if c["phase"] == "timed"]
    plain = [c for c in timed if not c["traced"]]
    lat_ms = [c["s"] * 1e3 if c["ok"] else math.inf for c in plain]
    pass_s = [t if ok else math.inf for (tr, t), ok in zip(passes, _pass_ok(timed)) if not tr]
    attempted = len(calls)
    failed = len(failures)
    end_to_end = {
        "setup_s": (setup_s if calls[0]["ok"] else math.inf, "s"),
        "call_ms.p50": (common.percentile(lat_ms, 50), "ms"),
        "pass_s": (common.median(pass_s), "s"),
    }
    record = {
        "workload": "serve", "docs": n_docs, "k": K, "clients": 1,
        "loop": "closed", "calls_per_pass": PASS_CALLS,
        "timed_calls": len(plain), "timed_passes": len(pass_s),
        "timed_s": round(timed_s, 3), "timed_pass_cpu_s": pass_cpu_s,
        "server_exit": rc,
        "warmup": {"calls": sum(b["calls"] for b in warm_blocks), "blocks": warm_blocks,
                   "settled": settled},
        "peak_rss_mb": peak_rss_mb, "peak_rss_mb_by_process": rss_split,
        "failed_share": failed / attempted, "failures": failures[:20],
    }
    out = {"end_to_end": end_to_end, "attempted": attempted, "failed": failed,
           "record": record, "stderr_path": str(server.stderr_path),
           "env": server.env}
    if traced:
        with open(spans_out) as f:
            host = json.load(f)
        out["per_layer"] = {**_per_layer(host, timed), **common.memory_layers(rss_split)}
        out["spans"] = host["spans"]
    return out


def _pass_ok(timed: list[dict]) -> list[bool]:
    return [all(c["ok"] for c in timed[i:i + PASS_CALLS])
            for i in range(0, len(timed), PASS_CALLS)]


def _per_layer(host: dict, timed: list[dict]) -> dict:
    """Per-call medians of the traced calls' layer numbers, plus the
    tracing overhead: traced minus untraced calls of the same run."""
    ops = host["ops"]
    per: dict[str, list[float]] = {}
    for op in ops.values():
        for name, v in op.items():
            per.setdefault(name, []).append(v)
    layer = {name: common.median(v) for name, v in per.items()}
    tr = [c["s"] * 1e3 for c in timed if c["traced"]]
    un = [c["s"] * 1e3 for c in timed if not c["traced"]]
    layer["trace.overhead.call_ms.p50"] = common.median(tr) - common.median(un)
    layer["trace.overhead.pass_s"] = PASS_CALLS * (
        sum(tr) / len(tr) - sum(un) / len(un)) / 1e3
    layer["session.start_s"] = host["session_start_s"]
    return layer
