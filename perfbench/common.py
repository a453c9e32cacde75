"""Shared pieces of the workloads: run context, unit results, plan
inspection and the stub-server client."""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from proctree import TreeSampler
from spans import EngineCounters, Tracer


@dataclass
class Ctx:
    spark: SparkSession
    inputs: str  # generated input directory of this (workload, seed)
    truth: dict
    work: str  # scratch directory for the program's outputs
    sampler: TreeSampler
    counters: EngineCounters
    tracer: Tracer | None = None
    stub: Stub | None = None
    extra_state: dict = field(default_factory=dict)


@dataclass
class Unit:
    """One closed-loop unit of work (a pass, or a streamed round)."""

    wall_s: float  # program work + output check
    work_s: float  # program work alone
    docs: int  # input records the unit processed
    attempted: int  # the workload's own operations: fetches, requests, micro-batches
    failed: int
    problems: list[str] = field(default_factory=list)  # output mismatches
    extra: dict = field(default_factory=dict)  # workload-specific figures
    cpu_s: float | None = None  # engine-tree CPU over wall_s (else set by the runner)
    engine: dict = field(default_factory=dict)  # status-store deltas (set by the runner)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


_NODE = re.compile(r"^[\s:+|-]*(\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_nodes(df: DataFrame) -> tuple[int, int]:
    """(exchanges, python evaluation nodes) in the DataFrame's executed
    plan; for an adaptive plan, the final plan only."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.split("== Initial Plan ==")[0]
    exchanges = python = 0
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(2)
        if name.endswith("Exchange") and not name.startswith("Reused"):
            exchanges += 1
        elif "Python" in name or name.endswith("InPandas") or name.endswith("InArrow"):
            python += 1
    return exchanges, python


def optimize(df: DataFrame) -> None:
    """Force analysis, optimisation and physical planning of ``df``."""
    df._jdf.queryExecution().executedPlan()


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``, following the
    stores' version symlinks."""
    total = files = 0
    for root, _dirs, names in os.walk(path, followlinks=True):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


class Stub:
    """The stub server process (``stub.py``) and a client for it."""

    def __init__(self, data_dir: str, run_dir: str) -> None:
        port_file = os.path.join(run_dir, "stub.port")
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "stub.py"), data_dir, port_file],
            stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL,
        )
        deadline = time.monotonic() + 30
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                self.close()
                raise RuntimeError("stub server did not start")
            time.sleep(0.05)
        with open(port_file) as fh:
            self.url = f"http://127.0.0.1:{int(fh.read())}"

    def _call(self, path: str, data: bytes | None = None) -> bytes:
        with urllib.request.urlopen(self.url + path, data=data, timeout=30) as r:
            return r.read()

    def new_pass(self) -> None:
        self._call("/__pass", b"")

    def take_log(self) -> list[list]:
        return json.loads(self._call("/__log"))

    def transport(self, query: str) -> tuple[int, bytes]:
        """The ``transport=`` callable of ``sources.sparql.sparql``."""
        body = urllib.parse.urlencode({"query": query}).encode()
        req = urllib.request.Request(self.url + "/sparql", data=body, headers={"Accept": "text/csv"})
        try:
            with urllib.request.urlopen(req, timeout=60) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
