"""Repository benchmark: ``reconcile``, ``curate`` and ``ingest_stream``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from the
seed (cached under ``.perfbench/inputs``), starts a fresh Spark session,
and runs the workload as a closed loop — one client, each unit of work
starting when the previous one has completed and been checked — until
``--seconds`` have been measured. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics (see ``METRICS.md``).
``--trace 1`` runs untraced units, then the same units with spans around
the program's layer functions, and reports the per-layer metrics plus the
tracing overhead; the spans and self times are written to
``.perfbench/traces/<workload>-s<seed>.json``.

Exit status: 0 when every output checked out, 1 when an output was wrong
(the JSON still says so), 2 when the run could not start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 150.0  # start no unit after this: a run has 180 s to finish

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "batch_p50_s": "s",
    "docs_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.sparql.fetch_s": "s",
    "sources.sparql.rows": "count",
    "sources.http.requests": "count",
    "sources.http.retries": "count",
    "sources.http.client_gap_ms": "ms",
    "sources.tables.scan_s": "s",
    "sources.bytes_read": "bytes",
    "functions.where_unique_s": "s",
    "plans.build_s": "s",
    "plans.optimize_s": "s",
    "plans.exchanges": "count",
    "plans.python_eval_nodes": "count",
    "operators.dedup.signature_s": "s",
    "operators.dedup.pairs_s": "s",
    "operators.dedup.cc_s": "s",
    "operators.dedup.cc_jobs": "count",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pair_precision": "ratio",
    "operators.dedup.recall": "ratio",
    "operators.quality_s": "s",
    "sinks.rdf.emit_s": "s",
    "sinks.rdf.rows": "count",
    "sinks.shards.write_s": "s",
    "sinks.shards.verify_s": "s",
    "sinks.shards.bytes_per_input_byte": "ratio",
    "sinks.store.bytes": "bytes",
    "sinks.store.files": "count",
    "streaming.gate_s": "s",
    "streaming.graph_s": "s",
    "streaming.dsir_s": "s",
    "streaming.batch_s.compacting": "s",
    "streaming.batch_s.plain": "s",
    "streaming.engine_overhead_s": "s",
    "streaming.serve_read_s": "s",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "engine.shuffle_write_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "engine.gc_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _environment(run_dir: str) -> None:
    """Engine settings for a 4-vCPU, 15 GiB host, and every temporary
    file of the engine kept inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # two task threads on a 4-vCPU VM: when the host is contended they
    # leave the driver, the JVM's own threads and the Python workers room,
    # and the figures move far less than with one task thread per vCPU
    cpus = min(2, len(os.sched_getaffinity(0)))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "{java_opts}" pyspark-shell',
            "SPARK_LAUNCHER_OPTS": java_opts,  # the JVM that spark-submit runs first
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)


def _trivial_action(spark) -> None:
    spark.range(1000).selectExpr("sum(id)").collect()


def _setup():
    """A ready session plus a first trivial action, timed from the start
    of the fresh process's first line of Python (the caller subtracts
    input generation and the stub's start). Returns the session and the
    time of ``get_spark()`` + first action alone."""
    from wikidatabots_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark()
    _trivial_action(spark)
    return spark, time.perf_counter() - t


def _loop(ctx, wl, seconds: float, label: str, min_units: int = 1) -> list:
    """Closed loop: run at least ``min_units`` units, and more until
    ``seconds`` are measured (a unit starts only if the median unit still
    fits)."""
    from common import median

    units = []
    t0 = time.perf_counter()
    while True:
        c0, e0 = ctx.sampler.cpu_snapshot(), ctx.counters.read()
        u = wl.run_unit(ctx)
        c1, e1 = ctx.sampler.cpu_snapshot(), ctx.counters.read()
        if u.cpu_s is None:
            u.cpu_s = ctx.sampler.cpu_between(c0, c1)
        u.engine = {k: e1[k] - e0[k] for k in e1}
        units.append(u)
        print(f"# {label} unit {len(units)}: wall {u.wall_s:.3f}s cpu {u.cpu_s:.2f}s", file=sys.stderr)
        if u.problems:
            break
        elapsed = time.perf_counter() - t0
        if len(units) >= min_units and (
            elapsed + median([x.wall_s for x in units]) > seconds or time.perf_counter() - T_START > RUN_LIMIT_S
        ):
            break
    return units


def _end_to_end(name: str, wl, units: list, setup_s: float) -> dict[str, float]:
    from common import median

    if name == "reconcile":
        # cron pays the first pass cold on every run: wall_s and cpu_s are
        # that pass; the batch figures take every pass
        batch = median([u.work_s for u in units])
        m = {"wall_s": units[0].wall_s, "cpu_s": units[0].cpu_s, "batch_p50_s": batch,
             "docs_per_s": units[0].docs / batch}
    elif name == "curate":
        batch = median([u.extra["batch_s"] for u in units])
        m = {"wall_s": median([u.wall_s for u in units]), "cpu_s": median([u.cpu_s for u in units]),
             "batch_p50_s": batch, "docs_per_s": units[0].docs / median([u.work_s for u in units])}
    else:
        m = {"wall_s": median([u.wall_s for u in units]), "cpu_s": median([u.cpu_s for u in units]),
             **wl.batch_figures(units)}
    m["setup_s"] = setup_s
    return m


def _engine_layers(units: list) -> dict[str, float]:
    from common import median

    return {
        f"engine.{k}": median([u.engine[k] for u in units])
        for k in ("tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes", "gc_s", "executor_cpu_s")
    }


_PROBE = """
import time
def loop():
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t
print(loop())
"""


def _host_probe() -> str:
    """A fixed single-threaded Python loop, alone and then in one process
    per engine core at once, run after the engine has stopped: a reading
    of the host's speed, printed to stderr so that a shift in every figure
    can be told apart from a change in the program."""
    import subprocess

    def slowest(k: int) -> float:
        procs = [subprocess.Popen([sys.executable, "-c", _PROBE], stdout=subprocess.PIPE, text=True) for _ in range(k)]
        return max(float(p.communicate()[0]) for p in procs)

    n = int(os.environ["SPARK_GRAFT_CPUS"])
    return f"{slowest(1):.3f}s alone, slowest of {n} at once {slowest(n):.3f}s"


def _workload(name: str):
    import curate
    import ingest
    import reconcile

    return {"reconcile": reconcile, "curate": curate, "ingest_stream": ingest}[name]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["reconcile", "curate", "ingest_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "wikidatabots_spark", "session.py")):
        print(f"perfbench: the program (wikidatabots_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    _environment(run_dir)
    from proctree import drain_descendants

    try:
        return _run(args, run_dir)
    finally:
        drain_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"# host probe: {_host_probe()}", file=sys.stderr)


def _run(args, run_dir: str) -> int:
    import gen
    from common import Ctx, Stub, median
    from proctree import TreeSampler, become_subreaper
    from spans import EngineCounters, Tracer

    become_subreaper()
    t = time.perf_counter()
    inputs = gen.ensure_inputs(os.path.join(STATE, "inputs"), args.workload, args.seed)
    not_setup = time.perf_counter() - t  # input generation and the stub's start
    with open(os.path.join(inputs, "truth.json")) as fh:
        truth = json.load(fh)
    wl = _workload(args.workload)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    stub = spark = None
    with TreeSampler() as sampler:
        try:
            if args.workload == "reconcile":
                t = time.perf_counter()
                stub = Stub(inputs, run_dir)
                sampler.foreign.add(stub.proc.pid)
                not_setup += time.perf_counter() - t
            spark, session_s = _setup()
            setup_s = time.perf_counter() - T_START - not_setup
            spark.sparkContext.setLogLevel("ERROR")
            ctx = Ctx(spark=spark, inputs=inputs, truth=truth, work=work, sampler=sampler,
                      counters=EngineCounters(spark), stub=stub)
            if hasattr(wl, "setup"):
                wl.setup(ctx)
            print(f"# setup: {setup_s:.2f}s, of it get_spark() + first action {session_s:.2f}s", file=sys.stderr)
            if hasattr(wl, "warmup"):
                t = time.perf_counter()
                wl.warmup(ctx)
                print(f"# warm-up {time.perf_counter() - t:.2f}s", file=sys.stderr)
            if not args.trace:
                units = _loop(ctx, wl, args.seconds, "timed")
                metrics = _end_to_end(args.workload, wl, units, setup_s)
                names = END_TO_END
                checked = units
            else:
                # without a warm-up the first unit is cold: compare the
                # traced units with the untraced ones after it
                cold_first = not hasattr(wl, "warmup")
                sampler.reset_peak()
                plain = _loop(ctx, wl, args.seconds / 2, "untraced", 2 if cold_first else 1)
                peak_rss = sampler.peak_rss
                ctx.tracer = Tracer(ctx.counters)
                wl.install_spans(ctx)
                traced = _loop(ctx, wl, args.seconds / 2, "traced")
                ctx.tracer.unpatch()
                base = plain[1:] if cold_first else plain
                metrics = dict.fromkeys(PER_LAYER, 0.0)
                metrics.update(wl.layer_metrics(ctx, traced))
                metrics.update(_engine_layers(base))
                metrics["session.start_s"] = session_s
                metrics["engine.peak_rss_mb"] = peak_rss / 2**20
                metrics["trace.overhead_s"] = median([u.wall_s for u in traced]) - median([u.wall_s for u in base])
                os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
                ctx.tracer.dump(
                    os.path.join(STATE, "traces", f"{args.workload}-s{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed, "metrics": metrics},
                )
                names = PER_LAYER
                checked = plain + traced
        except Exception:
            traceback.print_exc()
            print("perfbench: the run failed before producing a result", file=sys.stderr)
            return 2
        finally:
            if spark is not None:
                spark.stop()
                _stop_jvm()
            if stub is not None:
                stub.close()
    problems = [p for u in checked for p in u.problems]
    for p in problems:
        print(f"perfbench: output mismatch: {p}", file=sys.stderr)
    result = {
        "correct": not problems,
        "attempted": int(sum(u.attempted + u.engine["tasks"] for u in checked)),
        "failed": int(sum(u.failed + u.engine["failed_tasks"] for u in checked)),
        "metrics": {k: {"value": float(metrics[k]), "unit": names[k]} for k in names},
    }
    print(json.dumps(result))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
