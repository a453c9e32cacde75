"""``ingest_stream``: the program's streaming ingest path at micro-batch size.

One unit is one call of ``plans.quality.ingest_pipeline_stream_q`` on the
generated corpus. The program stages the non-benchmark documents as 3
micro-batches and drives them through
``streaming.docs_stream.run_staged_foreach_batch`` into fresh state
stores; its sink composes ``decontamination_gate``,
``dedup_graph_maintenance`` and ``dsir_model_maintenance``
(``compact_every=2``). After the drain it reads the served views
``flagged_documents``, ``latest_labels`` and ``merged_dsir_model``, scores
the admitted documents with the streamed model and returns the three legs
materialised.

The benchmark calls only that function. For the length of a call it
replaces ``run_staged_foreach_batch`` in ``streaming.docs_stream`` (the
program imports it from there at call time) by a wrapper that notes when
the first timed batch reaches the sink and when the drain ends; with
``--trace 1`` it also wraps the sinks the three factories return in spans.

Batch 0 of every call is warm-up and untimed. A unit's
``wall_s`` runs from the trigger start of batch 1 (from the engine's
``StreamingQueryListener`` progress) to the checked result, its ``cpu_s``
from the sink call of batch 1 to the call's return. The check: the
flagged leg must equal a batch n-gram collision check, the component leg
a batch connected-components computation over the admitted corpus (both
computed by the generator in plain Python), and the DSIR leg must score
exactly the admitted documents outside the DSIR target source.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import threading
import time
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener

from common import Ctx, Unit, dir_stats, median
from spans import uncovered

import wikidatabots_spark.operators.dedup as dedup
import wikidatabots_spark.plans.quality as quality
import wikidatabots_spark.streaming.docs_stream as ds

FIRST_TIMED = 1  # batch 0 of every call is warm-up
STORES = ("flagged", "idx", "idx_tombstones", "lbl", "dsir")
SINK_FACTORIES = {
    "decontamination_gate": "streaming.gate",
    "dedup_graph_maintenance": "streaming.graph",
    "dsir_model_maintenance": "streaming.dsir",
}
class Progress(StreamingQueryListener):
    """Collects the progress of every micro-batch that read input."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        if p.numInputRows > 0:
            with self.lock:
                self.batches.append(
                    {"batch_id": p.batchId, "rows": p.numInputRows, "start": p.timestamp, **dict(p.durationMs)}
                )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def clear(self) -> None:
        with self.lock:
            self.batches = []

    def take(self, n: int, timeout_s: float = 30.0) -> list[dict]:
        """The next ``n`` batches' progress (events arrive asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.lock:
                if len(self.batches) >= n:
                    out, self.batches = self.batches[:n], self.batches[n:]
                    return out
            time.sleep(0.02)
        with self.lock:
            out, self.batches = self.batches, []
        return out


@contextmanager
def _replaced(module, attr: str, make):
    """``module.attr`` replaced by ``make(original)`` inside the block."""
    orig = getattr(module, attr)
    setattr(module, attr, make(orig))
    try:
        yield
    finally:
        setattr(module, attr, orig)


def _call(ctx: Ctx, marks: dict) -> DataFrame:
    """One call of the program's ingest pipeline, with the drain observed."""
    tracer = ctx.tracer

    def observed(run_staged):
        def run(batches, sink, root, *args, **kwargs):
            marks["root"], marks["batches"] = root, len(batches)

            def timed_sink(batch: DataFrame, batch_id: int) -> None:
                if batch_id < FIRST_TIMED:
                    return sink(batch, batch_id)
                if batch_id == FIRST_TIMED:
                    marks["cpu0"] = ctx.sampler.cpu_snapshot()
                if tracer is None:
                    return sink(batch, batch_id)
                with tracer.span("streaming.batch"):
                    return sink(batch, batch_id)

            try:
                return run_staged(batches, timed_sink, root, *args, **kwargs)
            finally:
                marks["drained"] = time.perf_counter()

        return run

    with ExitStack() as stack:
        stack.enter_context(_replaced(ds, "run_staged_foreach_batch", observed))
        if tracer is not None:
            for factory, name in SINK_FACTORIES.items():
                stack.enter_context(
                    _replaced(ds, factory, lambda make, name=name: _spanned_factory(tracer, name, make))
                )
        return quality.ingest_pipeline_stream_q(ctx.spark, ctx.inputs)


def run_unit(ctx: Ctx) -> Unit:
    progress: Progress = ctx.extra_state["progress"]
    progress.clear()
    marks: dict = {}
    result = _call(ctx, marks)
    returned = time.perf_counter()
    work_end = time.time()
    cpu_s = ctx.sampler.cpu_between(marks["cpu0"], ctx.sampler.cpu_snapshot()) if "cpu0" in marks else 0.0
    legs: dict[str, dict[int, int]] = {"flagged": {}, "component": {}, "dsir": {}}
    for r in result.collect():
        legs[r.leg][r.doc_id] = r.val
    n_batches = marks.get("batches", 0)
    batches = progress.take(n_batches)
    problems: list[str] = []
    if len(batches) != n_batches:
        problems.append(f"{len(batches)} of {n_batches} micro-batches reported progress")
    timed = sorted(batches, key=lambda b: b["batch_id"])[FIRST_TIMED:]
    timed_start = dt.datetime.fromisoformat(timed[0]["start"]).timestamp() if timed else work_end
    want_flags = {int(k): v for k, v in ctx.truth["flagged"].items()}
    want_labels = {int(k): v for k, v in ctx.truth["labels"].items()}
    if legs["flagged"] != want_flags:
        diff = set(legs["flagged"].items()) ^ set(want_flags.items())
        problems.append(f"flagged leg differs from the batch collision check on {len(diff)} rows")
    if legs["component"] != want_labels:
        diff = set(legs["component"].items()) ^ set(want_labels.items())
        problems.append(f"component leg differs from the batch components on {len(diff)} (node, component) rows")
    if set(legs["dsir"]) != set(ctx.truth["dsir_scored"]):
        diff = set(legs["dsir"]) ^ set(ctx.truth["dsir_scored"])
        problems.append(f"DSIR leg differs from the admitted non-target documents on {len(diff)} ids")
    print(
        "# batches (trigger s): "
        + " ".join(f"{b['batch_id']}:{b['triggerExecution'] / 1000:.2f}" for b in batches)
        + f", serve {returned - marks.get('drained', returned):.2f}s, check {time.time() - work_end:.2f}s",
        file=sys.stderr,
    )
    store_bytes = store_files = 0
    for s in STORES:
        b, f = dir_stats(os.path.join(marks.get("root", ""), s))
        store_bytes, store_files = store_bytes + b, store_files + f
    return Unit(
        wall_s=time.time() - timed_start,
        work_s=work_end - timed_start,
        docs=sum(b["rows"] for b in timed),
        attempted=n_batches,
        failed=n_batches - len(batches),
        problems=problems,
        cpu_s=cpu_s,
        extra={
            "batches": timed,
            "serve_s": returned - marks.get("drained", returned),
            "store_bytes": store_bytes,
            "store_files": store_files,
        },
    )


def _spanned_factory(tracer, name: str, factory):
    """``factory`` whose returned ``sink(batch, batch_id)`` records a span
    around the timed batches' calls."""

    def make(*args, **kwargs):
        sink = factory(*args, **kwargs)

        def call(batch: DataFrame, batch_id: int):
            if batch_id < FIRST_TIMED:
                return sink(batch, batch_id)
            with tracer.span(name):
                return sink(batch, batch_id)

        return call

    return make


def setup(ctx: Ctx) -> None:
    progress = Progress()
    ctx.spark.streams.addListener(progress)
    ctx.extra_state["progress"] = progress


def batch_figures(units: list[Unit]) -> dict[str, float]:
    """End-to-end batch figures over every timed micro-batch."""
    trig = [b["triggerExecution"] / 1000.0 for u in units for b in u.extra["batches"]]
    rows = sum(b["rows"] for u in units for b in u.extra["batches"])
    return {"batch_p50_s": median(trig), "docs_per_s": rows / sum(trig) if trig else 0.0}


def install_spans(ctx: Ctx) -> None:
    t = ctx.tracer
    t.patch(dedup, "minhash_band_table", "operators.dedup.signature", materialize=True)
    t.patch(dedup, "band_pairs", "operators.dedup.pairs", materialize=True)
    t.patch(dedup, "connected_components", "operators.dedup.cc", materialize=True)


def layer_metrics(ctx: Ctx, traced: list[Unit]) -> dict[str, float]:
    t = ctx.tracer
    n_batches = max(sum(len(u.extra["batches"]) for u in traced), 1)
    batches = [b for u in traced for b in u.extra["batches"]]
    compacting = [b["triggerExecution"] / 1000.0 for b in batches if b["batch_id"] % 2 == 1]
    plain = [b["triggerExecution"] / 1000.0 for b in batches if b["batch_id"] % 2 == 0]
    tot = t.totals(within="streaming.batch")

    def per_batch(name: str) -> float:
        return tot.get(name, {}).get("self_s", 0.0) / n_batches

    jobs = ctx.counters.job_intervals()
    driver_only = [
        uncovered(t.t0_epoch + sp["start"], t.t0_epoch + sp["end"], jobs)
        for sp in t.spans
        if sp["name"] == "streaming.batch"
    ]
    return {
        "plans.build_s": median(driver_only),
        "plans.optimize_s": sum(b.get("queryPlanning", 0) for b in batches) / 1000.0 / n_batches,
        "operators.dedup.signature_s": per_batch("operators.dedup.signature"),
        "operators.dedup.pairs_s": per_batch("operators.dedup.pairs"),
        "operators.dedup.cc_s": per_batch("operators.dedup.cc"),
        "operators.dedup.cc_jobs": t.counter_sum("operators.dedup.cc", "jobs", within="streaming.batch") / n_batches,
        "sinks.store.bytes": median([u.extra["store_bytes"] for u in traced]),
        "sinks.store.files": median([u.extra["store_files"] for u in traced]),
        "streaming.gate_s": median(t.durations("streaming.gate")),
        "streaming.graph_s": median(t.durations("streaming.graph")),
        "streaming.dsir_s": median(t.durations("streaming.dsir")),
        "streaming.batch_s.compacting": median(compacting),
        "streaming.batch_s.plain": median(plain),
        "streaming.engine_overhead_s": median(
            [(b["triggerExecution"] - b.get("addBatch", 0)) / 1000.0 for b in batches]
        ),
        "streaming.serve_read_s": median([u.extra["serve_s"] for u in traced]),
    }
