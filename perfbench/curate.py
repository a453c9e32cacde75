"""``curate``: the batch LLM-data path.

One unit is one pass of ``curate_corpus_v8`` over the generated corpus
(exact dedup, winnowing near-duplicate pairs, connected components, the
quality/language/repetition/classifier gates, SemDeDup, the DSIR gate, LM
polish, temperature mixture, split), then the survivors' export through
``sinks.training_shards.write_training_shards`` and the trainer-side
``verify_training_shards``. The output must pass the shard verification,
keep no planted duplicate except its cluster's lowest id (planted-
duplicate recall of 1) and keep no planted quality-fail document.
"""

from __future__ import annotations

import os
import shutil
import time

from common import Ctx, Unit, dir_stats, median, optimize, plan_nodes

import wikidatabots_spark.operators.dedup as dedup
import wikidatabots_spark.operators.textstats as textstats
import wikidatabots_spark.plans.quality as quality
import wikidatabots_spark.sinks.training_shards as shards
import wikidatabots_spark.sources.tables as tables

N_SHARDS = 8


def _pass(ctx: Ctx, data_dir: str, check: bool) -> Unit:
    spark, tracer = ctx.spark, ctx.tracer
    out_dir = os.path.join(ctx.work, "shards")
    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    if tracer is not None:
        with tracer.span("plans.build"):
            out = quality.curate_corpus_v8_q(spark, data_dir)
        with tracer.span("plans.optimize"):
            optimize(out)
    else:
        out = quality.curate_corpus_v8_q(spark, data_dir)
    rows = out.collect()
    t_batch = time.perf_counter() - t0
    kept = sorted({r.doc_id for r in rows})
    ids = spark.createDataFrame([(i,) for i in kept], "doc_id long")
    docs = tables.load_table(spark, data_dir, "documents").join(ids, "doc_id", "left_semi")
    manifest = shards.write_training_shards(
        docs.select("doc_id", "text", "n_chars"), out_dir, n_shards=N_SHARDS
    )
    verified = shards.verify_training_shards(spark, out_dir)
    work = time.perf_counter() - t0
    problems: list[str] = []
    if check:
        truth = ctx.truth
        keep = set(kept)
        if not verified:
            problems.append("verify_training_shards rejected the export")
        if sum(s["n_rows"] for s in manifest["shards"]) != len(kept):
            problems.append("shard manifest row count differs from the survivors")
        if not kept or max(kept) >= truth["n_docs"]:
            problems.append("survivor ids out of range or no survivors")
        bad = keep & set(truth["fail_ids"])
        if bad:
            problems.append(f"{len(bad)} planted quality-fail documents survived")
        missed = sum(len(keep & set(c[1:])) for c in truth["clusters"])
        if missed:
            problems.append(f"planted-duplicate recall < 1: {missed} non-canonical duplicates survived")
    wall = time.perf_counter() - t0
    extra = {"batch_s": t_batch, "survivors": len(kept)}
    if tracer is not None:
        extra["plan_exchanges"], extra["plan_python"] = plan_nodes(out)
        extra["shard_bytes"] = dir_stats(out_dir)[0]
    return Unit(
        wall_s=wall,
        work_s=work,
        docs=ctx.truth["n_docs"] if check else 0,
        attempted=0,
        failed=0,
        problems=problems,
        extra=extra,
    )


def warmup(ctx: Ctx) -> None:
    _pass(ctx, os.path.join(ctx.inputs, "warmup"), check=False)


def run_unit(ctx: Ctx) -> Unit:
    return _pass(ctx, ctx.inputs, check=True)


def install_spans(ctx: Ctx) -> None:
    t = ctx.tracer
    t.patch(dedup, "winnow_fingerprints", "operators.dedup.signature", materialize=True)
    t.patch(dedup, "winnow_pairs", "operators.dedup.pairs", materialize=True)
    t.patch(dedup, "connected_components", "operators.dedup.cc", materialize=True)
    t.patch(textstats, "gate_feature_counts", "operators.quality", materialize=True)
    t.patch(shards, "write_training_shards", "sinks.shards.write")
    t.patch(shards, "verify_training_shards", "sinks.shards.verify")


def scan_seconds(ctx: Ctx) -> float:
    """Full scans of the corpus tables through ``sources.tables``."""
    t0 = time.perf_counter()
    for name in ("documents", "embeddings"):
        tables.load_table(ctx.spark, ctx.inputs, name).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def dedup_quality(ctx: Ctx) -> dict[str, float]:
    """Candidate pairs of the last traced pass, the share of them that are
    planted pairs, and the planted-pair recall of the components."""
    t = ctx.tracer
    pairs = {(min(a, b), max(a, b)) for a, b in t.last["operators.dedup.pairs"].select("id_a", "id_b").collect()}
    comp = dict(t.last["operators.dedup.cc"].select("node", "component").collect())
    planted_pairs = set()
    linked = total = 0
    for c in ctx.truth["clusters"]:
        cs = sorted(c)
        planted_pairs |= {(a, b) for i, a in enumerate(cs) for b in cs[i + 1 :]}
        for m in cs[1:]:
            total += 1
            linked += comp.get(m) is not None and comp.get(m) == comp.get(cs[0])
    return {
        "operators.dedup.candidate_pairs": float(len(pairs)),
        "operators.dedup.pair_precision": len(pairs & planted_pairs) / max(len(pairs), 1),
        "operators.dedup.recall": linked / max(total, 1),
    }


def layer_metrics(ctx: Ctx, traced: list[Unit]) -> dict[str, float]:
    t = ctx.tracer
    tot = t.totals()
    n = max(len(traced), 1)

    def self_s(name: str) -> float:
        return tot.get(name, {}).get("self_s", 0.0) / n

    doc_bytes = os.path.getsize(os.path.join(ctx.inputs, "documents.parquet"))
    return {
        "sources.tables.scan_s": scan_seconds(ctx),
        "sources.bytes_read": median([u.engine["input_bytes"] for u in traced]),
        "plans.build_s": self_s("plans.build"),
        "plans.optimize_s": self_s("plans.optimize"),
        "plans.exchanges": median([u.extra["plan_exchanges"] for u in traced]),
        "plans.python_eval_nodes": median([u.extra["plan_python"] for u in traced]),
        "operators.dedup.signature_s": self_s("operators.dedup.signature"),
        "operators.dedup.pairs_s": self_s("operators.dedup.pairs"),
        "operators.dedup.cc_s": self_s("operators.dedup.cc"),
        "operators.dedup.cc_jobs": t.counter_sum("operators.dedup.cc", "jobs") / n,
        **dedup_quality(ctx),
        "operators.quality_s": self_s("operators.quality"),
        "sinks.shards.write_s": self_s("sinks.shards.write"),
        "sinks.shards.verify_s": self_s("sinks.shards.verify"),
        "sinks.shards.bytes_per_input_byte": median([u.extra["shard_bytes"] for u in traced]) / doc_bytes,
    }
