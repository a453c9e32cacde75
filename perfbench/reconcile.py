"""``reconcile``: the reference's cron mains on generated inputs.

One unit is one pass of the five reconciliation pipelines: four SPARQL
result sets fetched from the stub through ``sources.sparql.sparql``,
joined to the catalog parquet by ``plans.tmdb`` and ``plans.opencritic``,
the deprecation candidates checked over HTTP with
``sources.tmdb_api.tmdb_exists``, and every pipeline's statements printed
by ``sinks.rdf.print_rdf_statements`` to a null file, as cron runs them.
The check runs after that: each pipeline's full statement multiset,
collected in a second execution, must equal the generator's ground truth,
and the sink must have printed exactly min(limit, n) statements of it.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from common import Ctx, Unit, median, optimize, plan_nodes
from gen import ENTITY, PRINT_LIMIT

import wikidatabots_spark.functions.core as core
import wikidatabots_spark.plans.opencritic as opencritic
import wikidatabots_spark.plans.tmdb as tmdb
import wikidatabots_spark.sinks.rdf as rdf
import wikidatabots_spark.sources.sparql as sparql
import wikidatabots_spark.sources.tables as tables
import wikidatabots_spark.sources.tmdb_api as tmdb_api

QUERIES = {
    "imdb": "#perfbench:imdb\nSELECT ?item ?imdb_id ?tmdb_id WHERE { ?item wdt:P345 ?imdb_id . OPTIONAL { ?item wdt:P4947 ?tmdb_id } }",
    "tvdb": "#perfbench:tvdb\nSELECT ?item ?tvdb_id ?tmdb_id WHERE { ?item wdt:P4835 ?tvdb_id . OPTIONAL { ?item wdt:P4983 ?tmdb_id } }",
    "statements": "#perfbench:statements\nSELECT ?statement ?id WHERE { ?item p:P4947 ?statement . ?statement ps:P4947 ?id . MINUS { ?statement wikibase:rank wikibase:DeprecatedRank } }",
    "opencritic": "#perfbench:opencritic\nSELECT ?item ?opencritic_id ?statement ?review_score ?point_in_time ?number_of_reviews WHERE { ?item wdt:P2864 ?opencritic_id . }",
}

_S = StringType()
_L = LongType()
SCHEMAS = {
    "imdb": StructType([StructField("item", _S), StructField("imdb_id", _S), StructField("tmdb_id", _L)]),
    "tvdb": StructType([StructField("item", _S), StructField("tvdb_id", _L), StructField("tmdb_id", _L)]),
    "statements": StructType([StructField("statement", _S), StructField("id", _L)]),
    "opencritic": StructType(
        [
            StructField("item", _S),
            StructField("opencritic_id", _L),
            StructField("statement", _S),
            StructField("review_score", _S),
            StructField("point_in_time", _S),
            StructField("number_of_reviews", DoubleType()),
        ]
    ),
}


class NullSink:
    """A file that discards what is written but keeps the printed lines."""

    def __init__(self) -> None:
        self.lines: list[str] = []
        self._buf = ""

    def write(self, s: str) -> int:
        self._buf += s
        *done, self._buf = self._buf.split("\n")
        self.lines.extend(done)
        return len(s)

    def flush(self) -> None:
        pass


def _pipelines(ctx: Ctx) -> dict:
    """Build the five statement frames of one pass (SPARQL fetches happen
    here, on the driver, as in the reference)."""
    spark = ctx.spark
    fetch = {
        name: sparql.sparql(spark, QUERIES[name], schema=SCHEMAS[name], transport=ctx.stub.transport)
        for name in QUERIES
    }
    qid = F.regexp_replace(F.col("item"), "^" + ENTITY, "")
    blocked = ctx.truth["blocked_qids"]
    movie = tables.scan_parquet_url(spark, os.path.join(ctx.inputs, "tmdb-movie.parquet"))
    tv = tables.scan_parquet_url(spark, os.path.join(ctx.inputs, "tmdb-tv.parquet"))
    api = tables.scan_parquet_url(spark, os.path.join(ctx.inputs, "opencritic.parquet"))

    imdb = fetch["imdb"].select(qid.alias("item"), F.col("imdb_id").alias("ext_id"), F.col("tmdb_id").alias("cur_id"))
    tvdb = fetch["tvdb"].select(qid.alias("item"), F.col("tvdb_id").alias("ext_id"), F.col("tmdb_id").alias("cur_id"))
    stmts = fetch["statements"]
    candidates = (
        stmts.select("id").distinct().join(movie.where(F.col("success")).select("id"), "id", "left_anti")
    )
    checked = tmdb_api.tmdb_exists(
        candidates, "id", "movie", base_url=ctx.stub.url + "/3", out_col="alt_success"
    )
    status = movie.select("id", "success").join(checked, "id", "full")
    return {
        "tmdb_via_imdb": tmdb.find_ids_via_external_key(
            imdb, movie.select("id", F.col("imdb_numeric_id").alias("ext_numeric_id")), blocked, "P4947", r"tt(\d+)"
        ),
        "tmdb_via_tvdb": tmdb.find_ids_via_external_key(
            tvdb, tv.select("id", F.col("tvdb_id").alias("ext_numeric_id")), blocked, "P4983", None
        ),
        "tmdb_deprecated": tmdb.deprecated_ids(stmts, status),
        "opencritic_add": opencritic.opencritic_add(fetch["opencritic"], api),
        "opencritic_update": opencritic.opencritic_update(fetch["opencritic"], api),
    }


def http_figures(log: list[list]) -> dict:
    """Requests, retries, requests still failing after their retries, and
    the median client-side gap between consecutive TMDB requests."""
    tmdb_log = sorted((e for e in log if e[0] == "tmdb"), key=lambda e: e[3])
    retries = sum(1 for e in log if e[2] >= 500)
    final: dict[str, int] = {}
    for e in sorted(log, key=lambda e: e[3]):
        final[e[1]] = e[2]
    failed = sum(1 for s in final.values() if s >= 500)
    gaps = [
        b[3] - a[4]
        for a, b in zip(tmdb_log, tmdb_log[1:])
        if a[2] < 500 and b[3] - a[4] < 0.5  # not a retry back-off or a new execution
    ]
    return {
        "requests": len(log),
        "tmdb_requests": len(tmdb_log),
        "retries": retries,
        "failed": failed,
        "client_gap_ms": median(gaps) * 1000.0,
    }


def run_unit(ctx: Ctx) -> Unit:
    """One pass, as cron runs it: fetch, plan, print every pipeline's
    statements. Then the check: collect each pipeline's full statement
    multiset (a second execution, its requests not counted) and compare it
    and the printed lines with the ground truth."""
    tracer = ctx.tracer
    ctx.stub.new_pass()
    t0 = time.perf_counter()
    frames = _pipelines(ctx)
    printed: dict[str, tuple[int, NullSink]] = {}
    for name, df in frames.items():
        if tracer is not None:
            with tracer.span("plans.optimize"):
                optimize(df)
        sink = NullSink()
        printed[name] = (rdf.print_rdf_statements(df, limit=PRINT_LIMIT, file=sink), sink)
    work_s = time.perf_counter() - t0
    http = http_figures(ctx.stub.take_log())  # the sink path's requests only
    problems: list[str] = []
    plan_ex = plan_py = 0
    for name, df in frames.items():
        rows = [r.rdf_statement for r in df.collect()]
        if tracer is not None:
            ex, py = plan_nodes(df)
            plan_ex, plan_py = plan_ex + ex, plan_py + py
        want = Counter(ctx.truth["expected"][name])
        got = Counter(rows)
        if got != want:
            problems.append(
                f"{name}: {sum((got - want).values())} unexpected and {sum((want - got).values())} missing statements"
            )
        n, sink = printed[name]
        unexpected = sum(1 for line in sink.lines if line not in want)
        if n != min(PRINT_LIMIT, len(rows)) or len(sink.lines) != n or unexpected:
            problems.append(
                f"{name}: sink printed {len(sink.lines)} lines ({unexpected} unexpected), want {min(PRINT_LIMIT, len(rows))}"
            )
    wall = time.perf_counter() - t0
    ctx.stub.take_log()  # drop the check's own requests
    return Unit(
        wall_s=wall,
        work_s=work_s,
        docs=ctx.truth["n_sparql_rows"],
        attempted=http["requests"],
        failed=http["failed"],
        problems=problems,
        extra={
            "http": http,
            "printed": sum(n for n, _ in printed.values()),
            "plan_exchanges": plan_ex,
            "plan_python": plan_py,
        },
    )


def install_spans(ctx: Ctx) -> None:
    t = ctx.tracer
    t.patch(sparql, "sparql", "sources.sparql.fetch")
    t.patch(tables, "scan_parquet_url", "sources.tables.scan", materialize=True)
    t.patch(core, "where_unique", "functions.where_unique", materialize=True)
    t.patch(tmdb_api, "tmdb_exists", "sources.http.tmdb_exists")
    for mod, attr in (
        (tmdb, "find_ids_via_external_key"),
        (tmdb, "deprecated_ids"),
        (opencritic, "opencritic_add"),
        (opencritic, "opencritic_update"),
    ):
        t.patch(mod, attr, "plans.build")
    t.patch(rdf, "print_rdf_statements", "sinks.rdf.emit")


def layer_metrics(ctx: Ctx, traced: list[Unit]) -> dict[str, float]:
    """Per-layer figures of the traced passes (medians per pass)."""
    tot = ctx.tracer.totals()
    n = max(len(traced), 1)

    def self_s(name: str) -> float:
        return tot.get(name, {}).get("self_s", 0.0) / n

    return {
        "sources.sparql.fetch_s": self_s("sources.sparql.fetch"),
        "sources.sparql.rows": float(ctx.truth["n_sparql_rows"]),
        "sources.http.requests": median([u.extra["http"]["tmdb_requests"] for u in traced]),
        "sources.http.retries": median([u.extra["http"]["retries"] for u in traced]),
        "sources.http.client_gap_ms": median([u.extra["http"]["client_gap_ms"] for u in traced]),
        "sources.tables.scan_s": self_s("sources.tables.scan"),
        "sources.bytes_read": median([u.engine["input_bytes"] for u in traced]),
        "functions.where_unique_s": self_s("functions.where_unique"),
        "plans.build_s": self_s("plans.build"),
        "plans.optimize_s": self_s("plans.optimize"),
        "plans.exchanges": median([u.extra["plan_exchanges"] for u in traced]),
        "plans.python_eval_nodes": median([u.extra["plan_python"] for u in traced]),
        "sinks.rdf.emit_s": self_s("sinks.rdf.emit"),
        "sinks.rdf.rows": median([u.extra["printed"] for u in traced]),
    }
