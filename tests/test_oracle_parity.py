"""DuckDB-oracle parity for a fast subset (full sweep:
``python scripts/check_oracle.py``). Mirrors the driver's comparison:
row count + sorted column names + order-insensitive value multiset."""

from __future__ import annotations

import math

import duckdb
import pytest

from wikidatabots_spark import plans
from wikidatabots_spark.sources.tables import TABLES

FAST = [
    "op_prefix_columns",
    "op_unique_keep_none",
    "op_regexp_extract_null",
    "op_pl_format",
    "op_topk",
    "op_dates",
    "q1_pricing_summary",
    "q6_revenue_forecast",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    "ev_hourly_rollup",
    "text_fingerprint",
    "tmdb_via_imdb",
    "opencritic_add",
    "curate_corpus_v8",
]


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", FAST)
def test_parity(spark, sf_dir, duck, name):
    entry = plans.REGISTRY[name]
    assert entry.oracle is not None
    sdf = entry.fn(spark, sf_dir)
    scols = sorted(sdf.columns)
    sset = sorted(tuple(_canon(r[c]) for c in scols) for r in sdf.collect())
    tbl = duck.execute(entry.oracle).fetch_arrow_table()
    dcols = sorted(tbl.column_names)
    dset = sorted(tuple(_canon(r[c]) for c in dcols) for r in tbl.to_pylist())
    assert scols == dcols
    assert sset == dset
