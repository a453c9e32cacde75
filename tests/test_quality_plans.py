"""Tests for plans.quality (round-4c pipeline-operations queries).

Planted-defect tests write tiny parquet table dirs to tmp_path and run
the registered query functions against them end-to-end — the same
load_table path the driver exercises, with fixtures the oracle sweep
cannot construct (the synthetic testdata is clean, so e.g. dq
violations are only reachable by planting them).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from wikidatabots_spark.plans.quality import (
    dq_expectations_q,
    ev_gapfill_hourly_q,
    knn_filtered_topk_q,
    op_union_by_name_q,
    text_pmi_bigrams_q,
)


def _write(spark, tmp_path, name, rows):
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / f"{name}.parquet")
    )


def test_gapfill_marks_planted_gap(spark, tmp_path):
    h = lambda k: dt.datetime(2024, 5, 1, k, 15, 0)  # noqa: E731
    rows = [
        Row(event_id=i, ts=t, user_id=1, event_type="view", value=1.0, props="{}")
        for i, t in enumerate([h(0), h(0), h(1), h(3)])  # hour 2 missing
    ]
    _write(spark, tmp_path, "events", rows)
    out = ev_gapfill_hourly_q(spark, str(tmp_path)).collect()
    assert len(out) == 4  # hours 0..3 densified
    by_hour = {r.hour_start.hour: r for r in out}
    assert by_hour[2].n_events == 0 and by_hour[2].was_gap
    assert by_hour[0].n_events == 2 and not by_hour[0].was_gap
    assert by_hour[3].n_events == 1 and not by_hour[3].was_gap


def test_gapfill_spans_are_per_type(spark, tmp_path):
    h = lambda k: dt.datetime(2024, 5, 1, k, 0, 0)  # noqa: E731
    rows = [
        Row(event_id=1, ts=h(0), user_id=1, event_type="a", value=0.0, props=""),
        Row(event_id=2, ts=h(5), user_id=1, event_type="a", value=0.0, props=""),
        Row(event_id=3, ts=h(10), user_id=1, event_type="b", value=0.0, props=""),
    ]
    _write(spark, tmp_path, "events", rows)
    out = ev_gapfill_hourly_q(spark, str(tmp_path))
    counts = {r.event_type: r.n for r in out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # type a spans hours 0..5 (6 rows); type b's span is the single hour 10,
    # NOT the global min..max — spans are per type
    assert counts == {"a": 6, "b": 1}


def test_dq_planted_violations(spark, tmp_path):
    _write(spark, tmp_path, "orders", [
        Row(o_orderkey=1, o_custkey=10, o_totalprice=5.0,
            o_orderdate=dt.date(2024, 1, 1)),
        Row(o_orderkey=2, o_custkey=99, o_totalprice=-1.0,  # orphan + nonpos
            o_orderdate=None),                              # + null date
    ])
    _write(spark, tmp_path, "lineitem", [
        Row(l_orderkey=1, l_quantity=5.0, l_discount=0.05,
            l_extendedprice=10.0),
        Row(l_orderkey=7, l_quantity=99.0, l_discount=0.5,  # orphan + both oor
            l_extendedprice=0.0),                           # + nonpos price
    ])
    _write(spark, tmp_path, "customer", [
        Row(c_custkey=10, c_acctbal=100.0),
        Row(c_custkey=10, c_acctbal=50000.0),  # dup pk + balance oor
    ])
    _write(spark, tmp_path, "part", [
        Row(p_partkey=1, p_size=0, p_retailprice=0.0),  # size oor + nonpos
    ])
    out = {r.check_name: r for r in dq_expectations_q(spark, str(tmp_path)).collect()}
    assert len(out) == 11
    assert out["lineitem_orderkey_in_orders"].n_violations == 1
    assert out["lineitem_quantity_1_50"].n_violations == 1
    assert out["lineitem_discount_0_01"].n_violations == 1
    assert out["lineitem_extendedprice_positive"].n_violations == 1
    assert out["orders_custkey_in_customer"].n_violations == 1
    assert out["orders_totalprice_positive"].n_violations == 1
    assert out["orders_orderdate_not_null"].n_violations == 1
    assert out["customer_custkey_unique"].n_violations == 1
    assert out["customer_acctbal_range"].n_violations == 1
    assert out["part_size_1_50"].n_violations == 1
    assert out["part_retailprice_positive"].n_violations == 1
    assert out["lineitem_orderkey_in_orders"].n_checked == 2
    assert out["part_size_1_50"].n_checked == 1


def test_dq_clean_on_real_testdata(spark, sf_dir):
    out = dq_expectations_q(spark, sf_dir).collect()
    assert len(out) == 11
    assert all(r.n_violations == 0 for r in out), [
        (r.check_name, r.n_violations) for r in out if r.n_violations
    ]


def test_union_by_name_nulls_missing_columns(spark, sf_dir):
    out = op_union_by_name_q(spark, sf_dir)
    assert set(out.columns) == {"key", "name", "src", "region_code"}
    rows = out.collect()
    nation_rows = [r for r in rows if r.src == "nation"]
    region_rows = [r for r in rows if r.src is None]
    assert len(nation_rows) == 25 and len(region_rows) == 5
    assert all(r.region_code is None for r in nation_rows)
    assert all(r.region_code == r.key * 10 for r in region_rows)


def test_pmi_surfaces_planted_collocation(spark, tmp_path):
    # "zig zag" always adjacent; every filler word has >=2 distinct
    # successors AND predecessors across the docs, so no filler bigram is
    # a perfect association (PMI's low-count bias would rank a rare
    # perfect pair above a frequent one — by hand: zig-zag lift 5.67e6,
    # best filler 2.83e6). Each pattern repeated 3x to clear PMI_MIN_COUNT.
    docs = (
        ["zig zag a b c a", "b a c zig zag b c", "c b zig zag c a b"] * 3
    )
    _write(spark, tmp_path, "documents", [
        Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
        for i, t in enumerate(docs)
    ])
    out = text_pmi_bigrams_q(spark, str(tmp_path)).collect()
    top = min(out, key=lambda r: r.rank)
    assert (top.w1, top.w2) == ("zig", "zag")
    assert top.n_cooccur == 9
    ranks = sorted(r.rank for r in out)
    assert ranks == list(range(1, len(out) + 1))


def test_knn_filtered_respects_label(spark, sf_dir):
    from wikidatabots_spark.sources.tables import load_table

    out = knn_filtered_topk_q(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("label").alias("true_label")
    )
    joined = out.join(emb, out["query_id"] == emb["vec_id"]).collect()
    assert len(joined) > 0
    # every neighbor's label equals its query's label, and self is excluded
    assert all(r.label == r.true_label for r in joined)
    assert all(r.query_id != r.neighbor_id for r in joined)
    per_q = {}
    for r in joined:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_rolling_1h_frame_is_inclusive_trailing(spark, tmp_path):
    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    mins = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    rows = [
        Row(event_id=1, ts=mins(0), user_id=7, event_type="x", value=1.0,
            props=""),
        Row(event_id=2, ts=mins(30), user_id=7, event_type="x", value=2.0,
            props=""),
        Row(event_id=3, ts=mins(60), user_id=7, event_type="x", value=4.0,
            props=""),   # exactly 1h after e1: frame is inclusive -> all 3
        Row(event_id=4, ts=mins(95), user_id=7, event_type="x", value=8.0,
            props=""),   # frame [35, 95] -> e3, e4 only
        Row(event_id=5, ts=mins(0), user_id=8, event_type="x", value=16.0,
            props=""),   # other user: frames never mix
    ]
    from wikidatabots_spark.plans.quality import ev_rolling_1h_q

    _write(spark, tmp_path, "events", rows)
    out = {r.event_id: r for r in ev_rolling_1h_q(spark, str(tmp_path)).collect()}
    assert (out[1].n_1h, out[1].sum_1h) == (1, 1.0)
    assert (out[2].n_1h, out[2].sum_1h) == (2, 3.0)
    assert (out[3].n_1h, out[3].sum_1h) == (3, 7.0)
    assert (out[4].n_1h, out[4].sum_1h) == (2, 12.0)
    assert (out[5].n_1h, out[5].sum_1h) == (1, 16.0)


def test_grouping_sets_levels(spark, sf_dir):
    from wikidatabots_spark.plans.quality import agg_grouping_sets_q

    rows = agg_grouping_sets_q(spark, sf_dir).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    assert set(by_gid) == {1, 2, 3}
    # gid=1: grouped by returnflag only (linestatus aggregated away)
    assert all(r.l_linestatus is None and r.l_returnflag is not None
               for r in by_gid[1])
    assert all(r.l_returnflag is None and r.l_linestatus is not None
               for r in by_gid[2])
    [total] = by_gid[3]
    assert total.l_returnflag is None and total.l_linestatus is None
    assert sum(r.n_items for r in by_gid[1]) == total.n_items
    assert sum(r.n_items for r in by_gid[2]) == total.n_items


def test_split_assign_deterministic_and_sized(spark, sf_dir):
    from wikidatabots_spark.plans.quality import corpus_split_assign_q

    a = corpus_split_assign_q(spark, sf_dir).collect()
    b = corpus_split_assign_q(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # re-run stable
    counts = {}
    for r in a:
        counts[r.split] = counts.get(r.split, 0) + 1
    n = sum(counts.values())
    assert set(counts) == {"train", "val", "test"}
    # 80/10/10 within binomial slack on 500 docs
    assert 0.7 * n < counts["train"] < 0.9 * n
    assert counts["val"] < 0.2 * n and counts["test"] < 0.2 * n


def test_emb_standardize_moments(spark, sf_dir):
    from wikidatabots_spark.plans.quality import emb_standardize_q

    out = emb_standardize_q(spark, sf_dir)
    agg = out.select(
        F.avg(F.element_at("z", 1)).alias("m1"),
        F.avg(F.element_at("z", 64)).alias("m64"),
        F.stddev_pop(F.element_at("z", 1)).alias("s1"),
        F.stddev_pop(F.element_at("z", 64)).alias("s64"),
    ).collect()[0]
    assert abs(agg.m1) < 1e-9 and abs(agg.m64) < 1e-9
    assert abs(agg.s1 - 1.0) < 1e-9 and abs(agg.s64 - 1.0) < 1e-9


def test_robust_stats_resist_outlier(spark, tmp_path):
    from wikidatabots_spark.plans.quality import agg_robust_stats_q

    t0 = dt.datetime(2024, 5, 1)
    rows = [
        Row(event_id=i, ts=t0, user_id=1, event_type="x", value=v, props="")
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0])
    ]
    _write(spark, tmp_path, "events", rows)
    [r] = agg_robust_stats_q(spark, str(tmp_path)).collect()
    # median ignores the outlier; MAD = lower-median of |x-3| = 1
    assert (r.n, r.median_value, r.mad_value) == (5, 3.0, 1.0)


def test_mode_tie_prefers_lowest_value(spark, tmp_path):
    from wikidatabots_spark.plans.quality import agg_mode_q

    _write(spark, tmp_path, "orders", [
        Row(o_orderkey=1, o_custkey=1, o_totalprice=1.0,
            o_orderdate=dt.date(2024, 1, 1), o_orderstatus="O",
            o_orderpriority="2-HIGH"),
        Row(o_orderkey=2, o_custkey=1, o_totalprice=1.0,
            o_orderdate=dt.date(2024, 1, 1), o_orderstatus="O",
            o_orderpriority="1-URGENT"),  # tie 1 vs 1 -> lowest value wins
    ])
    [r] = agg_mode_q(spark, str(tmp_path)).collect()
    assert (r.mode_priority, r.n_occurrences) == ("1-URGENT", 1)


def test_argminmax_tie_prefers_lowest_key(spark, tmp_path):
    from wikidatabots_spark.plans.quality import agg_argminmax_q

    _write(spark, tmp_path, "customer", [
        Row(c_custkey=5, c_acctbal=10.0, c_mktsegment="X"),
        Row(c_custkey=3, c_acctbal=10.0, c_mktsegment="X"),  # min tie
        Row(c_custkey=9, c_acctbal=99.0, c_mktsegment="X"),
        Row(c_custkey=7, c_acctbal=99.0, c_mktsegment="X"),  # max tie
    ])
    [r] = agg_argminmax_q(spark, str(tmp_path)).collect()
    assert r.poorest_custkey == 3 and r.min_acctbal == 10.0
    assert r.richest_custkey == 7 and r.max_acctbal == 99.0


def test_win_first_last_full_frame(spark, sf_dir):
    from wikidatabots_spark.plans.quality import win_first_last_q

    rows = win_first_last_q(spark, sf_dir).collect()
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.s_nationkey, []).append(r)
    for members in by_nation.values():
        ordered = sorted(members, key=lambda r: (r.s_acctbal, r.s_suppkey))
        first, last = ordered[0].s_suppkey, ordered[-1].s_suppkey
        # every row in the partition sees the same first/last (full frame,
        # NOT the default unbounded-preceding..current frame)
        assert all(r.poorest_in_nation == first for r in members)
        assert all(r.richest_in_nation == last for r in members)
        second = ordered[1].s_suppkey if len(ordered) > 1 else None
        assert all(r.second_poorest == second for r in members)


def test_sample_per_source_bounded_and_stable(spark, sf_dir):
    from wikidatabots_spark.plans.quality import (
        SAMPLE_PER_SOURCE_K,
        sample_per_source_q,
    )

    a = sample_per_source_q(spark, sf_dir).collect()
    b = sample_per_source_q(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_src = {}
    for r in a:
        per_src.setdefault(r.source, []).append(r.sample_rank)
    assert all(len(v) <= SAMPLE_PER_SOURCE_K for v in per_src.values())
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_src.values())


def test_degree_stats_planted_hub(spark, tmp_path):
    from wikidatabots_spark.plans.quality import graph_degree_stats_q

    # three near-identical docs (pairwise near-dups -> triangle, degree 2
    # each) plus enough unrelated docs that the relative max_df cut
    # (ceil(0.2*n_docs)) does not fence the triangle's own shared
    # fingerprints (with n=18, fps shared by <=4 docs survive)
    tri = ("alpha beta gamma delta epsilon zeta eta theta psi omega "
           "lambda sigma rho tau phi chi upsilon xi omicron nu")
    docs = [tri, tri + " iota", tri + " kappa"] + [
        " ".join(f"w{i}{c}" for c in "abcdefghijklmnopqrst") for i in range(15)
    ]
    _write(spark, tmp_path, "documents", [
        Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
        for i, t in enumerate(docs)
    ])
    out = {r.degree: r.n_nodes for r in
           graph_degree_stats_q(spark, str(tmp_path)).collect()}
    assert out == {2: 3}  # the triangle; isolated docs don't appear


def test_containment_catches_subset_jaccard_misses(spark, tmp_path):
    from wikidatabots_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    # doc 0 is wholly contained in doc 1, which is ~4x longer: high
    # containment, low jaccard. Enough filler docs that max_df does not
    # fence the shared shingles.
    small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    big = small + (" " + " ".join(f"pad{j}" for j in range(30)))
    docs = [small, big] + [
        " ".join(f"w{i}{c}" for c in "abcdefghijklmnop") for i in range(14)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    cont = ngram_containment_pairs(df, threshold=0.8, max_df=0.2).collect()
    assert [(r.id_a, r.id_b) for r in cont] == [(0, 1)]
    assert cont[0].containment == 1.0
    jac = ngram_jaccard_pairs(df, threshold=0.4, max_df=0.2).collect()
    assert jac == []  # jaccard at its own default-ish bar misses it


def test_exact_normalized_folds_case_punct_whitespace(spark, tmp_path):
    from wikidatabots_spark.plans.quality import dedup_exact_normalized_q

    _write(spark, tmp_path, "documents", [
        Row(doc_id=1, text="Hello,  World!?", lang="en", source="s", n_chars=1),
        Row(doc_id=2, text="hello world", lang="en", source="s", n_chars=1),
        Row(doc_id=3, text="  HELLO   WORLD.  ", lang="en", source="s",
            n_chars=1),
        Row(doc_id=4, text="goodbye world", lang="en", source="s", n_chars=1),
    ])
    out = dedup_exact_normalized_q(spark, str(tmp_path)).collect()
    by_canon = {r.canonical_id: r.n_copies for r in out}
    # '!' and '?' are not in the reference punctuation class [.,!?;:]...
    # they are: both stripped -> docs 1-3 fold together
    assert by_canon == {1: 3, 4: 1}


def test_split_decontaminate_flags_only_cross_split_links(spark, sf_dir):
    from wikidatabots_spark.plans.quality import (
        SPLIT_TRAIN_END,
        corpus_split_decontaminate_q,
    )

    out = corpus_split_decontaminate_q(spark, sf_dir).collect()
    assert len(out) > 0  # the synthetic corpus has cross-split near-dups
    # every flagged doc must itself be in the eval split
    for r in out:
        import hashlib

        bkt = int(hashlib.md5(f"split:{r.doc_id}".encode()).hexdigest()[:4], 16)
        assert bkt >= SPLIT_TRAIN_END
        assert r.n_train_links >= 1


def test_quantile_hist_sketch_is_mergeable_and_bounded(spark, sf_dir):
    """The sketch's reason to exist: per-slice log2 histograms MERGE BY
    ADDITION into exactly the whole-corpus histogram (so the streaming/
    day-2 form needs no new math), the state is bounded (< 64 buckets,
    one per octave), and every estimate is within one octave (2x) of
    the exact quantile by construction."""
    from wikidatabots_spark.plans.registry import REGISTRY
    from wikidatabots_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    vals = (
        ev.where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(
            (F.col("value").cast("decimal(14,4)") * 100)
            .cast("bigint")
            .alias("v_cents"),
            "event_id",
        )
        .where(F.col("v_cents") > 0)
    )
    bkt = F.length(F.bin(F.col("v_cents"))).alias("bkt")

    def hist(df):
        return {
            r.bkt: r.cnt
            for r in df.groupBy(bkt).agg(F.count(F.lit(1)).alias("cnt")).collect()
        }

    whole = hist(vals)
    assert len(whole) < 64  # bounded state
    h_even = hist(vals.where(F.col("event_id") % 2 == 0))
    h_odd = hist(vals.where(F.col("event_id") % 2 == 1))
    merged = {
        b: h_even.get(b, 0) + h_odd.get(b, 0) for b in set(h_even) | set(h_odd)
    }
    assert merged == whole  # counters merge by addition, bit-exact

    for r in REGISTRY["sketch_quantile_hist"].fn(spark, sf_dir).collect():
        assert r.exact_cents <= r.est_cents < 2 * r.exact_cents + 2


def test_curate_v8_dsir_gate_semantics(spark, sf_dir):
    """The flagship's DSIR domain gate contract: every RAW-pool doc
    curate_corpus_v8 keeps has per-token DSIR affinity at or above the
    raw pool's overall per-token rate (imp*Σn ≥ n*Σimp, the integer
    cross-multiply), target-source docs are exempt, and the gate
    genuinely fires — at least one below-rate doc that reaches it
    (passes the gate stack and SemDeDup) is gone from v8."""
    from pyspark.sql import functions as F

    from wikidatabots_spark import plans
    from wikidatabots_spark.operators.similarity import semdedup_flags
    from wikidatabots_spark.plans.llmdata import (
        _DSIR_TARGET,
        dsir_occurrences,
        dsir_scores,
    )
    from wikidatabots_spark.plans.quality import _gate_stack
    from wikidatabots_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    sc = dsir_scores(d).collect()
    s_imp = sum(r.imp_ppm for r in sc)
    s_tok = sum(r.n_tok for r in sc)
    below = {r.doc_id for r in sc if r.imp_ppm * s_tok < r.n_tok * s_imp}
    assert below and len(below) < len(sc)

    v8 = plans.REGISTRY["curate_corpus_v8"].fn(spark, sf_dir).collect()
    assert v8
    v8_raw = {r.doc_id for r in v8 if r.source != _DSIR_TARGET}
    assert v8_raw.isdisjoint(below)

    occ = dsir_occurrences(d).select("doc_id", "bucket", "cnt")
    gated = {r.doc_id for r in _gate_stack(spark, sf_dir, occ).collect()}
    semdrop = {
        r.vec_id
        for r in semdedup_flags(
            load_table(spark, sf_dir, "embeddings"), 4, 2, 0.3
        )
        .where(~F.col("is_kept"))
        .collect()
    }
    v8_docs = {r.doc_id for r in v8}
    assert ((gated - semdrop) & below) - v8_docs, "the DSIR gate never fired"
