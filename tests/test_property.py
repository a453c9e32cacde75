"""Property-based tests (hypothesis) — reference test layer 3 (SURVEY §5):
random typed inputs, invariants on schema and row counts."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from wikidatabots_spark.functions.core import pl_format, prefix_columns, unique_keep_none
from wikidatabots_spark.functions.structs import prepare_request

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

text_or_none = st.one_of(st.none(), st.text(min_size=0, max_size=20))


@given(rows=st.lists(st.tuples(text_or_none, text_or_none), min_size=1, max_size=8))
@SETTINGS
def test_pl_format_null_iff_any_null(spark, rows):
    # invariant: output is null exactly when any argument is null
    df = spark.createDataFrame(rows, "a string, b string")
    out = df.select(
        F.col("a"), F.col("b"), pl_format("<{}-{}>", F.col("a"), F.col("b")).alias("f")
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        if r.a is None or r.b is None:
            assert r.f is None
        else:
            assert r.f == f"<{r.a}-{r.b}>"


@given(keys=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=20))
@SETTINGS
def test_unique_keep_none_invariants(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = [r.k for r in unique_keep_none(df, "k").collect()]
    # exactly the values that occur once, each exactly once
    assert sorted(out) == sorted(k for k in set(keys) if keys.count(k) == 1)


@given(
    url=st.text(
        alphabet=st.characters(whitelist_categories=("L", "N"), max_codepoint=127),
        min_size=1,
        max_size=30,
    ),
    headers=st.dictionaries(
        st.text(
            alphabet=st.characters(whitelist_categories=("L",), max_codepoint=127),
            min_size=1,
            max_size=8,
        ),
        st.text(max_size=8),
        max_size=3,
    ),
)
@SETTINGS
def test_prepare_request_schema_exact(spark, url, headers):
    # invariant: output struct schema is exactly HTTP_REQUEST shape and the
    # row count is preserved (test_polars_requests.py:267-279 analog)
    df = spark.createDataFrame([(f"http://x/{url}",)], "u string")
    out = df.select(prepare_request(F.col("u"), headers=headers).alias("r"))
    names = [f.name for f in out.schema["r"].dataType.fields]
    assert names == ["url", "headers"]
    row = out.collect()[0].r
    assert row.url == f"http://x/{url}"
    got = {h.name: h.value for h in (row.headers or [])}
    assert got == headers


@given(prefix=st.text(alphabet="abc_", min_size=0, max_size=5))
@SETTINGS
def test_prefix_columns_roundtrip(spark, prefix):
    df = spark.createDataFrame([(1, "x")], "c1 long, c2 string")
    out = prefix_columns(df, prefix)
    assert out.columns == [prefix + "c1", prefix + "c2"]
    assert out.count() == 1


@given(
    left_rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=12
    ),
    right_rows=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.integers(0, 50),
            st.one_of(st.none(), st.integers(-5, 5)),
            st.one_of(st.none(), st.integers(-5, 5)),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda r: (r[0], r[1]),  # one right row per (key, ts)
    ),
)
@SETTINGS
def test_asof_matches_pandas_merge_asof(spark, left_rows, right_rows):
    """asof_join ≡ pandas merge_asof(by=key, direction='backward'), row-
    atomically — a NULL in the matched right row must surface as NULL,
    never backfilled from an older right row (the ADVICE r1 finding)."""
    import pandas as pd

    from wikidatabots_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)],
        "uid long, ts long, lrow long",
    )
    right = spark.createDataFrame(right_rows, "uid long, ts long, v1 long, v2 long")
    got = {
        r.lrow: (r.v1, r.v2, r.asof_ts)
        for r in asof_join(left, right, on=["uid"]).collect()
    }

    lp = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)],
        columns=["uid", "ts", "lrow"],
    ).sort_values(["ts", "lrow"])
    rp = (
        pd.DataFrame(right_rows, columns=["uid", "ts", "v1", "v2"])
        .astype({"v1": "object", "v2": "object"})
        .sort_values("ts")
        .assign(asof_ts=lambda d: d["ts"])
    )
    exp_df = pd.merge_asof(lp, rp, on="ts", by="uid", direction="backward")
    for _, row in exp_df.iterrows():
        def norm(x):
            return None if x is None or (isinstance(x, float) and pd.isna(x)) else int(x)

        assert got[row["lrow"]] == (norm(row["v1"]), norm(row["v2"]), norm(row["asof_ts"]))


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1, max_size=24, unique=True,
    )
)
@SETTINGS
def test_zorder_key_is_injective_and_bounded(spark, pts):
    from wikidatabots_spark.functions.scale import zorder_key

    df = spark.createDataFrame(pts, "x long, y long")
    out = df.select("x", "y", zorder_key("x", "y", bits=8).alias("z")).collect()
    zs = [r.z for r in out]
    # interleaving distinct (x, y) pairs is injective and stays in 2*bits
    assert len(set(zs)) == len(pts)
    assert all(0 <= z < (1 << 16) for z in zs)


@given(
    weights=st.tuples(st.integers(0, 8), st.integers(1, 8), st.integers(1, 8))
)
@SETTINGS
def test_mix_epochs_total_tracks_budget(spark, weights):
    from wikidatabots_spark.operators.mixture import mix_epochs

    w0, w1, dflt = weights
    rows = [(i, f"s{i % 3}") for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mix_epochs(
        df, "doc_id", "source", weights={"s0": w0, "s1": w1},
        default_weight=dflt,
    )
    total = out.count()
    # same-size remix: the fractional part of each stratum's rate is
    # realized by hash buckets over only ~40 docs, so each stratum can
    # deviate by several docs (binomial tail) — the invariant is that
    # the total TRACKS the budget, not that it hits it exactly
    assert abs(total - 120) <= 15
    # a zero weight empties its stratum entirely
    if w0 == 0:
        assert out.where(F.col("source") == "s0").count() == 0


@given(
    docs=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40),
        min_size=2,
        max_size=10,
    ),
    cut=st.integers(min_value=1, max_value=3),
)
@SETTINGS
def test_winnow_pairs_fence_only_removes(spark, docs, cut):
    """The df fence is monotone: fenced pairs are a SUBSET of unfenced
    pairs (it can only remove candidates, never invent them), and with
    an absolute cut >= n_docs the fence is a no-op."""
    from wikidatabots_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    fps = winnow_fingerprints(d, k=2, window=2)
    all_pairs = {
        (r.id_a, r.id_b)
        for r in winnow_pairs(fps, d, min_shared=1, max_df=len(docs)).collect()
    }
    fenced = {
        (r.id_a, r.id_b)
        for r in winnow_pairs(fps, d, min_shared=1, max_df=cut).collect()
    }
    assert fenced <= all_pairs


@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=8,
        unique_by=lambda v: tuple(v),
    )
)
@SETTINGS
def test_semdedup_total_and_lowest_kept(spark, vecs):
    """SemDeDup verdict invariants: one verdict per vector; the lowest
    id of every cluster is always kept (it can have no lower-id
    neighbor); k=1 with threshold > 1 keeps everything."""
    from wikidatabots_spark.operators.similarity import semdedup_flags

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup_flags(df, k=2, rounds=2, threshold=0.9).collect()
    assert len(out) == len(rows)
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    for members in by_cluster.values():
        lowest = min(m.vec_id for m in members)
        assert next(m for m in members if m.vec_id == lowest).is_kept
    keep_all = semdedup_flags(df, k=1, rounds=1, threshold=1.1).collect()
    assert all(r.is_kept for r in keep_all)


@given(
    fps=st.lists(
        st.integers(min_value=0, max_value=(1 << 16) - 1),
        min_size=2,
        max_size=12,
    )
)
@SETTINGS
def test_hamming_lsh_exact_recall_within_pigeonhole_bound(spark, fps):
    """Pigeonhole guarantee: with 4 slices, the LSH candidate set
    contains EVERY pair at Hamming distance <= 3 — LSH output equals
    brute force exactly (the verification step removes false
    positives, the slicing provably cannot remove true ones)."""
    from wikidatabots_spark.operators.dedup import hamming_near_pairs

    rows = [(i, fp) for i, fp in enumerate(fps)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_pairs(
            df, n_slices=4, slice_bits=4, max_hamming=3
        ).collect()
    }
    want = set()
    for i, a in enumerate(fps):
        for j in range(i + 1, len(fps)):
            h = bin(a ^ fps[j]).count("1")
            if h <= 3:
                want.add((i, j, h))
    assert got == want


@given(text=st.text(alphabet="abc xyz", min_size=0, max_size=60))
@SETTINGS
def test_chunk_partition_when_stride_equals_chunk(spark, text):
    """stride == chunk → the windows PARTITION the word sequence:
    concatenating chunk_texts in chunk_idx order reproduces the
    normalized document exactly, and token counts sum to n_words."""
    from wikidatabots_spark.operators.textstats import chunk_documents

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk=5, stride=5).collect(),
        key=lambda r: r.chunk_idx,
    )
    words = [w for w in text.lower().split() if w]
    assert " ".join(r.chunk_text for r in rows) == " ".join(words)
    assert sum(r.n_tokens for r in rows) == len(words)
    if not words:
        assert rows == []


@given(
    cur=st.lists(
        st.tuples(st.integers(0, 5), st.text(max_size=4), st.integers(0, 4)),
        max_size=8,
    ),
    chg=st.lists(
        st.tuples(
            st.integers(0, 5),
            st.text(max_size=4),
            st.integers(0, 4),
            st.booleans(),
        ),
        max_size=8,
    ),
)
@SETTINGS
def test_merge_upsert_invariants(spark, cur, chg):
    """Invariants: one row per key; a key's surviving version is the max
    over its current+change rows; a key vanishes iff a tombstone sits at
    that max version and wins the change-preferred tie."""
    from wikidatabots_spark.sinks.upsert import merge_upsert

    # dedupe current to one row per key (a keyed table's precondition)
    cur_byk = {}
    for k, v, ver in cur:
        cur_byk[k] = (k, v, ver)
    cur_rows = list(cur_byk.values())
    current = spark.createDataFrame(cur_rows, "id long, val string, version long")
    changes = spark.createDataFrame(
        chg, "id long, val string, version long, _deleted boolean"
    )
    got = merge_upsert(current, changes, "id", "version").collect()
    ids = [r["id"] for r in got]
    assert len(ids) == len(set(ids))  # one row per key
    for k in set(list(cur_byk) + [c[0] for c in chg]):
        cands = []
        if k in cur_byk:
            cands.append((cur_byk[k][2], 0, False))
        cands += [(c[2], 1, c[3]) for c in chg if c[0] == k]
        maxver = max(v for v, _, _ in cands)
        at_max = [c for c in cands if c[0] == maxver]
        # change rows beat the current row at equal version
        change_at_max = [c for c in at_max if c[1] == 1]
        pool = change_at_max or at_max
        row = next((r for r in got if r["id"] == k), None)
        if all(d for _, _, d in pool):
            # every possible winner is a tombstone → key must be gone
            assert row is None
        elif not any(d for _, _, d in pool):
            assert row is not None and row["version"] == maxver
        # mixed tombstone/live at max version: winner depends on the
        # deterministic row-hash tiebreak — only the version is pinned
        elif row is not None:
            assert row["version"] == maxver


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),  # user
            st.integers(0, 20),  # ts offset (hours)
            st.sampled_from(["A", "B"]),
        ),
        min_size=1,
        max_size=15,
    )
)
@SETTINGS
def test_scd2_intervals_partition_each_users_timeline(spark, events):
    """Invariants over random event logs: per user, runs are numbered
    1..n; valid_to of run k equals valid_from of run k+1 (intervals
    tile); only the last run is open; n_events sums to the user's event
    count; consecutive runs change type."""
    import datetime as dt

    from pyspark.sql import Window

    rows = [
        (i, dt.datetime(2026, 1, 1) + dt.timedelta(hours=h), u, t, 0.0, "{}")
        for i, (u, h, t) in enumerate(events)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_type = F.lag("event_type").over(w)
    ordered = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(~prev_type.eqNullSafe(F.col("event_type")), F.lit(1))
        .otherwise(F.lit(0)).alias("new_run"),
    )
    runs = ordered.withColumns(
        {
            "run_id": F.sum("new_run").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            "next_change": F.min(
                F.when(F.col("new_run") == 1, F.col("ts"))
            ).over(w.rowsBetween(1, Window.unboundedFollowing)),
        }
    )
    out = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"),
        F.min("next_change").alias("valid_to"),
        F.count(F.lit(1)).alias("n_events"),
    ).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    from collections import Counter

    per_user_events = Counter(u for u, _, _ in events)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["run_id"])
        assert [r["run_id"] for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r["n_events"] for r in rs) == per_user_events[u]
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"]  # intervals tile
            assert a["event_type"] != b["event_type"]  # runs maximal
        assert rs[-1]["valid_to"] is None  # only the last run is open
        for r in rs[:-1]:
            assert r["valid_to"] is not None


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "dd", "e"]),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    )
)
@SETTINGS
def test_minhash_narrow_equals_grouped_on_random_corpora(spark, docs):
    """Core claim of the zero-state signature path: array_min over the
    per-row shingle array equals the exploded groupBy-MIN signature on
    ANY corpus (docs with < 3 words absent from both)."""
    from wikidatabots_spark.operators.dedup import (
        minhash_signature_cols,
        minhash_signatures,
        shingles,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    narrow = sorted(map(tuple, minhash_signature_cols(df).collect()))
    grouped = sorted(
        map(tuple, minhash_signatures(shingles(df, 3, distinct=False)).collect())
    )
    assert narrow == grouped


# --- BPE round vs a pure-Python reference ----------------------------------

_bpe_word = st.text(alphabet="abcxy", min_size=1, max_size=6)


def _bpe_reference_round(vocab: dict[str, tuple[int, str]]):
    """Pure-Python BPE round: (best_pair, freq), next vocab. Mirrors the
    documented contract: pair counts weighted by word frequency with
    in-word multiplicity, (freq DESC, pair ASC) winner,
    leftmost-non-overlapping application."""
    counts: dict[str, int] = {}
    for _, (cnt, sym) in vocab.items():
        parts = sym.split(" ")
        for i in range(len(parts) - 1):
            counts[f"{parts[i]} {parts[i + 1]}"] = (
                counts.get(f"{parts[i]} {parts[i + 1]}", 0) + cnt
            )
    if not counts:
        return None, vocab
    best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    merged = best[0].replace(" ", "")
    nxt = {
        w: (cnt, sym.replace(best[0], merged))
        for w, (cnt, sym) in vocab.items()
    }
    return best, nxt


@SETTINGS
@given(
    words=st.dictionaries(
        _bpe_word, st.integers(min_value=1, max_value=9), min_size=1, max_size=8
    )
)
def test_bpe_round_matches_python_reference(spark, words):
    from wikidatabots_spark.plans.tokenizer import _bpe_round

    vocab = {w: (c, " ".join(w)) for w, c in words.items()}
    df = spark.createDataFrame(
        [(w, c, s) for w, (c, s) in vocab.items()],
        "word string, cnt long, sym string",
    )
    want_best, want_vocab = _bpe_reference_round(vocab)
    best_df, nxt_df = _bpe_round(df)
    got_best = [(r["pair"], r["freq"]) for r in best_df.collect()]
    if want_best is None:
        assert got_best == []  # all single-char words: no pairs at all
        return
    assert got_best == [want_best]
    got_vocab = {r["word"]: r["sym"] for r in nxt_df.collect()}
    assert got_vocab == {w: s for w, (_, s) in want_vocab.items()}


# --- PQ encode vs a pure-Python argmin -------------------------------------


@SETTINGS
@given(
    vecs=st.lists(
        st.lists(st.integers(min_value=0, max_value=50), min_size=4, max_size=4),
        min_size=3,
        max_size=10,
    )
)
def test_pq_encode_matches_python_argmin(spark, vecs):
    from wikidatabots_spark.operators.pq import pq_encode, pq_fit

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, v array<int>")
    books = pq_fit(df, m=2, subdim=2, k=2, rounds=2)
    got = {
        r["vec_id"]: (r["code0"], r["code1"])
        for r in pq_encode(df, books, subdim=2).collect()
    }
    for i, v in rows:
        for s, book in enumerate(books):
            sub = v[s * 2 : (s + 1) * 2]
            want = min(
                (sum((a - b) ** 2 for a, b in zip(sub, cv)), c) for c, cv in book
            )[1]
            assert got[i][s] == want, (i, s)


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 3), st.integers(0, 5)),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 4),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cap_band_buckets_properties(spark, rows, cap):
    """Hypothesis invariants of the hot-bucket anchor cap: (1) ≤ cap
    rows per bucket survive, (2) output ⊆ input, (3) every non-empty
    bucket keeps its MINIMUM id — the member CC transitivity routes
    through."""
    from wikidatabots_spark.operators.dedup import cap_band_buckets

    df = spark.createDataFrame(
        [(i, b, h) for i, b, h in rows],
        "doc_id long, band_idx int, band_hash int",
    ).distinct()
    inp = {(r.doc_id, r.band_idx, r.band_hash) for r in df.collect()}
    out = [
        (r.doc_id, r.band_idx, r.band_hash)
        for r in cap_band_buckets(df, cap=cap).collect()
    ]
    assert set(out) <= inp
    per_bucket = {}
    for i, b, h in out:
        per_bucket.setdefault((b, h), []).append(i)
    for ids in per_bucket.values():
        assert len(ids) <= cap
    mins = {}
    for i, b, h in inp:
        mins[(b, h)] = min(mins.get((b, h), i), i)
    for bh, m in mins.items():
        assert m in per_bucket.get(bh, []), (bh, m)


# --- streaming dedup-graph maintenance: randomized multi-batch parity ---

_GRAPH_TEXTS = [
    "alpha beta gamma delta epsilon zeta eta theta",
    "one two three four five six seven eight",
    "red orange yellow green blue indigo violet umber",
    "north south east west zenith nadir port starboard",
]


@given(
    assignment=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # text key
            st.integers(min_value=0, max_value=2),  # insert batch
        ),
        min_size=4,
        max_size=12,
    ),
    delete_mask=st.lists(st.booleans(), min_size=12, max_size=12),
    compact_mask=st.lists(st.booleans(), min_size=5, max_size=5),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dedup_graph_maintenance_random_batches_match_recompute(
    spark, tmp_path_factory, assignment, delete_mask, compact_mask
):
    """Property: for ANY assignment of docs to 3 insert batches, ANY
    deletion subset applied mid-stream (between batches 1 and 2), and
    ``compact_labels`` + ``compact_index`` interleaved at ANY subset of
    the batch boundaries (VERDICT r10 next #6 / r11 next #1 —
    previously compaction was only tested at fixed points), the served
    labels equal the full min-label
    CC recompute over the surviving documents — the multi-batch
    induction of the insertion + bounded-deletion theorems under
    arbitrary interleavings, with retention folding arbitrary too."""
    from wikidatabots_spark.operators.dedup import (
        band_pairs,
        connected_components,
        minhash_band_table,
    )
    from wikidatabots_spark.streaming.docs_stream import (
        compact_index,
        compact_labels,
        dedup_graph_maintenance,
        latest_labels,
    )

    docs = [
        (i, _GRAPH_TEXTS[key], batch)
        for i, (key, batch) in enumerate(assignment)
    ]
    # deletions: a subset of docs inserted in batches 0-1 (visible
    # before the mid-stream tombstone batch)
    deleted = [
        i
        for i, (_, batch) in enumerate(assignment)
        if batch <= 1 and delete_mask[i]
    ]

    root = tmp_path_factory.mktemp("graph_prop")
    index_path = str(root / "idx")
    labels_path = str(root / "lbl")
    sink = dedup_graph_maintenance(index_path, labels_path)

    def batch_df(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, __op string"
        )

    bid = 0

    def maybe_compact():
        # hypothesis decides whether a retention fold lands at this
        # batch boundary; the served view must be invariant to it
        if compact_mask[bid]:
            # fold BOTH store families, as compact_every does: labels,
            # and the band index + tombstones (r12 — the index fold
            # materializes ordered tombstone suppression, so landing it
            # right after the deletion batch is the adversarial case)
            compact_labels(spark, labels_path)
            compact_index(spark, index_path)

    for b in (0, 1):
        rows = [(i, t, "insert") for i, t, bb in docs if bb == b]
        if rows:
            sink(batch_df(rows), bid)
            maybe_compact()
            bid += 1
    if deleted:
        sink(batch_df([(i, None, "delete") for i in deleted]), bid)
        maybe_compact()
        bid += 1
    rows = [(i, t, "insert") for i, t, bb in docs if bb == 2]
    if rows:
        sink(batch_df(rows), bid)
        maybe_compact()
        bid += 1
    if bid == 0:
        return  # hypothesis drew an empty run; nothing to assert

    survivors = [
        (i, t) for i, t, _ in docs if i not in set(deleted)
    ]
    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    want = {
        (r.node, r.component)
        for r in connected_components(
            band_pairs(
                minhash_band_table(
                    spark.createDataFrame(survivors, "doc_id long, text string")
                )
            )
        ).collect()
    }
    assert got == want
