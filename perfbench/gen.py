"""Seeded input generator for the three benchmark workloads.

Every input the program sees is written here, before any timed window,
from ``--seed`` alone: the same seed gives byte-identical files. Output is
cached per (workload, seed) under ``.perfbench/inputs/`` in the checkout,
next to the ground truth the run checks its results against:

- ``reconcile``: SPARQL CSV result sets in the shapes of FIXTURES.md §2
  (mostly-null ``tmdb_id``, ~10% duplicate external keys, a few blocked
  items), the ``tmdb-movie``/``tmdb-tv``/``opencritic`` catalog parquet of
  FIXTURES.md §3, the stub's answer set, and the exact multiset of RDF
  statements each pipeline must produce.
- ``curate``: a ``documents`` + ``embeddings`` corpus with the schemas of
  the synthetic test tables (FIXTURES.md §6), planted near-duplicate
  clusters with heavy-tailed sizes (one hot cluster), and planted
  documents that fail the quality gates.
- ``ingest_stream``: a corpus of the same kind (the program splits it into
  micro-batches), with planted benchmark contamination and near-duplicate
  clusters, plus the flags, component labels and DSIR-scored ids a batch
  computation over it gives.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import re
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENTITY = "http://www.wikidata.org/entity/"
STOPWORDS = ["the", "and", "of", "to", "is", "a", "in", "for", "on", "an"]
N_SOURCES = 20

# reconcile sizes: rows per SPARQL result set and catalog
RECONCILE_SIZES = {"imdb": 6000, "tvdb": 3000, "statements": 1500, "opencritic": 2000}
BLOCKED_QIDS_PER_SET = 12
PRINT_LIMIT = 250  # sinks.rdf default, the reference's cap

CURATE_DOCS = 400
INGEST_DOCS = 560
# plans.quality.ingest_pipeline_stream_q protects doc_id % 7 == 0 as the
# evaluation set and scores DSIR importance against source src0
BENCH_MOD = 7
DSIR_TARGET = "src0"
VERSION = 3  # part of the cache key: bump when generated inputs change


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------


def _vocabulary(n: int = 4000) -> list[str]:
    """Fixed pseudo-word vocabulary (seed-independent)."""
    rng = np.random.default_rng(0)
    onsets = list("bcdfghjklmnprstvwz") + ["br", "ch", "st", "tr", "pl", "gr"]
    vowels = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
    words: set[str] = set(STOPWORDS)
    out: list[str] = []
    while len(out) < n:
        k = int(rng.integers(2, 4))
        w = "".join(onsets[rng.integers(len(onsets))] + vowels[rng.integers(len(vowels))] for _ in range(k))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


VOCAB = _vocabulary()


def _doc_words(rng: np.random.Generator, source: int, n: int) -> list[str]:
    """English-marked prose: ~18% stopwords, content words half from the
    source's own slice of the vocabulary (so domains differ), half global."""
    lo = (source * 150) % (len(VOCAB) - 200)
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.18:
            out.append(STOPWORDS[int(rng.integers(5))] if r < 0.12 else STOPWORDS[int(rng.integers(10))])
        elif r < 0.59:
            out.append(VOCAB[lo + int(rng.integers(200))])
        else:
            out.append(VOCAB[int(rng.integers(len(VOCAB)))])
    return out


def _perturb(rng: np.random.Generator, words: list[str], edits: int) -> list[str]:
    out = list(words)
    for _ in range(edits):
        out[int(rng.integers(len(out)))] = VOCAB[int(rng.integers(len(VOCAB)))]
    return out


def _cluster_sizes(rng: np.random.Generator, n_members: int, hot: int) -> list[int]:
    """Heavy-tailed cluster sizes summing to ``n_members``: one hot cluster
    of ``hot`` members, the rest Zipf-distributed in [2, 12]."""
    sizes = [hot]
    left = n_members - hot
    while left >= 2:
        s = int(min(max(rng.zipf(2.0) + 1, 2), 12, left))
        sizes.append(s)
        left -= s
    return sizes


def _docs_table(rows: list[tuple[int, str, str, str]]) -> pa.Table:
    ids, texts, langs, sources = zip(*rows)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _planted_corpus(
    rng: np.random.Generator, n_docs: int, dup_frac: float, hot_frac: float, fail_frac: float
) -> tuple[list[list[str]], list[int], list[list[int]], list[int]]:
    """Word lists + source per document (positions are doc ids after a
    shuffle), planted clusters (lists of positions, base first) and
    planted quality-fail positions."""
    n_fail = int(n_docs * fail_frac)
    n_members = int(n_docs * dup_frac)
    sizes = _cluster_sizes(rng, n_members, max(int(n_docs * hot_frac), 2))
    n_members = sum(sizes)
    n_unique = n_docs - n_fail - n_members
    docs: list[list[str]] = []
    srcs: list[int] = []
    clusters: list[list[int]] = []
    for _ in range(n_unique):
        s = int(rng.integers(N_SOURCES))
        docs.append(_doc_words(rng, s, int(rng.integers(60, 140))))
        srcs.append(s)
    for size in sizes:
        s = int(rng.integers(N_SOURCES))
        base = _doc_words(rng, s, int(rng.integers(80, 140)))
        members = [len(docs)]
        docs.append(base)
        srcs.append(s)
        for _ in range(size - 1):
            members.append(len(docs))
            docs.append(_perturb(rng, base, int(rng.integers(0, 3))))
            srcs.append(s)
        clusters.append(members)
    fails = []
    for i in range(n_fail):
        s = int(rng.integers(N_SOURCES))
        fails.append(len(docs))
        if i % 2:
            docs.append(_doc_words(rng, s, int(rng.integers(4, 10))))  # too short
        else:
            a, b = (VOCAB[int(x)] for x in rng.integers(len(VOCAB), size=2))
            docs.append([a, b] * int(rng.integers(25, 45)))  # one repeated bigram
        srcs.append(s)
    perm = rng.permutation(len(docs))  # position -> doc id
    return (
        [docs[j] for j in np.argsort(perm)],
        [srcs[j] for j in np.argsort(perm)],
        [[int(perm[m]) for m in c] for c in clusters],
        [int(perm[f]) for f in fails],
    )


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


def gen_curate(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 2])
    docs, srcs, clusters, fails = _planted_corpus(
        rng, CURATE_DOCS, dup_frac=0.25, hot_frac=0.05, fail_frac=0.06
    )
    rows = [(i, " ".join(w), "en", f"src{s}") for i, (w, s) in enumerate(zip(docs, srcs))]
    pq.write_table(_docs_table(rows), os.path.join(out, "documents.parquet"))
    warm = rows[: len(rows) // 8]
    os.makedirs(os.path.join(out, "warmup"))
    pq.write_table(_docs_table(warm), os.path.join(out, "warmup", "documents.parquet"))
    for path, n in ((out, len(rows)), (os.path.join(out, "warmup"), len(warm))):
        emb = rng.standard_normal((n, 64)).astype(np.float32)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(np.arange(n), pa.int64()),
                    "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                    "label": pa.array(rng.integers(0, 10, n), pa.int32()),
                }
            ),
            os.path.join(path, "embeddings.parquet"),
        )
    truth = {"n_docs": len(rows), "clusters": [sorted(c) for c in clusters], "fail_ids": sorted(fails)}
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh)


# ---------------------------------------------------------------------------
# ingest_stream
# ---------------------------------------------------------------------------


def _words(text: str) -> list[str]:
    # generated texts are ASCII words joined by single spaces, where
    # str.split() and the engine's split on \s+ agree
    return text.lower().split()


def minhash_bands(text: str, num_hashes: int = 8, bands: int = 4, k: int = 3) -> list[str] | None:
    """Band hashes of a document: distinct word k-shingles, per-seed md5
    minima, md5 of each band's joined minima (the documented LSH scheme)."""
    w = _words(text)
    toks = {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}
    if not toks:
        return None
    mins = [min(hashlib.md5(f"{h}:{t}".encode()).hexdigest() for t in toks) for h in range(num_hashes)]
    r = num_hashes // bands
    return [hashlib.md5("|".join(mins[b * r : (b + 1) * r]).encode()).hexdigest() for b in range(bands)]


def batch_components(texts: dict[int, str]) -> dict[int, int]:
    """Min-label connected components of the share-a-band graph: node ->
    smallest id in its component, for nodes with at least one edge."""
    parent = {i: i for i in texts}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    buckets: dict[tuple[int, str], list[int]] = {}
    for i, t in texts.items():
        for b, h in enumerate(minhash_bands(t) or []):
            buckets.setdefault((b, h), []).append(i)
    linked: set[int] = set()
    for members in buckets.values():
        if len(members) > 1:
            linked.update(members)
            r0 = find(members[0])
            for m in members[1:]:
                r = find(m)
                if r != r0:
                    # the smaller root wins, so every root is its set's minimum
                    parent[max(r, r0)] = min(r, r0)
                    r0 = min(r, r0)
    return {i: find(i) for i in linked}


def ngram_flags(texts: dict[int, str], bench: set[int], n: int = 5) -> dict[int, int]:
    """Non-benchmark doc id -> count of distinct word n-grams it shares with
    any benchmark doc (docs sharing none are absent)."""

    def grams(t: str) -> set[str]:
        w = _words(t)
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    bench_grams: set[str] = set()
    for i in bench:
        bench_grams |= grams(texts[i])
    out = {}
    for i, t in texts.items():
        if i not in bench:
            hit = len(grams(t) & bench_grams)
            if hit:
                out[i] = hit
    return out


def gen_ingest(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 3])
    docs, srcs, _clusters, _fails = _planted_corpus(
        rng, INGEST_DOCS, dup_frac=0.2, hot_frac=0.04, fail_frac=0.0
    )
    # contamination: copy a 6-word span of a benchmark doc into ~8% of the rest
    bench_ids = [i for i in range(len(docs)) if i % BENCH_MOD == 0]
    for i in range(len(docs)):
        if i % BENCH_MOD and rng.random() < 0.08:
            src = docs[bench_ids[int(rng.integers(len(bench_ids)))]]
            at = int(rng.integers(len(src) - 6))
            pos = int(rng.integers(len(docs[i])))
            docs[i] = docs[i][:pos] + src[at : at + 6] + docs[i][pos:]
    rows = [(i, " ".join(w), "en", f"src{s}") for i, (w, s) in enumerate(zip(docs, srcs))]
    pq.write_table(_docs_table(rows), os.path.join(out, "documents.parquet"))
    texts = {r[0]: r[1] for r in rows}
    bench = {i for i in texts if i % BENCH_MOD == 0}
    flags = ngram_flags(texts, bench)
    admitted = {i: t for i, t in texts.items() if i not in bench and i not in flags}
    truth = {
        "n_docs": len(rows),
        "n_admitted": len(admitted),
        "flagged": {str(k): v for k, v in sorted(flags.items())},
        "labels": {str(k): v for k, v in sorted(batch_components(admitted).items())},
        "dsir_scored": sorted(i for i in admitted if rows[i][3] != DSIR_TARGET),
    }
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh)


# ---------------------------------------------------------------------------
# reconcile
# ---------------------------------------------------------------------------


def _csv(path: str, header: list[str], rows: list[list[object]]) -> None:
    def cell(v: object) -> str:
        return "" if v is None else str(v)

    with open(path, "w", newline="") as fh:
        fh.write(",".join(header) + "\n")
        for r in rows:
            fh.write(",".join(cell(v) for v in r) + "\n")


def _dup_keys(rng: np.random.Generator, keys: list[int | None], frac: float) -> list[int | None]:
    """Overwrite ~``frac`` of the keys with another row's key."""
    keys = list(keys)
    n = len(keys)
    for i in rng.choice(n, int(n * frac), replace=False):
        keys[int(i)] = keys[int(rng.integers(n))]
    return keys


def gen_reconcile(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    sz = RECONCILE_SIZES
    day0 = dt.date(2020, 1, 1)

    def days(n: int) -> list[dt.date]:
        return [day0 + dt.timedelta(days=int(d)) for d in rng.integers(0, 1500, n)]

    # --- movies: IMDb result set + tmdb-movie catalog ---------------------
    n = sz["imdb"]
    qids = rng.choice(np.arange(1, 50 * n), n, replace=False)
    keys = _dup_keys(rng, [int(k) for k in rng.choice(np.arange(1, 20 * n), n, replace=False)], 0.05)
    imdb_rows = []
    for q, k in zip(qids, keys):
        ext = f"nm{k:07d}" if rng.random() < 0.03 else f"tt{k:07d}"
        cur = int(rng.integers(1, 10**6)) if rng.random() < 0.15 else None
        imdb_rows.append([f"{ENTITY}Q{q}", ext, cur])
    blocked = sorted({f"Q{qids[int(i)]}" for i in rng.integers(0, n, BLOCKED_QIDS_PER_SET)})
    movie_keys = [int(k) for k in keys if rng.random() < 0.6]
    movie_keys += [int(k) for k in rng.integers(20 * n, 40 * n, n // 2)]  # keys no item has
    movie_keys = _dup_keys(rng, movie_keys, 0.03)
    n_movie = len(movie_keys)
    movie_ids = [int(i) for i in rng.choice(np.arange(1, 10 * n_movie), n_movie, replace=False)]
    movie_success = [bool(s) for s in rng.random(n_movie) < 0.9]
    movie_ext: list[int | None] = [k if rng.random() < 0.97 else None for k in movie_keys]
    pq.write_table(
        pa.table(
            {
                "id": pa.array(movie_ids, pa.int64()),
                "imdb_numeric_id": pa.array(movie_ext, pa.int64()),
                "date": pa.array(days(n_movie), pa.date32()),
                "success": pa.array(movie_success, pa.bool_()),
            }
        ),
        os.path.join(out, "tmdb-movie.parquet"),
    )

    # --- tv: TVDB result set + tmdb-tv catalog ---------------------------
    n = sz["tvdb"]
    tv_qids = rng.choice(np.arange(50 * sz["imdb"], 60 * sz["imdb"]), n, replace=False)
    tv_keys = _dup_keys(rng, [int(k) for k in rng.choice(np.arange(1, 20 * n), n, replace=False)], 0.05)
    tvdb_rows = []
    for q, k in zip(tv_qids, tv_keys):
        cur = int(rng.integers(1, 10**6)) if rng.random() < 0.15 else None
        tvdb_rows.append([f"{ENTITY}Q{q}", k, cur])
    blocked += sorted({f"Q{tv_qids[int(i)]}" for i in rng.integers(0, n, BLOCKED_QIDS_PER_SET)})
    tv_cat_keys = _dup_keys(rng, [int(k) for k in tv_keys if rng.random() < 0.6], 0.03)
    n_tv = len(tv_cat_keys)
    tv_ids = [int(i) for i in rng.choice(np.arange(1, 10 * n_tv), n_tv, replace=False)]
    pq.write_table(
        pa.table(
            {
                "id": pa.array(tv_ids, pa.int64()),
                "imdb_numeric_id": pa.array([None] * n_tv, pa.int64()),
                "tvdb_id": pa.array(tv_cat_keys, pa.int64()),
                "date": pa.array(days(n_tv), pa.date32()),
                "success": pa.array([bool(s) for s in rng.random(n_tv) < 0.9], pa.bool_()),
            }
        ),
        os.path.join(out, "tmdb-tv.parquet"),
    )

    # --- not-deprecated statements + the stub's view of TMDB -------------
    n = sz["statements"]
    ok_ids = [i for i, s in zip(movie_ids, movie_success) if s]
    bad_ids = [i for i, s in zip(movie_ids, movie_success) if not s]
    stmt_ids = []
    for _ in range(n):
        r = rng.random()
        if r < 0.96:
            stmt_ids.append(ok_ids[int(rng.integers(len(ok_ids)))])
        elif r < 0.985:
            stmt_ids.append(bad_ids[int(rng.integers(len(bad_ids)))])
        else:
            stmt_ids.append(int(rng.integers(10 * n_movie, 20 * n_movie)))  # not in the dump
    stmt_rows = [[f"Q{int(rng.integers(1, 10**7))}${j:08x}", i] for j, i in enumerate(stmt_ids)]
    candidates = sorted(set(stmt_ids) - set(ok_ids))
    live = sorted(int(c) for c in candidates if rng.random() < 0.5)
    flaky_id = candidates[int(rng.integers(len(candidates)))]

    # --- OpenCritic result set + catalog ---------------------------------
    n = sz["opencritic"]
    n_api = n
    oc_items = rng.choice(np.arange(60 * sz["imdb"], 70 * sz["imdb"]), n, replace=False)
    oc_items = _dup_keys(rng, [int(x) for x in oc_items], 0.03)
    oc_rows = []
    for j, q in enumerate(oc_items):
        has_stmt = rng.random() < 0.5
        oc_rows.append(
            [
                f"{ENTITY}Q{q}",
                int(rng.integers(1, int(n_api * 1.2))),
                f"Q{q}$OC{j:06x}" if has_stmt else None,
                int(rng.integers(40, 100)) if has_stmt and rng.random() < 0.9 else None,
                (day0 + dt.timedelta(days=int(rng.integers(0, 1500)))).isoformat(),
                f"{int(rng.integers(0, 120))}.0",
            ]
        )
    api_ids = list(range(1, n_api + 1))
    api_score = [
        None if rng.random() < 0.1 else float(rng.integers(40, 100)) + float(rng.choice([0.0, 0.2, 0.7]))
        for _ in api_ids
    ]
    api_reviews = [int(x) for x in rng.integers(0, 150, n_api)]
    retrieved = [
        dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc) + dt.timedelta(days=int(d))
        for d in rng.integers(0, 300, n_api)
    ]
    pq.write_table(
        pa.table(
            {
                "id": pa.array(api_ids, pa.int64()),
                "top_critic_score": pa.array(api_score, pa.float64()),
                "percent_recommended": pa.array([float(x) for x in rng.random(n_api) * 100], pa.float64()),
                "num_reviews": pa.array(api_reviews, pa.int64()),
                "latest_review_date": pa.array(days(n_api), pa.date32()),
                "retrieved_at": pa.array(retrieved, pa.timestamp("us", tz="UTC")),
            }
        ),
        os.path.join(out, "opencritic.parquet"),
    )

    _csv(os.path.join(out, "imdb.csv"), ["item", "imdb_id", "tmdb_id"], imdb_rows)
    _csv(os.path.join(out, "tvdb.csv"), ["item", "tvdb_id", "tmdb_id"], tvdb_rows)
    _csv(os.path.join(out, "statements.csv"), ["statement", "id"], stmt_rows)
    _csv(
        os.path.join(out, "opencritic.csv"),
        ["item", "opencritic_id", "statement", "review_score", "point_in_time", "number_of_reviews"],
        oc_rows,
    )
    stub = {
        "service_ms": {"sparql": 20, "tmdb": 2},
        "sparql": {k: f"{k}.csv" for k in ("imdb", "tvdb", "statements", "opencritic")},
        "tmdb_movie_ids": live,
        "flaky": ["sparql/opencritic", f"movie/{flaky_id}"],
    }
    with open(os.path.join(out, "stub.json"), "w") as fh:
        json.dump(stub, fh)

    # --- ground truth: the statements each pipeline must emit ------------
    blocked_set = set(blocked)

    def via_key(rows, cat_ids, cat_keys, pid, pattern):
        def key(v):
            if v is None:
                return None
            if pattern is None:
                return int(v)
            m = re.search(pattern, v)
            return int(m.group(1)) if m else None

        keyed = [(r[0][len(ENTITY):], key(r[1]), r[2]) for r in rows]
        cnt = Counter(k for _, k, _ in keyed)
        cat: dict[int, int] = {}
        for i, k in zip(cat_ids, cat_keys):
            if k is not None:
                cat[k] = min(cat.get(k, i), i)
        return Counter(
            f'wd:{q} wdt:{pid} "{cat[k]}" .'
            for q, k, cur in keyed
            if k is not None and cnt[k] == 1 and cur is None and q not in blocked_set and k in cat
        )

    movie_ok = dict(zip(movie_ids, movie_success))
    live_set = set(live)
    deprecated = Counter(
        f"wds:{s} wikibase:rank wikibase:DeprecatedRank ."
        for s, i in stmt_rows
        if not (movie_ok.get(i) is True or i in live_set)
    )
    item_count = Counter(r[0] for r in oc_rows)
    api = {i: (sc, nr, ts.date().isoformat()) for i, sc, nr, ts in zip(api_ids, api_score, api_reviews, retrieved)}
    add: Counter = Counter()
    update: Counter = Counter()
    for item, oc_id, stmt, score, _pit, nrev in oc_rows:
        if item_count[item] != 1 or oc_id not in api:
            continue
        sc, nr, day = api[oc_id]
        if sc is None or nr <= 10:
            continue
        new = int(np.floor(sc + 0.5))
        if stmt is None:
            add[f'wd:{item[len(ENTITY):]} p:P8865 [ ps:P8865 {new} ; pq:P585 "{day}" ] .'] += 1
        elif score is not None and (new != score or nr > int(float(nrev)) + 10):
            tag = "raise" if new > score else "lower"
            update[f'wds:{stmt} ps:P8865 {new} ; pq:P585 "{day}" . # {tag}'] += 1
    truth = {
        "blocked_qids": blocked,
        "n_sparql_rows": sum(len(r) for r in (imdb_rows, tvdb_rows, stmt_rows, oc_rows)),
        "n_candidates": len(candidates),
        "expected": {
            "tmdb_via_imdb": via_key(imdb_rows, movie_ids, movie_ext, "P4947", r"tt(\d+)"),
            "tmdb_via_tvdb": via_key(tvdb_rows, tv_ids, tv_cat_keys, "P4983", None),
            "tmdb_deprecated": deprecated,
            "opencritic_add": add,
            "opencritic_update": update,
        },
    }
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh)


GENERATORS = {"reconcile": gen_reconcile, "curate": gen_curate, "ingest_stream": gen_ingest}


def ensure_inputs(cache_root: str, workload: str, seed: int) -> str:
    """Directory holding the inputs of (workload, seed), generated once."""
    out = os.path.join(cache_root, f"{workload}-s{seed}-v{VERSION}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
