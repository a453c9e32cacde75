"""Structured Streaming twins of the batch event-time operators
(plans/events.py) — same logical aggregations, incremental execution.

The reference has no streaming surface (SURVEY.md §1: batch only); this
is north-star scale-out: at 100 TB/day the events table is a stream, and
the batch/stream parity here means one logical definition serves both.

Design notes:
- file source + ``schema()``: streams never infer schemas (SURVEY §1) —
  ``ts`` arrives either as nanos-int (legacy TIMESTAMP(NANOS) footers) or
  as µs timestamp_ntz (newer testdata); the footer is probed and the same
  conversion the batch loader applies is chosen per file generation.
- ``withWatermark`` bounds state: late events beyond the horizon are
  dropped instead of growing state forever — mandatory at scale.
- tumbling windows via ``window()``, sessions via ``session_window()``
  (the built-in replaces the batch lag+cumsum composition).
- tests run with ``trigger(availableNow=True)`` into a memory sink and
  compare against the batch results — the parity check for this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidatabots_spark.sinks.compaction import resolve_store
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _events_file_schema(src: str) -> tuple[StructType, str]:
    """Probe the parquet footer and return (declared schema, ts kind).

    Streams never infer schemas, but the testdata's ``ts`` physical type
    has drifted across generations — TIMESTAMP(NANOS) (scanned as long
    under nanosAsLong) vs TIMESTAMP_MICROS with isAdjustedToUTC=false
    (scanned as timestamp_ntz). The batch loader (sources.tables.load_table)
    branches on the scanned dtype; a file stream must declare the schema
    up front, so probe the footer with pyarrow the same way and branch.
    """
    ts_field: StructType | None = None
    kind = "nanos_long"
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        field = pq.read_schema(src).field("ts")
        if pa.types.is_timestamp(field.type) and field.type.unit in ("us", "ms", "s"):
            kind = "ntz_us"
    except Exception:
        pass  # unreadable footer: keep the legacy nanos-long declaration
    ts_type = TimestampNTZType() if kind == "ntz_us" else LongType()
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    return schema, kind


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table with declared schema.

    The file source requires a *directory* (it tails it for new files —
    exactly how a production drop-zone works), so the single parquet file
    is staged into a per-SF cache dir via symlink. The ``ts`` conversion
    mirrors sources.tables.load_table exactly (schema-adaptive, see
    ``_events_file_schema``) so stream and batch agree on event time.
    """
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    schema, kind = _events_file_schema(src)
    stage = os.path.join(
        tempfile.gettempdir(),
        "wdb_spark_stream",
        # key by schema kind too: a regenerated testdata file must not
        # reuse a stage dir whose checkpoint/listing assumed the old schema
        hashlib.sha256(f"{src}|{kind}".encode()).hexdigest()[:16],
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        try:
            os.symlink(src, link)
        except OSError:
            import shutil

            shutil.copyfile(src, link)
    raw = spark.readStream.schema(schema).format("parquet").load(stage)
    if kind == "ntz_us":
        # session tz is pinned UTC (ensure_session_confs) so NTZ→LTZ is
        # wall-clock-identity — identical to the batch loader's branch,
        # including its verify-don't-assume tz check
        from wikidatabots_spark.sources.tables import ensure_session_confs

        ensure_session_confs(spark)
        tz = spark.conf.get("spark.sql.session.timeZone", "")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise RuntimeError(
                "events.ts is timestamp_ntz and spark.sql.session."
                f"timeZone={tz!r} could not be pinned to UTC; the NTZ->LTZ "
                "cast would shift every event by the session offset."
            )
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def hourly_rollup_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of ``ev_hourly_rollup`` (tumbling 1h windows).

    count_distinct is not supported in streaming agg; approx_count_distinct
    is the streaming-safe substitute (documented divergence from batch).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            F.sum(F.col("value").cast("decimal(14,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "n_users_approx",
            "sum_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of ``ev_sessionize`` via the session_window built-in.

    State per (user, open session); the watermark closes sessions whose
    gap horizon passed — bounded state, arbitrary stream length.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "first_event_id",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    bounded_state: bool = True,
) -> DataFrame:
    """Streaming exact dedup: first event per key wins (the streaming twin
    of ``operators.dedup.dedup_exact``).

    ``bounded_state=True`` (default) uses ``dropDuplicatesWithinWatermark``:
    duplicates are suppressed within the watermark horizon and per-key
    state is evicted once the horizon passes — the only shape whose state
    is bounded on an unbounded stream. Plain ``dropDuplicates(keys)`` only
    evicts by watermark when the event-time column is itself a dedup key;
    with keys like (user_id, event_type) its state grows forever.

    ``bounded_state=False`` keeps the global exactly-one-row-per-key
    contract (a duplicate arriving years later is still dropped) at the
    price of state proportional to ALL distinct keys ever seen — only
    viable for key spaces that fit the state store.
    """
    keys = keys or ["user_id", "event_type"]
    wm = events.withWatermark("ts", watermark)
    if bounded_state:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


def purchase_attribution_stream(
    events: DataFrame,
    window: str = "3 days",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream event-time interval join: each purchase matched to
    every signup of the same user in the preceding ``window`` — the
    streaming twin of the batch ``ev_range_join``.

    The canonical Structured Streaming attribution shape: both sides are
    watermarked, and the join condition bounds purchase time to
    [signup, signup + window), so Spark can compute how long to buffer
    each side's state and evict it once the watermark passes — bounded
    state on an unbounded stream. (Batch uses the bucketed range join;
    streams express the same interval as a time-range join condition and
    let the state store do the bucketing.)
    """
    signups = (
        events.where(F.col("event_type") == "signup")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        signups,
        [
            purchases.user_id == signups.user_id,
            purchases.purchase_ts >= signups.signup_ts,
            purchases.purchase_ts
            < signups.signup_ts + F.expr(f"INTERVAL {window}"),
        ],
        "inner",
    ).select("purchase_id", "signup_id", purchases.user_id.alias("user_id"))


def hll_distinct_users_stream(ev: DataFrame) -> DataFrame:
    """Streaming distinct-user HLL: the register table as a continuously
    updated aggregate. Mergeability (element-wise max) is exactly what a
    streaming MAX aggregation computes incrementally — state is bounded
    at m=64 rows FOREVER, versus unbounded state for exact streaming
    distinct. The batch twin (``operators.sketch.hll_registers``) over
    the same files produces the identical register table, so streaming
    distinct counts converge to batch bit-for-bit (test-pinned)."""
    from wikidatabots_spark.operators.sketch import hll_registers

    return hll_registers(ev, "user_id", p=6)


def rollup_maintenance(
    partials_path: str, user_keys_path: str
) -> "callable":
    """foreachBatch sink that MAINTAINS the hourly rollup incrementally
    under streaming (the streaming wiring of ``ev_rollup_incremental``'s
    DECIMAL-partials merge, VERDICT r5 next #5 / r7 next #4).

    Each micro-batch appends its PARTIAL aggregates (count + DECIMAL sum
    per (hour, event_type), ``plans.events.rollup_partials``) and its
    distinct (hour, type, user) key slice to two append-only parquet
    stores. Nothing is recomputed over history: the per-batch cost is
    delta-sized, and the stores ARE the materialized-view state. The
    current rollup is served by :func:`merged_rollup`, whose result is
    PROVEN equal to the batch ``ev_hourly_rollup`` full recompute
    (count/decimal-sum are commutative monoids; n_users re-distincts
    the carried key set) — parity-tested in tests/test_streaming.py.

    At 100 TB: foreachBatch writes are idempotent per micro-batch only
    if the store dedups on batch_id; the partials store carries
    ``__batch_id`` so an exactly-once sink (or a MERGE-capable table
    format) can fence replays. The key-set store is a DISTINCT target,
    so replays are naturally absorbed at merge time.
    """
    from wikidatabots_spark.plans.events import rollup_partials, rollup_user_keys
    from wikidatabots_spark.sinks.compaction import ensure_linked_store

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # stores live behind a symlink pointer from birth so the
        # compaction rewrite (`compact_rollup_state`) publishes with one
        # atomic rename — no migration window, ever (ADVICE r10 low)
        ensure_linked_store(partials_path)
        ensure_linked_store(user_keys_path)
        (
            rollup_partials(batch_df)
            .withColumn("__batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(partials_path)
        )
        rollup_user_keys(batch_df).write.mode("append").parquet(user_keys_path)

    return sink


def merged_rollup(
    spark: SparkSession, partials_path: str, user_keys_path: str
) -> DataFrame:
    """Serve the current rollup from the maintenance stores: merge all
    streamed partial slices (dedup'd on ``__batch_id`` per group in case
    a replayed micro-batch double-appended) with the re-distincted user
    key set — bit-identical to a full batch recompute."""
    from wikidatabots_spark.plans.events import merge_rollup

    partials = (
        spark.read.parquet(resolve_store(partials_path))
        .groupBy("hour_start", "event_type", "__batch_id")
        .agg(
            F.max("p_events").alias("p_events"),
            F.max("p_sum").alias("p_sum"),
        )
        .drop("__batch_id")
    )
    keys = spark.read.parquet(resolve_store(user_keys_path))
    return merge_rollup(partials, keys)


def compact_rollup_state(
    spark: SparkSession, partials_path: str, user_keys_path: str
) -> int:
    """Retention compaction for the rollup maintenance stores: fold the
    accumulated per-batch partial slices into ONE partial per
    (hour_start, event_type) — replay-dedup'd per batch id first, the
    same rule ``merged_rollup`` applies at read time — and re-distinct
    the user-key store. ``merged_rollup`` is bit-identical before and
    after (test-pinned): partial + partial == full is the store's
    defining monoid, so pre-merging slices cannot change the served
    view; it only bounds the row count at keys (not keys × batches).

    Both rewrites publish via ``sinks.compaction.rewrite_store`` (one
    atomic retarget of the store's symlink pointer: readers see the old
    complete store or the new one at every instant). Returns the
    compacted partials row count.
    """
    from wikidatabots_spark.sinks.compaction import rewrite_store

    raw = spark.read.parquet(resolve_store(partials_path))
    top = raw.agg(F.max("__batch_id").alias("m")).first().m
    folded = (
        raw.groupBy("hour_start", "event_type", "__batch_id")
        .agg(
            F.max("p_events").alias("p_events"),
            F.max("p_sum").alias("p_sum"),
        )
        .groupBy("hour_start", "event_type")
        .agg(
            F.sum("p_events").cast("bigint").alias("p_events"),
            # decimal sums are exact; cast back to the store's width so
            # compaction is schema-stable under repeated application
            F.sum("p_sum").cast("decimal(24,4)").alias("p_sum"),
        )
        .withColumn(
            # keep the store's exact physical type: a lit() that lands
            # as int32 next to existing int64 files (or vice versa)
            # breaks later mixed-file scans
            "__batch_id",
            F.lit(top).cast(raw.schema["__batch_id"].dataType),
        )
    )
    rewrite_store(folded, partials_path)
    rewrite_store(
        spark.read.parquet(resolve_store(user_keys_path)).distinct(), user_keys_path
    )
    return spark.read.parquet(partials_path).count()


def quantile_hist_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``sketch_quantile_hist``'s state: the log2
    histogram is a pure additive-counter aggregate, so the streaming
    form IS a groupBy-count — no watermark needed (the state is the
    bounded <64-bucket table itself, not per-event), no new math (the
    mergeability the batch test pins is exactly what the incremental
    aggregation exercises). Quantile estimates read the latest
    histogram with the same cumulative rule as the batch query."""
    v_cents = (F.col("value").cast("decimal(14,4)") * 100).cast("bigint")
    return (
        events.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(v_cents.alias("v_cents"))
        .where(F.col("v_cents") > 0)
        .groupBy(F.length(F.bin(F.col("v_cents"))).alias("bkt"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
