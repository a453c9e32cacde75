"""Micro-queries: one oracle-checked query per SURVEY.md §2 operator family.

Each exercises exactly one ⚠-gap helper or operator so the correctness
gate pins its semantics independently of the composite pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidatabots_spark.functions.core import (
    between_left_closed,
    pl_format,
    prefix_columns,
    regexp_extract_null,
    unique_first_by,
    unique_keep_none,
)
from wikidatabots_spark.plans.registry import register
from wikidatabots_spark.sources.tables import load_table


# --- P6: column prefixing -------------------------------------------------
@register(
    "op_prefix_columns",
    oracle="""
SELECT n_nationkey AS wd_n_nationkey, n_name AS wd_n_name,
       n_regionkey AS wd_n_regionkey
FROM nation
""",
)
def op_prefix_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_columns(load_table(spark, sf_dir, "nation"), "wd_")


# --- A1: dedup keeping first by explicit order ----------------------------
@register(
    "op_unique_first_by",
    oracle="""
SELECT l_orderkey, l_partkey, l_linenumber
FROM (
    SELECT l_orderkey, l_partkey, l_linenumber,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber, l_partkey) AS rn
    FROM lineitem
) WHERE rn = 1
""",
)
def op_unique_first_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    return unique_first_by(li, ["l_orderkey"], ["l_linenumber", "l_partkey"])


# --- A2/F7: unique keep none ----------------------------------------------
@register(
    "op_unique_keep_none",
    oracle="""
SELECT o_orderkey, o_custkey FROM (
    SELECT o_orderkey, o_custkey,
           COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
    FROM orders
) WHERE cnt = 1
""",
)
def op_unique_keep_none(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return unique_keep_none(o, "o_custkey")


# --- A1+A2 merged: both unique surfaces in one driver slot -----------------
@register(
    "op_unique",
    oracle="""
SELECT 'first_by' AS kind, CAST(l_orderkey AS BIGINT) AS k1,
       CAST(l_partkey AS BIGINT) AS k2, CAST(l_linenumber AS BIGINT) AS k3
FROM (
    SELECT l_orderkey, l_partkey, l_linenumber,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber, l_partkey) AS rn
    FROM lineitem
) WHERE rn = 1
UNION ALL
SELECT 'keep_none' AS kind, CAST(o_orderkey AS BIGINT) AS k1,
       CAST(o_custkey AS BIGINT) AS k2, CAST(NULL AS BIGINT) AS k3
FROM (
    SELECT o_orderkey, o_custkey,
           COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
    FROM orders
) WHERE cnt = 1
""",
)
def op_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op_unique_first_by (A1) + op_unique_keep_none (A2) folded into one
    tagged frame so both unique semantics keep driver-hash pins in a
    single capped-window slot (VERDICT r3 next #5); the individual
    micro-queries stay registered for the local gate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    first_by = unique_first_by(
        li, ["l_orderkey"], ["l_linenumber", "l_partkey"]
    ).select(
        F.lit("first_by").alias("kind"),
        F.col("l_orderkey").cast("bigint").alias("k1"),
        F.col("l_partkey").cast("bigint").alias("k2"),
        F.col("l_linenumber").cast("bigint").alias("k3"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    keep_none = unique_keep_none(o, "o_custkey").select(
        F.lit("keep_none").alias("kind"),
        F.col("o_orderkey").cast("bigint").alias("k1"),
        F.col("o_custkey").cast("bigint").alias("k2"),
        F.lit(None).cast("bigint").alias("k3"),
    )
    return first_by.unionByName(keep_none)


# --- T1: regex extract with null-on-miss ----------------------------------
@register(
    "op_regexp_extract_null",
    oracle="""
SELECT c_custkey,
       CASE WHEN regexp_extract(c_name, 'Customer#(0*([1-9][0-9]*|0))', 2) = ''
            THEN NULL
            ELSE regexp_extract(c_name, 'Customer#(0*([1-9][0-9]*|0))', 2) END
           AS cust_num,
       CASE WHEN regexp_extract(c_mktsegment, '([0-9]+)', 1) = ''
            THEN NULL
            ELSE regexp_extract(c_mktsegment, '([0-9]+)', 1) END AS no_match
FROM customer
""",
)
def op_regexp_extract_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    return cu.select(
        "c_custkey",
        regexp_extract_null(
            F.col("c_name"), r"Customer#(0*([1-9][0-9]*|0))", 2
        ).alias("cust_num"),
        regexp_extract_null(F.col("c_mktsegment"), r"([0-9]+)", 1).alias("no_match"),
    )


# --- T2/R1: regex extract-all + explode -----------------------------------
@register(
    "op_regexp_extract_all",
    oracle="""
SELECT doc_id,
       COALESCE(array_to_string(regexp_extract_all(text, '([a-z]*an[a-z]*)', 1), ','),
                '') AS an_words
FROM documents
""",
)
def op_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_join(
            F.regexp_extract_all(F.col("text"), F.lit(r"([a-z]*an[a-z]*)"), 1), ","
        ).alias("an_words"),
    )


@register(
    "op_explode_words",
    oracle="""
SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
FROM documents
WHERE doc_id < 100
""",
)
def op_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\s+")).alias("word"),
    )


# --- T4: null-propagating format ------------------------------------------
@register(
    "op_pl_format",
    oracle="""
SELECT o_orderkey,
       'order ' || o_orderkey || ' status ' ||
       (CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_orderstatus END)
           AS line
FROM orders
""",
)
def op_pl_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null arg → null output (Polars pl.format semantics)."""
    o = load_table(spark, sf_dir, "orders")
    maybe_null = F.when(F.col("o_orderstatus") != "F", F.col("o_orderstatus"))
    return o.select(
        "o_orderkey",
        pl_format("order {} status {}", F.col("o_orderkey"), maybe_null).alias("line"),
    )


# --- F6: left-closed between ----------------------------------------------
@register(
    "op_between_left_closed",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice >= 50000 AND o_totalprice < 100000
""",
)
def op_between_left_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").where(
        between_left_closed(F.col("o_totalprice"), 50000, 100000)
    )


# --- F9: conditional expression -------------------------------------------
@register(
    "op_when_otherwise",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS tier
FROM customer
""",
)
def op_when_otherwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    return cu.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit("debt"))
        .when(F.col("c_acctbal") < 5000, F.lit("low"))
        .otherwise(F.lit("high"))
        .alias("tier"),
    )


# --- N1: lenient cast ------------------------------------------------------
@register(
    "op_try_cast",
    oracle="""
SELECT o_orderkey,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
       TRY_CAST(o_orderstatus AS INT) AS status_num
FROM orders
""",
)
def op_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_num"),
        F.col("o_orderstatus").try_cast("int").alias("status_num"),
    )


# --- U1: schema-aligned union-all -----------------------------------------
@register(
    "op_union_all",
    oracle="""
SELECT c_name AS name, 'customer' AS kind FROM customer
UNION ALL
SELECT s_name AS name, 'supplier' AS kind FROM supplier
""",
)
def op_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind")
    )
    su = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return cu.unionByName(su)


# --- J4: different-name join keys -----------------------------------------
@register(
    "op_join_diff_keys",
    oracle="""
SELECT s_suppkey, s_name, n_name
FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
""",
)
def op_join_diff_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    return su.join(
        F.broadcast(na), su.s_nationkey == na.n_nationkey, "left"
    ).select("s_suppkey", "s_name", "n_name")


# --- F8/J5: anti-membership against a computed set ------------------------
@register(
    "op_anti_join",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
)
""",
)
def op_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    f_orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cu.join(f_orders, on="c_custkey", how="left_anti").select(
        "c_custkey", "c_name"
    )


# --- A3: sorted whole-group collect ---------------------------------------
@register(
    "op_collect_sorted",
    oracle="""
SELECT n_regionkey,
       array_to_string(list_sort(list(n_name)), ',') AS nations
FROM nation
GROUP BY n_regionkey
""",
)
def op_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = load_table(spark, sf_dir, "nation")
    return na.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


# --- O1/O2: total-order top-k ---------------------------------------------
@register(
    "op_topk",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def op_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --- O3: deterministic modulo "sample" ------------------------------------
@register(
    "op_sample_mod",
    oracle="SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 20 = 0",
)
def op_sample_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stand-in for O3 sampling (seeded RNGs differ across
    engines; ``sample`` itself is pytest-verified by row count)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").where(
        F.col("o_orderkey") % 20 == 0
    )


# --- O3: fraction sampling, deterministic hash-Bernoulli form --------------
_HASH_DIGIT = (
    "(strpos('0123456789abcdef',"
    " substr(md5(CAST(o_orderkey AS VARCHAR)), {j}, 1)) - 1)"
)
_HASH_BUCKET = " + ".join(
    f"{_HASH_DIGIT.format(j=j + 1)} * {16 ** (3 - j)}" for j in range(4)
)


@register(
    "op_sample_fraction",
    oracle=f"""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE {_HASH_BUCKET} < 16384
""",
)
def op_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3's fraction surface via ``sample_hash`` — the reproducible analog
    of ``sample(fraction=0.25)``: membership = md5(key) in the low quarter
    of hash space, identical in any engine (RNG fraction sampling itself is
    pytest-verified; this pins the deterministic production variant used
    for stable train/holdout splits)."""
    from wikidatabots_spark.functions.core import sample_hash

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return sample_hash(o, "o_orderkey", 0.25)


# --- O3 merged: both deterministic sampling surfaces in one driver slot ----
@register(
    "op_sample",
    oracle=f"""
SELECT 'mod' AS kind, o_orderkey, o_totalprice
FROM orders WHERE o_orderkey % 20 = 0
UNION ALL
SELECT 'hash_frac' AS kind, o_orderkey, o_totalprice
FROM orders WHERE {_HASH_BUCKET} < 16384
""",
)
def op_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op_sample_mod + op_sample_fraction folded into one tagged frame so
    O3 keeps a single slot in the driver's capped window (VERDICT r2 next
    #2); the individual micro-queries stay registered for the local gate."""
    from wikidatabots_spark.functions.core import sample_hash

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    mod = o.where(F.col("o_orderkey") % 20 == 0).select(
        F.lit("mod").alias("kind"), "o_orderkey", "o_totalprice"
    )
    frac = sample_hash(o, "o_orderkey", 0.25).select(
        F.lit("hash_frac").alias("kind"), "o_orderkey", "o_totalprice"
    )
    return mod.unionByName(frac)


# --- T1+T2+T3+T4 merged: extract-null + replace + extract-all + pl_format --
@register(
    "op_strings",
    oracle="""
SELECT 'replace' AS kind, CAST(p_partkey AS BIGINT) AS key,
       replace(p_name, 'widget', 'gadget') AS val
FROM part
UNION ALL
SELECT 'extract_all' AS kind, CAST(doc_id AS BIGINT) AS key,
       COALESCE(array_to_string(regexp_extract_all(text, '([a-z]*an[a-z]*)', 1), ','),
                '') AS val
FROM documents
UNION ALL
SELECT 'pl_format' AS kind, CAST(o_orderkey AS BIGINT) AS key,
       'order ' || o_orderkey || ' status ' ||
       (CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_orderstatus END)
           AS val
FROM orders
UNION ALL
SELECT 'extract_null' AS kind, CAST(c_custkey AS BIGINT) AS key,
       CASE WHEN regexp_extract(c_name, 'Customer#(0*([1-9][0-9]*|0))', 2) = ''
            THEN NULL
            ELSE regexp_extract(c_name, 'Customer#(0*([1-9][0-9]*|0))', 2) END
           AS val
FROM customer
UNION ALL
SELECT 'extract_null_miss' AS kind, CAST(c_custkey AS BIGINT) AS key,
       CASE WHEN regexp_extract(c_mktsegment, '([0-9]+)', 1) = ''
            THEN NULL
            ELSE regexp_extract(c_mktsegment, '([0-9]+)', 1) END AS val
FROM customer
""",
)
def op_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op_replace_literal + op_regexp_extract_all + op_pl_format (T4
    null-propagating format, folded r4 to free a window slot for the
    curation flagship) + op_regexp_extract_null (T1 null-on-miss, folded
    late-r4 to free a slot for text_lm_score — both the match and the
    guaranteed-miss leg, so the Polars null-vs-'' gap stays pinned) as
    one tagged frame (driver-window budget; individuals stay for the
    local gate)."""
    p = load_table(spark, sf_dir, "part").select(
        F.lit("replace").alias("kind"),
        F.col("p_partkey").cast("bigint").alias("key"),
        F.replace(F.col("p_name"), F.lit("widget"), F.lit("gadget")).alias("val"),
    )
    d = load_table(spark, sf_dir, "documents").select(
        F.lit("extract_all").alias("kind"),
        F.col("doc_id").cast("bigint").alias("key"),
        F.array_join(
            F.regexp_extract_all(F.col("text"), F.lit(r"([a-z]*an[a-z]*)"), 1), ","
        ).alias("val"),
    )
    o = load_table(spark, sf_dir, "orders")
    maybe_null = F.when(F.col("o_orderstatus") != "F", F.col("o_orderstatus"))
    fmt = o.select(
        F.lit("pl_format").alias("kind"),
        F.col("o_orderkey").cast("bigint").alias("key"),
        pl_format(
            "order {} status {}", F.col("o_orderkey"), maybe_null
        ).alias("val"),
    )
    cu = load_table(spark, sf_dir, "customer")
    enull = cu.select(
        F.lit("extract_null").alias("kind"),
        F.col("c_custkey").cast("bigint").alias("key"),
        regexp_extract_null(
            F.col("c_name"), r"Customer#(0*([1-9][0-9]*|0))", 2
        ).alias("val"),
    )
    emiss = cu.select(
        F.lit("extract_null_miss").alias("kind"),
        F.col("c_custkey").cast("bigint").alias("key"),
        regexp_extract_null(F.col("c_mktsegment"), r"([0-9]+)", 1).alias("val"),
    )
    return p.unionByName(d).unionByName(fmt).unionByName(enull).unionByName(emiss)


# --- F6+F9+N1 merged: scalar predicate/cast family over one scan -----------
@register(
    "op_scalar_micro",
    oracle="""
SELECT o_orderkey,
       (o_totalprice >= 50000 AND o_totalprice < 100000) AS in_band,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
       TRY_CAST(o_orderstatus AS INT) AS status_num,
       CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 150000 THEN 'mid'
            ELSE 'high' END AS tier
FROM orders
""",
)
def op_scalar_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """between_left_closed (F6) + try_cast (N1) + when/otherwise (F9) as
    columns of one projection — three scalar-operator pins in one driver
    slot and one codegen stage over a single scan."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        between_left_closed(F.col("o_totalprice"), 50000, 100000).alias("in_band"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_num"),
        F.col("o_orderstatus").try_cast("int").alias("status_num"),
        F.when(F.col("o_totalprice") < 50000, F.lit("low"))
        .when(F.col("o_totalprice") < 150000, F.lit("mid"))
        .otherwise(F.lit("high"))
        .alias("tier"),
    )


# --- T7/D2/D3: date parse / trunc -----------------------------------------
@register(
    "op_dates",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       strftime(o_orderdate, '%Y-%m-%d') AS order_iso
FROM orders
""",
)
def op_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_iso"),
    )


# --- T3: literal string replace -------------------------------------------
@register(
    "op_replace_literal",
    oracle="""
SELECT p_partkey, replace(p_name, 'widget', 'gadget') AS renamed
FROM part
""",
)
def op_replace_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.replace(F.col("p_name"), F.lit("widget"), F.lit("gadget")).alias("renamed"),
    )


# --- S1: parquet scan through the URL adapter ------------------------------
@register(
    "op_scan_parquet_url",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def op_scan_parquet_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan_parquet_url short-circuits file:// to a direct lazy scan —
    the HTTPS download path is exercised in tests with a live local
    server (test_sources_tables.py)."""
    from wikidatabots_spark.sources.tables import scan_parquet_url

    return scan_parquet_url(spark, f"file://{sf_dir}/region.parquet").select(
        "r_regionkey", "r_name"
    )


# --- R1⚠: explode_outer keeps rows with empty/null arrays ------------------
@register(
    "op_explode_outer",
    oracle="""
SELECT doc_id,
       unnest(CASE WHEN len(m) = 0 THEN [NULL] ELSE m END) AS zz_word
FROM (
    SELECT doc_id, regexp_extract_all(text, '(zz[a-z]+)', 1) AS m
    FROM documents
)
""",
)
def op_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polars explode keeps a null row for empty lists; Spark's plain
    explode drops them — explode_outer restores the reference semantics
    (SURVEY §2.8 R1⚠). Most docs have no 'zz…' match → the null rows are
    the point."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode_outer(
            F.regexp_extract_all(F.col("text"), F.lit(r"(zz[a-z]+)"), 1)
        ).alias("zz_word"),
    )


# --- U2+R1 merged: both explode surfaces in one driver slot ----------------
@register(
    "op_explode",
    oracle="""
SELECT 'words' AS kind, doc_id,
       unnest(string_split_regex(text, '\\s+')) AS word
FROM documents
WHERE doc_id < 100
UNION ALL
SELECT 'zz_outer' AS kind, doc_id,
       unnest(CASE WHEN len(m) = 0 THEN [NULL] ELSE m END) AS word
FROM (
    SELECT doc_id, regexp_extract_all(text, '(zz[a-z]+)', 1) AS m
    FROM documents
)
""",
)
def op_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op_explode_words (U2) + op_explode_outer (R1⚠, null row per empty
    list) folded into one tagged frame — one capped-window slot for the
    explode family (VERDICT r3 next #5); individuals stay registered for
    the local gate."""
    d = load_table(spark, sf_dir, "documents")
    words = d.where(F.col("doc_id") < 100).select(
        F.lit("words").alias("kind"),
        "doc_id",
        F.explode(F.split(F.col("text"), r"\s+")).alias("word"),
    )
    outer = d.select(
        F.lit("zz_outer").alias("kind"),
        "doc_id",
        F.explode_outer(
            F.regexp_extract_all(F.col("text"), F.lit(r"(zz[a-z]+)"), 1)
        ).alias("word"),
    )
    return words.unionByName(outer)


# --- set ops beyond the reference: intersect / except ----------------------
@register(
    "op_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def op_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    su = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cu.intersect(su)


@register(
    "op_except",
    oracle="""
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
)
def op_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no URGENT order. (The r1 form — customer nationkeys
    EXCEPT supplier nationkeys — was vacuously empty at every SF, so its
    hash match proved nothing; this one returns ~200 rows at sf0.01.)"""
    cu = load_table(spark, sf_dir, "customer").select("c_custkey")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    # subtract = SQL EXCEPT (set semantics); exceptAll would keep the
    # multiset difference and is NOT the same operator
    return cu.subtract(urgent)


@register(
    "op_set_ops",
    oracle="""
SELECT 'union' AS kind, CAST(nationkey AS BIGINT) AS key,
       CAST(NULL AS VARCHAR) AS name FROM (
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT 'intersect' AS kind, CAST(nationkey AS BIGINT) AS key,
       CAST(NULL AS VARCHAR) AS name FROM (
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT 'except' AS kind, CAST(custkey AS BIGINT) AS key,
       CAST(NULL AS VARCHAR) AS name FROM (
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
UNION ALL
SELECT 'concat_customer' AS kind, CAST(NULL AS BIGINT) AS key,
       c_name AS name FROM customer
UNION ALL
SELECT 'concat_supplier' AS kind, CAST(NULL AS BIGINT) AS key,
       s_name AS name FROM supplier
""",
)
def op_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three set operators PLUS the U1 schema-aligned vertical
    concat (folded from op_union_all in r5 to free a driver-window slot
    for the incremental-CC flagship; the standalone op_union_all stays
    registered for the local gate) in one tagged driver-checked frame:
    UNION (distinct), INTERSECT, a non-vacuous EXCEPT, and the
    unionByName concat of two differently-sourced name frames."""
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    cn = cu.select(F.col("c_nationkey").cast("bigint").alias("key"))
    sn = su.select(F.col("s_nationkey").cast("bigint").alias("key"))
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").cast("bigint").alias("key"))
    )
    no_name = F.lit(None).cast("string").alias("name")
    no_key = F.lit(None).cast("bigint").alias("key")
    uni = (
        cn.union(sn)
        .distinct()
        .select(F.lit("union").alias("kind"), "key", no_name)
    )
    inter = cn.intersect(sn).select(
        F.lit("intersect").alias("kind"), "key", no_name
    )
    exc = (
        cu.select(F.col("c_custkey").cast("bigint").alias("key"))
        .subtract(urgent)
        .select(F.lit("except").alias("kind"), "key", no_name)
    )
    # U1 pin: vertical concat of schema-aligned frames from two sources
    concat = (
        cu.select(
            F.lit("concat_customer").alias("kind"),
            no_key,
            F.col("c_name").alias("name"),
        )
    ).unionByName(
        su.select(
            F.lit("concat_supplier").alias("kind"),
            no_key,
            F.col("s_name").alias("name"),
        )
    )
    return uni.unionByName(inter).unionByName(exc).unionByName(concat)


# --- joins beyond the reference: full / right / semi in one tagged frame ---
@register(
    "op_join_family",
    oracle="""
SELECT 'full' AS kind, CAST(n_nationkey AS BIGINT) AS nationkey,
       CAST(s_suppkey AS BIGINT) AS suppkey
FROM nation FULL JOIN supplier ON s_nationkey = n_nationkey
UNION ALL
SELECT 'right' AS kind, CAST(n_nationkey AS BIGINT), CAST(s_suppkey AS BIGINT)
FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
UNION ALL
SELECT 'semi' AS kind, CAST(n_nationkey AS BIGINT), NULL
FROM nation WHERE EXISTS (
    SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey
)
""",
)
def op_join_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join types the reference never uses but a complete engine
    must expose: full-outer, right-outer, and left-semi, tagged into one
    driver-checkable frame. Null-extension rows on both sides of the
    full join are the point (Spark and DuckDB must agree on them)."""
    na = load_table(spark, sf_dir, "nation")
    su = load_table(spark, sf_dir, "supplier")
    nk = F.col("n_nationkey").cast("bigint").alias("nationkey")
    sk = F.col("s_suppkey").cast("bigint").alias("suppkey")
    full = na.join(su, na.n_nationkey == su.s_nationkey, "full").select(
        F.lit("full").alias("kind"), nk, sk
    )
    right = su.join(na, su.s_nationkey == na.n_nationkey, "right").select(
        F.lit("right").alias("kind"), nk, sk
    )
    semi = na.join(su, na.n_nationkey == su.s_nationkey, "left_semi").select(
        F.lit("semi").alias("kind"), nk, F.lit(None).cast("bigint").alias("suppkey")
    )
    return full.unionByName(right).unionByName(semi)


# --- pivot (wide aggregation): status × priority counts --------------------
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIASES = ["urgent", "high", "medium", "not_specified", "low"]


@register(
    "op_pivot",
    oracle="""
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS urgent,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
            AS BIGINT) AS high,
       CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
            AS BIGINT) AS medium,
       CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)
            AS BIGINT) AS not_specified,
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
            AS BIGINT) AS low
FROM orders GROUP BY o_orderstatus
""",
)
def op_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot aggregation via the real ``pivot()`` operator with an
    EXPLICIT value list — without one Spark runs an extra distinct job to
    discover the pivot values, a hidden pass over the fact table at scale.
    Missing (status, priority) cells count 0, matching the SQL CASE form."""
    o = load_table(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renamed = out.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("bigint").alias(a)
            for p, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
        ],
    )
    return renamed


# --- unpivot (melt): wide measures → long (measure, value) rows ------------
@register(
    "op_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
       CAST(l_quantity AS DOUBLE) AS value
FROM lineitem WHERE l_orderkey < 1000
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
FROM lineitem WHERE l_orderkey < 1000
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE)
FROM lineitem WHERE l_orderkey < 1000
""",
)
def op_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverse of op_pivot via the native ``unpivot`` (melt) operator
    — wide per-row measures become long (measure, value) rows, a narrow
    map with no shuffle. Values pass through unchanged (no arithmetic),
    so doubles are hash-safe."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("l_quantity"),
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
            F.col("l_discount").cast("double").alias("l_discount"),
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


# --- scale lever: salted skew join is row-identical to the plain join ------
@register(
    "op_salted_join",
    oracle="""
SELECT o_orderkey, o_totalprice, c_name
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 100000
""",
)
def op_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions.scale.salted_join under the hard correctness signal: the
    salt must be invisible in the result (row-identical to the plain
    inner join) while spreading any hot key over `salt` reducers."""
    from wikidatabots_spark.functions.scale import salted_join

    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_totalprice", F.col("o_custkey").alias("custkey"))
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    return salted_join(o, c, on=["custkey"], salt=8, how="inner", seed=7).select(
        "o_orderkey", "o_totalprice", "c_name"
    )


# --- scale lever: bloom semi-join reduction before an exact anti-join ------
@register(
    "op_bloom_prefilter",
    oracle="""
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
)
def op_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result set as op_except, via the scale path: a bloom filter of
    the build side (broadcast bit-table, no false negatives) splits the
    probe into definite-non-members (pass straight through, never join)
    and a small might-contain set that alone goes through the exact
    anti-join. The hash gate proves end-to-end equivalence with the plain
    anti-join — at 100 TB the probe side's shuffle shrinks to the
    might-contain fraction."""
    from wikidatabots_spark.operators.sketch import (
        bloom_bits,
        with_bloom_might_contain,
    )

    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    bits = bloom_bits(urgent, "c_custkey")
    flagged = with_bloom_might_contain(
        load_table(spark, sf_dir, "customer").select("c_custkey"),
        "c_custkey",
        bits,
    )
    definite_out = flagged.where(~F.col("might_contain")).select("c_custkey")
    maybe = flagged.where(F.col("might_contain")).select("c_custkey")
    return definite_out.unionByName(
        maybe.join(urgent, on="c_custkey", how="left_anti")
    ).distinct()


# --- A3+O1/O2 merged: sorted collect + total-order top-k in one slot -------
@register(
    "op_order_collect",
    oracle="""
SELECT 'collect' AS kind, CAST(n_regionkey AS BIGINT) AS k,
       array_to_string(list_sort(list(n_name)), ',') AS txt,
       CAST(NULL AS DOUBLE) AS val
FROM nation
GROUP BY n_regionkey
UNION ALL
SELECT 'topk' AS kind, CAST(o_orderkey AS BIGINT) AS k,
       CAST(NULL AS VARCHAR) AS txt, o_totalprice AS val
FROM (
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
)
""",
)
def op_order_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op_collect_sorted (A3) + op_topk (O1/O2) folded into one tagged
    frame so both ordering surfaces keep driver-hash pins in a single
    capped-window slot (the op_unique pattern); the individual
    micro-queries stay registered for the local gate. The merge freed
    the window slot now held by ``corpus_tokenize_ids``."""
    na = load_table(spark, sf_dir, "nation")
    collect = na.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("txt")
    ).select(
        F.lit("collect").alias("kind"),
        F.col("n_regionkey").cast("bigint").alias("k"),
        "txt",
        F.lit(None).cast("double").alias("val"),
    )
    o = load_table(spark, sf_dir, "orders")
    topk = (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            F.lit("topk").alias("kind"),
            F.col("o_orderkey").cast("bigint").alias("k"),
            F.lit(None).cast("string").alias("txt"),
            F.col("o_totalprice").alias("val"),
        )
    )
    return collect.unionByName(topk)


# --- J4+J5 merged: both join surfaces in one driver slot -------------------
@register(
    "op_join_micro",
    oracle="""
SELECT 'left_diff_keys' AS kind, CAST(s_suppkey AS BIGINT) AS k1,
       s_name AS s1, n_name AS s2
FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
UNION ALL
SELECT 'anti' AS kind, CAST(c_custkey AS BIGINT) AS k1,
       c_name AS s1, CAST(NULL AS VARCHAR) AS s2
FROM customer
WHERE NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
)
""",
)
def op_join_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op_join_diff_keys (J4: left equi-join on differently-named keys,
    broadcast dim) + op_anti_join (J5: anti-membership against a
    computed set) folded into one tagged frame so both join semantics
    keep driver-hash pins in a single capped-window slot (the op_unique
    pattern); the individual micro-queries stay registered for the
    local gate."""
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    diff_keys = su.join(
        F.broadcast(na), su.s_nationkey == na.n_nationkey, "left"
    ).select(
        F.lit("left_diff_keys").alias("kind"),
        F.col("s_suppkey").cast("bigint").alias("k1"),
        F.col("s_name").alias("s1"),
        F.col("n_name").alias("s2"),
    )
    cu = load_table(spark, sf_dir, "customer")
    f_orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    anti = cu.join(f_orders, on="c_custkey", how="left_anti").select(
        F.lit("anti").alias("kind"),
        F.col("c_custkey").cast("bigint").alias("k1"),
        F.col("c_name").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
    )
    return diff_keys.unionByName(anti)


# --- MAP-typed columns: build / lookup / explode ---------------------------
@register(
    "op_map_funcs",
    oracle="""
SELECT n_nationkey,
       n_name AS name_lookup,
       'name' AS entry_key,
       n_name AS entry_value
FROM nation
UNION ALL
SELECT n_nationkey,
       n_name AS name_lookup,
       'region' AS entry_key,
       CAST(n_regionkey AS VARCHAR) AS entry_value
FROM nation
""",
)
def op_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed column surface: build a map with ``create_map``, look a
    key up with ``element_at``, and flatten entries to rows with
    ``explode`` — the key/value datatype the other micro queries don't
    touch. The oracle produces the flattened relational form directly
    (DuckDB's MAP is a different physical type; the EXPLODED rows are
    the engine-comparable contract, which is also why the query ends
    relational: map columns don't survive a hash-compare, their entry
    rows do). All map ops are narrow — zero shuffles."""
    na = load_table(spark, sf_dir, "nation")
    mapped = na.select(
        "n_nationkey",
        F.create_map(
            F.lit("name"),
            F.col("n_name"),
            F.lit("region"),
            F.col("n_regionkey").cast("string"),
        ).alias("m"),
    )
    return mapped.select(
        "n_nationkey",
        F.element_at("m", F.lit("name")).alias("name_lookup"),
        F.explode("m").alias("entry_key", "entry_value"),
    )


# --- ARRAY set/transform functions over grouped data -----------------------
@register(
    "op_array_funcs",
    oracle="""
WITH per_order AS (
    SELECT l_orderkey,
           list_sort(list_distinct(list(l_partkey)
               FILTER (WHERE l_quantity < 25))) AS small_parts,
           list_sort(list_distinct(list(l_partkey)
               FILTER (WHERE l_quantity >= 25))) AS big_parts
    FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       COALESCE(small_parts, []) AS small_parts,
       COALESCE(big_parts, []) AS big_parts,
       list_sort(list_distinct(list_concat(COALESCE(small_parts, []),
                                           COALESCE(big_parts, []))))
           AS all_parts,
       list_sort(list_filter(COALESCE(small_parts, []),
                             x -> list_contains(COALESCE(big_parts, []), x)))
           AS both_sides,
       list_sort(list_filter(COALESCE(small_parts, []),
                             x -> NOT list_contains(COALESCE(big_parts, []), x)))
           AS small_only,
       len(COALESCE(small_parts, [])) + len(COALESCE(big_parts, []))
           AS n_entries
FROM per_order
WHERE l_orderkey < 1000
""",
)
def op_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY set algebra as first-class columns: per order, the distinct
    part sets bought in small vs large quantities, their union
    (``array_union``), intersection (``array_intersect``), and
    difference (``array_except``) — all SORTED, because set-op output
    order is engine-defined (Spark preserves first-appearance order,
    DuckDB's list ops differ) and ``array_sort`` is the canonical form
    that makes array-valued columns hash-comparable. Empty sets are
    explicit ``[]``, not null (the COALESCE mirrors collect_list's
    no-rows behavior across engines). All narrow after the one
    groupBy."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    per = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.array_distinct(
                F.collect_list(
                    F.when(F.col("l_quantity") < 25, F.col("l_partkey"))
                )
            )
        ).alias("small_parts"),
        F.array_sort(
            F.array_distinct(
                F.collect_list(
                    F.when(F.col("l_quantity") >= 25, F.col("l_partkey"))
                )
            )
        ).alias("big_parts"),
    )
    sp, bp = F.col("small_parts"), F.col("big_parts")
    return per.select(
        "l_orderkey",
        "small_parts",
        "big_parts",
        F.array_sort(F.array_union(sp, bp)).alias("all_parts"),
        F.array_sort(F.array_intersect(sp, bp)).alias("both_sides"),
        F.array_sort(F.array_except(sp, bp)).alias("small_only"),
        (F.size(sp) + F.size(bp)).cast("long").alias("n_entries"),
    )


# --- bitwise aggregate functions -------------------------------------------
@register(
    "op_bitwise_agg",
    oracle="""
SELECT o_orderpriority,
       CAST(bit_and(o_custkey) AS BIGINT) AS and_cust,
       CAST(bit_or(o_custkey) AS BIGINT) AS or_cust,
       CAST(bit_xor(o_custkey) AS BIGINT) AS xor_cust,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderkey < 4000
GROUP BY o_orderpriority
""",
)
def op_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family — ``bit_and`` / ``bit_or`` / ``bit_xor``
    per group. These are the commutative-associative primitives the
    order-insensitive manifest checksums are built on
    (``sinks/training_shards.py``'s XOR digests; mergeable across
    partitions and micro-batches by the same algebra) — this micro pins
    the aggregate surface itself. Map-side partials, |groups| output
    rows."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 4000)
    return o.groupBy("o_orderpriority").agg(
        F.expr("bit_and(o_custkey)").cast("long").alias("and_cust"),
        F.expr("bit_or(o_custkey)").cast("long").alias("or_cust"),
        F.expr("bit_xor(o_custkey)").cast("long").alias("xor_cust"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


# --- higher-order array functions, tagged into one driver-checkable frame ---
@register(
    "op_higher_order",
    oracle="""
WITH w AS (
    SELECT p_partkey,
           list_filter(string_split_regex(lower(p_type), '\\s+'),
                       x -> x != '') AS wl
    FROM part
)
SELECT 'transform' AS kind, p_partkey AS key,
       array_to_string(list_transform(wl, x -> upper(x)), ',') AS s,
       CAST(NULL AS BIGINT) AS v
FROM w
UNION ALL
SELECT 'filter_size', p_partkey, CAST(NULL AS VARCHAR),
       CAST(len(list_filter(wl, x -> length(x) > 4)) AS BIGINT)
FROM w
UNION ALL
SELECT 'aggregate', p_partkey, CAST(NULL AS VARCHAR),
       CAST(list_sum(list_transform(wl, x -> length(x))) AS BIGINT)
FROM w
UNION ALL
SELECT 'zip_with', p_partkey,
       array_to_string(
           list_transform(generate_series(1, least(len(wl), 2)),
                          i -> wl[i] || ':' || (['a', 'b'])[i]), ','),
       CAST(NULL AS BIGINT)
FROM w
UNION ALL
SELECT 'exists', p_partkey, CAST(NULL AS VARCHAR),
       CAST(CASE WHEN len(list_filter(wl, x -> x = 'standard')) > 0
                 THEN 1 ELSE 0 END AS BIGINT)
FROM w
""",
)
def op_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The higher-order array-function family — transform / filter /
    aggregate / zip_with / exists — in one tagged frame over the part
    type words. These HOFs are the backbone of the zero-shuffle
    operators here (MinHash's one-pass aggregate, shingling's indexed
    transform, chunking's slice maps); this micro pins each
    primitive's cross-engine semantics directly, including the
    truncate-to-shorter zip_with contract (Spark pads the shorter side
    with null, so the plan slices both to the shorter length first —
    the dialect difference IS the pin) and exists rendered as a
    filter-count on the DuckDB side. All narrow maps; zero shuffles
    beyond the final union.
    """
    pa = load_table(spark, sf_dir, "part")
    wl = F.filter(F.split(F.lower("p_type"), r"\s+"), lambda x: x != "")
    base = pa.select(F.col("p_partkey").cast("bigint").alias("key"), wl.alias("wl"))
    no_s = F.lit(None).cast("string").alias("s")
    no_v = F.lit(None).cast("bigint").alias("v")
    transform_leg = base.select(
        F.lit("transform").alias("kind"),
        "key",
        F.array_join(F.transform("wl", F.upper), ",").alias("s"),
        no_v,
    )
    filter_leg = base.select(
        F.lit("filter_size").alias("kind"),
        "key",
        no_s,
        F.size(F.filter("wl", lambda x: F.length(x) > 4))
        .cast("bigint")
        .alias("v"),
    )
    agg_leg = base.select(
        F.lit("aggregate").alias("kind"),
        "key",
        no_s,
        F.aggregate(
            "wl", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("v"),
    )
    b_arr = F.array(F.lit("a"), F.lit("b"))
    short = F.least(F.size(F.col("wl")), F.size(b_arr))
    zip_leg = base.select(
        F.lit("zip_with").alias("kind"),
        "key",
        F.array_join(
            F.zip_with(
                F.slice(F.col("wl"), 1, short),
                F.slice(b_arr, 1, short),
                lambda x, y: F.concat_ws(":", x, y),
            ),
            ",",
        ).alias("s"),
        no_v,
    )
    exists_leg = base.select(
        F.lit("exists").alias("kind"),
        "key",
        no_s,
        F.exists("wl", lambda x: x == F.lit("standard"))
        .cast("int")
        .cast("bigint")
        .alias("v"),
    )
    return (
        transform_leg.unionByName(filter_leg)
        .unionByName(agg_leg)
        .unionByName(zip_leg)
        .unionByName(exists_leg)
    )


# --- F6/N1/F9 + T7/D1-D3 merged: one orders projection, one driver slot ----
@register(
    "op_scalar_dates",
    oracle="""
SELECT o_orderkey,
       (o_totalprice >= 50000 AND o_totalprice < 100000) AS in_band,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
       TRY_CAST(o_orderstatus AS INT) AS status_num,
       CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 150000 THEN 'mid'
            ELSE 'high' END AS tier,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       strftime(o_orderdate, '%Y-%m-%d') AS order_iso
FROM orders
""",
)
def op_scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op_scalar_micro (F6 between / N1 try_cast / F9 when-otherwise)
    and op_dates (T7 ISO parse / D2 ts->date / D3 trunc) merged into
    ONE projection over the shared orders scan — both micro groups keep
    driver-hash pins while occupying a single capped-window slot (the
    r5 merge freeing a seat for text_classifier_trained; the individual
    micros stay registered for the local gate). Same row key, so the
    merge is column concatenation, not a tagged union."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        between_left_closed(F.col("o_totalprice"), 50000, 100000).alias(
            "in_band"
        ),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_num"),
        F.col("o_orderstatus").try_cast("int").alias("status_num"),
        F.when(F.col("o_totalprice") < 50000, F.lit("low"))
        .when(F.col("o_totalprice") < 150000, F.lit("mid"))
        .otherwise(F.lit("high"))
        .alias("tier"),
        F.to_date("o_orderdate").alias("order_date"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_iso"),
    )


# --- string-function breadth: pad/translate/repeat/reverse/split_part ------
@register(
    "op_string_funcs2",
    oracle="""
SELECT s_suppkey,
       lpad(s_name, 25, '.') AS padded_l,
       rpad(s_name, 25, '.') AS padded_r,
       translate(s_name, '#', '-') AS translated,
       repeat('ab', 3) AS repeated,
       reverse(s_name) AS reversed,
       string_split(s_name, '#')[1] AS name_head,
       string_split(s_name, '#')[-1] AS name_tail
FROM supplier
""",
)
def op_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function breadth micro: lpad / rpad / translate /
    repeat / reverse / split_part-style head+tail — the everyday
    formatting surface beyond op_strings' regex family, pinned
    cross-engine in one narrow projection (DuckDB's 1-based
    list-index split vs Spark's element_at/-1 is the dialect pin)."""
    s = load_table(spark, sf_dir, "supplier")
    parts = F.split(F.col("s_name"), "#")
    return s.select(
        "s_suppkey",
        F.lpad("s_name", 25, ".").alias("padded_l"),
        F.rpad("s_name", 25, ".").alias("padded_r"),
        F.translate("s_name", "#", "-").alias("translated"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
        F.reverse("s_name").alias("reversed"),
        F.element_at(parts, 1).alias("name_head"),
        F.element_at(parts, -1).alias("name_tail"),
    )


# --- scale lever: bucketed tables join with ZERO exchange -------------------
@register(
    "join_bucketed_colocated",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS rev_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``functions.scale.write_bucketed`` under the hard correctness
    signal: lineitem and orders are persisted as managed tables bucketed
    by orderkey into the same bucket count, then sort-merge-joined
    (``hint("merge")`` keeps AQE from substituting a broadcast at gate
    SF, where orders is trivially small) — the co-location must be
    invisible in the result (row-identical to the plain join, the
    oracle) while the read-side join plan has ZERO Exchange
    (plan-pinned in tests/test_scale.py: the one shuffle left in the
    whole query is the final groupBy on priority).

    Scale: this is the amortize-the-shuffle lever for fact⋈fact joins
    repeated across many queries — each table is exchanged ONCE at
    write time; every subsequent join on the bucket key is
    exchange-free, which at 100 TB turns the dominant cost of every
    orders⋈lineitem query into a one-time write. Revenue is summed in
    integer cents so the hash is addition-order independent. The
    returned frame is decoupled from the scratch tables
    (``functions.scale.decoupled``) so the next invocation's overwrite
    cannot strand it (the ADVICE-r13 hazard class).
    """
    from wikidatabots_spark.functions.scale import (
        bucketed,
        decoupled,
        write_bucketed,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    write_bucketed(li, "wdb_bj_lineitem", ["l_orderkey"], num_buckets=8)
    write_bucketed(o, "wdb_bj_orders", ["o_orderkey"], num_buckets=8)
    j = bucketed(spark, "wdb_bj_lineitem").hint("merge").join(
        bucketed(spark, "wdb_bj_orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return decoupled(
        j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("rev_cents"),
        )
    )


# --- scale lever: incremental maintenance of a materialized join ------------
_IJ_SPLIT = "2001-01-01"

@register(
    "join_incremental_delta",
    oracle=f"""
SELECT CASE WHEN o_orderdate >= TIMESTAMP '{_IJ_SPLIT}'
                 AND l_shipdate >= TIMESTAMP '{_IJ_SPLIT}' THEN 'dAdB'
            WHEN o_orderdate >= TIMESTAMP '{_IJ_SPLIT}' THEN 'dA'
            WHEN l_shipdate >= TIMESTAMP '{_IJ_SPLIT}' THEN 'dB'
            ELSE 'base' END AS leg,
       o_orderpriority, COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS rev_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
""",
)
def join_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a materialized equi-join under
    append-only ingest: with A = orders and B = lineitem split at
    ``_IJ_SPLIT`` into base (old) and delta (new) halves, the
    maintained join is computed as

        J = J_base(materialized)  ∪  ΔA⋈B_old  ∪  A_old⋈ΔB  ∪  ΔA⋈ΔB

    — the classic delta-join decomposition; every joined row lands in
    exactly one leg, so tagging each leg and aggregating per
    (leg, priority) makes the oracle (the full A⋈B recompute with the
    same CASE tag) verify the decomposition itself, not just the total.

    Scale: this is how a 100 TB orders⋈lineitem materialization
    absorbs a day's ingest without rescanning itself — the base⋈base
    work is paid ONCE at materialization (here ``write_bucketed``, so
    downstream orderkey joins against J stay exchange-free, the
    ``join_bucketed_colocated`` lever); each increment pays only the
    delta legs, every one a broadcast hash join with the delta on the
    small side (plan-pinned in tests/test_scale.py — zero exchanges
    until the final reaggregation). The delta legs still SCAN the base
    tables once per increment; with the base sides bucketed by the
    join key those probes bucket-prune further, but the load-bearing
    saving pinned here is never recomputing base⋈base. Revenue is
    summed in integer cents (order-independent hash); the returned
    frame is decoupled from the scratch table so the next invocation's
    overwrite cannot strand it (the ADVICE-r13 hazard class).
    """
    from wikidatabots_spark.functions.scale import (
        bucketed,
        decoupled,
        write_bucketed,
    )

    split = F.lit(_IJ_SPLIT).cast("timestamp")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    a_old = o.filter(F.col("o_orderdate") < split).drop("o_orderdate")
    a_new = o.filter(F.col("o_orderdate") >= split).drop("o_orderdate")
    b_old = li.filter(F.col("l_shipdate") < split).drop("l_shipdate")
    b_new = li.filter(F.col("l_shipdate") >= split).drop("l_shipdate")

    cols = ["l_orderkey", "o_orderpriority", "l_extendedprice", "l_discount"]
    on = F.col("l_orderkey") == F.col("o_orderkey")
    # materialize the base join once, bucketed by the join key
    write_bucketed(
        b_old.join(a_old, on).select(*cols),
        "wdb_ij_base",
        ["l_orderkey"],
        num_buckets=8,
    )

    def leg(df: DataFrame, name: str) -> DataFrame:
        return df.select(F.lit(name).alias("leg"), *cols[1:])

    base = leg(bucketed(spark, "wdb_ij_base"), "base")
    d_a = leg(b_old.join(F.broadcast(a_new), on), "dA")
    d_b = leg(F.broadcast(b_new).join(a_old, on), "dB")
    d_ab = leg(F.broadcast(b_new).join(a_new, on), "dAdB")

    j = base.unionByName(d_a).unionByName(d_b).unionByName(d_ab)
    return decoupled(
        j.groupBy("leg", "o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("rev_cents"),
        )
    )


# --- snapshot reconciliation: diff two table versions -----------------------
@register(
    "op_snapshot_diff",
    oracle="""
WITH v1 AS (
    SELECT c_custkey, c_name,
           CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal, c_mktsegment
    FROM customer
),
v2 AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 53 = 0 OR c_custkey % 124 = 0
                THEN c_name || '*' ELSE c_name END AS c_name,
           CASE WHEN c_custkey % 31 = 0 THEN c_acctbal + 100
                ELSE c_acctbal END AS c_acctbal,
           c_mktsegment
    FROM v1 WHERE c_custkey % 97 <> 0
    UNION ALL
    SELECT c_custkey + 10000000, c_name, c_acctbal, c_mktsegment
    FROM v1 WHERE c_custkey % 89 = 0
)
SELECT COALESCE(a.c_custkey, b.c_custkey) AS custkey,
       CASE WHEN a.c_custkey IS NULL THEN 'added'
            WHEN b.c_custkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       CASE WHEN a.c_custkey IS NOT NULL AND b.c_custkey IS NOT NULL
            THEN concat_ws(',',
                CASE WHEN a.c_name IS DISTINCT FROM b.c_name
                     THEN 'c_name' END,
                CASE WHEN a.c_acctbal IS DISTINCT FROM b.c_acctbal
                     THEN 'c_acctbal' END,
                CASE WHEN a.c_mktsegment IS DISTINCT FROM b.c_mktsegment
                     THEN 'c_mktsegment' END)
            ELSE '' END AS changed_cols,
       CAST(a.c_acctbal AS DECIMAL(14,2)) AS old_acctbal,
       CAST(b.c_acctbal AS DECIMAL(14,2)) AS new_acctbal
FROM v1 a FULL OUTER JOIN v2 b ON a.c_custkey = b.c_custkey
WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
   OR a.c_name IS DISTINCT FROM b.c_name
   OR a.c_acctbal IS DISTINCT FROM b.c_acctbal
   OR a.c_mktsegment IS DISTINCT FROM b.c_mktsegment
""",
)
def op_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — diff two versions of a table into
    (added / removed / changed) rows plus a per-row CHANGED-COLUMN
    mask, the audit primitive behind table-format time travel diffs
    and cross-replica anti-entropy checks. V2 is derived
    deterministically from customer (V1): keys %97 deleted, %31 get
    acctbal+100, %53 or %124 get a renamed suffix (%124 ⊂ %31·2, so
    two-column masks occur at every SF), %89 re-inserted under a +10M
    key — so both engines construct identical snapshots and the oracle
    is the same FULL OUTER JOIN in SQL.

    Semantics pins: null-safe inequality (``eqNullSafe`` vs IS
    DISTINCT FROM) drives both the row filter and the mask;
    ``concat_ws`` drops the null legs so the mask is a stable
    comma-joined list in table column order; added/removed rows get an
    empty mask rather than every-column noise.

    Scale: the diff is one co-partitioned full outer join — with both
    snapshots bucketed by key (the ``join_bucketed_colocated`` lever)
    it is exchange-free; unchanged rows (the overwhelming majority at
    100 TB) are dropped by the join-local filter BEFORE the projection,
    so only the churn survives to the output. A production variant
    short-circuits the wide compare with a per-side row hash; here the
    direct null-safe compares keep the query exactly-verifiable (a
    64-bit hash collision would silently drop a changed row).
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal"),
        "c_mktsegment",
    )
    k = F.col("c_custkey")
    v2 = (
        c.filter(k % 97 != 0)
        .withColumn(
            "c_name",
            F.when(
                (k % 53 == 0) | (k % 124 == 0),
                F.concat(F.col("c_name"), F.lit("*")),
            ).otherwise(F.col("c_name")),
        )
        .withColumn(
            "c_acctbal",
            F.when(k % 31 == 0, F.col("c_acctbal") + F.lit(100)).otherwise(
                F.col("c_acctbal")
            ),
        )
        .unionByName(
            c.filter(k % 89 == 0).select(
                (k + F.lit(10000000)).alias("c_custkey"),
                "c_name",
                F.col("c_acctbal").cast("decimal(13,2)").alias("c_acctbal"),
                "c_mktsegment",
            )
        )
    )
    a, b = c.alias("a"), v2.alias("b")
    ak, bk = F.col("a.c_custkey"), F.col("b.c_custkey")
    diffs = {
        "c_name": ~F.col("a.c_name").eqNullSafe(F.col("b.c_name")),
        "c_acctbal": ~F.col("a.c_acctbal")
        .cast("decimal(14,2)")
        .eqNullSafe(F.col("b.c_acctbal").cast("decimal(14,2)")),
        "c_mktsegment": ~F.col("a.c_mktsegment").eqNullSafe(
            F.col("b.c_mktsegment")
        ),
    }
    any_diff = diffs["c_name"] | diffs["c_acctbal"] | diffs["c_mktsegment"]
    return (
        a.join(b, ak == bk, "full_outer")
        .filter(ak.isNull() | bk.isNull() | any_diff)
        .select(
            F.coalesce(ak, bk).alias("custkey"),
            F.when(ak.isNull(), F.lit("added"))
            .when(bk.isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change_type"),
            F.when(
                ak.isNotNull() & bk.isNotNull(),
                F.concat_ws(
                    ",",
                    *[F.when(d, F.lit(n)) for n, d in diffs.items()],
                ),
            )
            .otherwise(F.lit(""))
            .alias("changed_cols"),
            F.col("a.c_acctbal").cast("decimal(14,2)").alias("old_acctbal"),
            F.col("b.c_acctbal").cast("decimal(14,2)").alias("new_acctbal"),
        )
    )


# --- scale lever: salted join over a planted hot key -------------------------
@register(
    "join_salted_hotkey",
    oracle="""
WITH fact AS (
    SELECT event_id,
           CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k
    FROM events
),
dim AS (
    SELECT DISTINCT k FROM fact
)
SELECT f.event_id, f.k,
       substr(md5(CAST(d.k AS VARCHAR)), 1, 8) AS k_label
FROM fact f JOIN dim d ON f.k = d.k
""",
)
def join_salted_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``functions.scale.salted_join`` under the hard correctness
    signal: a third of all event rows are collapsed onto key 0 (the
    planted hot key), then joined to a per-key dim through the salting
    transform — left rows scattered across 8 uniform salt values, the
    dim replicated once per salt, equi-join on (key, salt). The oracle
    is the PLAIN join: salting must be algebraically invisible
    (identity on the join result), which the hash pins row-for-row.
    The salt assignment itself is random — the pin works because
    correctness is independent of WHERE each row lands, which is
    exactly the property that makes salting safe to deploy.

    Scale: this is the extreme-skew lever for when AQE's skew split
    isn't enough — one key bigger than a single executor's memory, or
    a sort-merge side AQE won't re-split. The hot key's shuffle
    partition is spread over ``salt`` reducers at the cost of
    replicating the (small) right side xsalt. At gate SF Spark
    broadcasts the dim and the salt columns ride along unused — the
    seat pins the ALGEBRA; the plan-level skew story is pinned by
    tests/test_scale.py's AQE-skew and salted-equality tests where the
    broadcast is disabled."""
    from wikidatabots_spark.functions.scale import salted_join

    ev = load_table(spark, sf_dir, "events")
    fact = ev.select(
        "event_id",
        F.when(F.col("user_id") % 3 == 0, F.lit(0).cast("bigint"))
        .otherwise(F.col("user_id"))
        .alias("k"),
    )
    dim = fact.select("k").distinct()
    j = salted_join(fact, dim, on=["k"], salt=8, seed=14)
    return j.select(
        "event_id",
        "k",
        F.substring(F.md5(F.col("k").cast("string")), 1, 8).alias("k_label"),
    )
