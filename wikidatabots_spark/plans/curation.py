"""Domain-mixture resampling with epochs (``corpus_mix_epochs``), and
the ``mix:`` content-hash bucket it shares with the mixture stage of the
flagship curation pipeline, ``plans.quality.curate_corpus_v8``.

No reference counterpart (north-star extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from wikidatabots_spark.plans.registry import register
from wikidatabots_spark.sources.tables import load_table

_MIX_BUCKET_SQL = """
    (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
  + (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
  + (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
  + (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
"""

# integer-weight target mixture: starve src0, 9x src1, everything else 3
_MIX_ORACLE = f"""
WITH counts AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(CASE WHEN source = 'src0' THEN 1
                     WHEN source = 'src1' THEN 9
                     ELSE 3 END AS BIGINT) AS wt
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS t, CAST(SUM(wt) AS BIGINT) AS w
    FROM counts
),
rates AS (
    SELECT source, (wt * t * 65536) // (w * cnt) AS k FROM counts, tot
),
docs AS (
    SELECT doc_id, source, {_MIX_BUCKET_SQL} AS b FROM documents
),
expanded AS (
    SELECT d.doc_id, d.source,
           r.k // 65536 + CASE WHEN d.b < r.k % 65536 THEN 1 ELSE 0 END AS n
    FROM docs d JOIN rates r USING (source)
)
SELECT doc_id, source, CAST(UNNEST(generate_series(1, n)) AS BIGINT) AS epoch
FROM expanded
WHERE n >= 1
"""


@register("corpus_mix_epochs", oracle=_MIX_ORACLE)
def corpus_mix_epochs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling with epochs: integer-weight target
    shares per source; over-represented sources are hash-down-sampled,
    under-represented ones repeat documents (epoch column). All-integer
    rate math — the oracle reproduces every copy count exactly."""
    from wikidatabots_spark.operators.mixture import mix_epochs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return mix_epochs(
        d, key="doc_id", strata="source", weights={"src0": 1, "src1": 9},
        default_weight=3,
    ).select("doc_id", "source", "epoch")
