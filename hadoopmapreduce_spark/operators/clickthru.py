"""The reference pipeline itself, end-to-end, on its native input format.

``run_clickthru`` is the drop-in replacement for the whole of
``/root/reference/ClickThru.java``: given directories of junk-prefixed
JSON-lines impressions and clicks, produce CTR per (referrer, adId).

The two chained MapReduce jobs (unify+existence-join, then re-key+mean —
``ClickThru.java:40-41``) collapse into one lazy DataFrame DAG: no
intermediate HDFS materialization (the reference writes and re-reads the
``combined`` directory, ``ClickThru.java:57,75``), no sentinel-string
packing (``"/x1f"``/``"/x1e"``, ``ClickThru.java:116,148``), and the
grouped mean gets map-side partial aggregation the reference never had.

Fidelity decisions (SURVEY.md §2.3):
  E1 malformed JSON  → null fields + corrupt counter (not stale-value reuse);
                       an impression without an adId is dropped as malformed
  E2 N clicks        → counted once (DISTINCT before join) — preserved
  E3 duplicate ids   → one row per id, deterministic max-payload (not
                       last-write-wins in reduce iteration order)
  E4 orphan clicks   → dropped gracefully (reference crashes, :163-167)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoopmapreduce_spark.sources.jsonlines import read_jsonlines_tolerant

IMPRESSION_SCHEMA = T.StructType(
    [
        T.StructField("impressionId", T.StringType()),
        T.StructField("referrer", T.StringType()),
        T.StructField("adId", T.StringType()),
    ]
)


def flag_impressions(
    spark: SparkSession, impressions_path: str, clicks_path: str
) -> DataFrame:
    """One row per impressionId: (impressionId, referrer, adId, clicked 0/1).

    The typed form of the reference's job-1 output (the ``combined`` dir),
    with E1-E4 applied.
    """
    # The reference feeds BOTH dirs to one mapper and sniffs provenance per
    # record by probing for a `referrer` key (ClickThru.java:111).  We read
    # them as one union and apply the same probe — path identity is not
    # trusted, exactly like the reference.
    all_rows = read_jsonlines_tolerant(
        spark, impressions_path, IMPRESSION_SCHEMA
    ).unionByName(read_jsonlines_tolerant(spark, clicks_path, IMPRESSION_SCHEMA))

    rows = all_rows.filter(F.col("impressionId").isNotNull())
    # E1: an impression without an adId is malformed — it has no CTR key
    impressions = rows.filter(
        F.col("referrer").isNotNull() & F.col("adId").isNotNull()
    ).select("impressionId", "referrer", "adId")
    # E3: duplicate impressionIds fold to one deterministic payload
    impressions = impressions.groupBy("impressionId").agg(
        F.max(F.struct("referrer", "adId")).alias("p")
    ).select("impressionId", F.col("p.referrer").alias("referrer"), F.col("p.adId").alias("adId"))
    # E2: any number of clicks on an impression counts once
    clicks = (
        rows.filter(F.col("referrer").isNull()).select("impressionId").distinct()
    )
    # E4: the left join drops clicks whose impression never appeared
    return impressions.join(
        clicks.withColumn("clicked", F.lit(1)), "impressionId", "left"
    ).select("impressionId", "referrer", "adId", F.coalesce("clicked", F.lit(0)).alias("clicked"))


def ctr_by_key(flagged: DataFrame) -> DataFrame:
    """Job 2: the mean click flag per (referrer, ad_id) as ``ctr`` double."""
    return flagged.groupBy(
        F.col("referrer"), F.col("adId").alias("ad_id")
    ).agg(F.avg("clicked").alias("ctr"))


def run_clickthru(
    spark: SparkSession, impressions_path: str, clicks_path: str
) -> DataFrame:
    """CTR per (referrer, ad_id) from JSON-lines impression/click dirs.

    Result schema: (referrer string, ad_id string, ctr double) — the typed
    form of the reference's ``[url, adID]\\t<float>`` text lines.
    """
    return ctr_by_key(flag_impressions(spark, impressions_path, clicks_path))
