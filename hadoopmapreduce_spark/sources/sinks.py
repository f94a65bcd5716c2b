"""Sinks.

Native sink is parquet (columnar, splittable, statistics for pushdown).
``write_textkv`` is the byte-fidelity twin of the reference's
TextOutputFormat shape: lines ``[<referrer>, <adId>]\\t<value>``
(``ClickThru.java:166,186-187``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_textkv(df: DataFrame, key_cols: list[str], value_col: str, path: str) -> None:
    """Write the reference's ``[k1, k2]\\tvalue`` text shape.

    The value column is cast to string as is; the CLI passes
    ``cast(cast(ctr AS float) AS string)``, Java's ``Float.toString`` form
    (pinned by ``tests/test_cli.py``).  Single text column → ``.write.text``
    keeps the sink splittable and parallel; no coalesce(1) — at scale one-file output is an
    anti-pattern, downstream readers glob the directory exactly as Hadoop's
    TextInputFormat did."""
    key = F.concat(
        F.lit("["),
        F.concat_ws(", ", *[F.col(c).cast("string") for c in key_cols]),
        F.lit("]"),
    )
    line = F.concat(key, F.lit("\t"), F.col(value_col).cast("string"))
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Parquet sink with optional hive-style partitioning (the 100 TB
    default: date/tenant partition columns enable partition pruning for
    every downstream reader)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
