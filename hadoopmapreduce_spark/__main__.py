"""Drop-in CLI for the reference pipeline.

The reference is invoked as
``hadoop jar ClickThru.jar ClickThru <impressions> <clicks> <combined> <output>``
(arity checked at ``ClickThru.java:35-39``, exit 1 on misuse; ``combined`` is
the intermediate directory job 1 materializes and job 2 re-reads).

This module is the same contract:

    python -m hadoopmapreduce_spark <impressions> <clicks> <combined> <output>

* ``<impressions>``/``<clicks>``: dirs of (junk-prefix-tolerant) JSON-lines.
* ``<combined>``: written in the reference's job-1 byte format
  (``0\\t{referrer/x1fadId/x1e<flag>`` lines), one line per impressionId
  (E3: duplicate ids fold to one), for interoperability with tooling that
  consumed the reference's intermediate — the engine itself does NOT read
  it back (one DAG, no materialization barrier).
* ``<output>``: the reference's job-2 text shape ``[url, adID]\\t<ctr>``,
  with the CTR rendered by Spark's native ``cast(cast(ctr AS float) AS
  string)``, which matches Java's ``Float.toString`` (the reference computes
  CTR in 32-bit float, ``ClickThru.java:179-186``).

Both sinks are written from the one ``operators.clickthru`` pipeline.
"""

from __future__ import annotations

import sys

_SUBCOMMAND_USAGE = """\
usage: python -m hadoopmapreduce_spark <impressions> <clicks> <combined> <out>
       python -m hadoopmapreduce_spark list
       python -m hadoopmapreduce_spark run <query_id> <sf_dir> [limit]
       python -m hadoopmapreduce_spark explain <query_id> <sf_dir>"""


def _registry_main(argv: list[str]) -> int:
    """Registry subcommands: list / run / explain over the 180+ registered
    queries — the engine as a standalone tool, beyond the reference's
    4-arg CTR contract (which stays byte-compatible below)."""
    from hadoopmapreduce_spark import registry

    registry.load_all()
    cmd = argv[0]
    if cmd == "list":
        from hadoopmapreduce_spark.registry import ORACLES, QUERIES

        for name in sorted(QUERIES):
            kind = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}\t{kind}")
        return 0
    if cmd in ("run", "explain"):
        if len(argv) < 3:
            print(_SUBCOMMAND_USAGE, file=sys.stderr)
            return 1
        name, sf_dir = argv[1], argv[2]
        from hadoopmapreduce_spark.registry import QUERIES

        if name not in QUERIES:
            print(f"unknown query id {name!r} (see `list`)", file=sys.stderr)
            return 1
        from hadoopmapreduce_spark.session import get_spark

        spark = get_spark("hmr-cli")
        df = QUERIES[name](spark, sf_dir)
        if cmd == "explain":
            from hadoopmapreduce_spark.plans import physical_plan

            print(physical_plan(df))
        else:
            limit = int(argv[3]) if len(argv) > 3 else 20
            df.show(limit, truncate=False)
        return 0
    print(_SUBCOMMAND_USAGE, file=sys.stderr)
    return 1


def main(argv: list[str]) -> int:
    if argv and argv[0] in ("list", "run", "explain"):
        return _registry_main(argv)
    if len(argv) != 4:
        print(_SUBCOMMAND_USAGE, file=sys.stderr)
        return 1
    impressions, clicks, combined, output = argv

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.operators.clickthru import ctr_by_key, flag_impressions
    from hadoopmapreduce_spark.session import get_spark
    from hadoopmapreduce_spark.sources.sinks import write_textkv

    spark = get_spark("clickthru-cli")
    flagged = flag_impressions(spark, impressions, clicks)
    flagged.select(
        F.concat(
            F.lit("0\t{"),
            F.col("referrer"),
            F.lit("/x1f"),
            F.col("adId"),
            F.lit("/x1e"),
            F.col("clicked").cast("string"),
        ).alias("value")
    ).write.mode("overwrite").text(combined)

    groups = Observation("ctr_groups")
    ctr = ctr_by_key(flagged).select(
        "referrer", "ad_id", F.col("ctr").cast("float").cast("string").alias("ctr")
    ).observe(groups, F.count(F.lit(1)).alias("n"))
    write_textkv(ctr, ["referrer", "ad_id"], "ctr", output)
    print(f"CTR written to {output} ({groups.get['n']} groups)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
