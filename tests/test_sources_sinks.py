"""Source/sink round-trips: parquet (native), csv, json, partitioned
parquet (pruning), and the reference-shape text-KV sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoopmapreduce_spark.catalog import load_table
from hadoopmapreduce_spark.plans import physical_plan


def test_parquet_roundtrip(spark, sf_dir, tmp_path):
    from hadoopmapreduce_spark.sources.sinks import write_parquet

    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_pq")
    write_parquet(orders, out)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    from hadoopmapreduce_spark.sources.sinks import write_parquet

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_part")
    write_parquet(orders, out, partition_by=["o_year"])
    back = spark.read.parquet(out).filter(F.col("o_year") == 1998)
    plan = physical_plan(back)
    # partition filter must prune at planning time, not post-scan
    assert "PartitionFilters: [" in plan and "o_year" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert back.count() == orders.filter(F.col("o_year") == 1998).count()


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(nation.schema).option("header", True).csv(out)
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in nation.collect()
    )


def test_json_roundtrip(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    out = str(tmp_path / "region_json")
    region.write.mode("overwrite").json(out)
    back = spark.read.schema(region.schema).json(out)
    assert back.count() == region.count()


def test_textkv_sink_shape(spark, sf_dir, tmp_path):
    from hadoopmapreduce_spark.sources.sinks import write_textkv

    df = spark.createDataFrame(
        [("u1", "a1", "5000"), ("u2", "a1", "0")], "referrer string, ad_id string, ctr_bp string"
    )
    out = str(tmp_path / "ctr_text")
    write_textkv(df, ["referrer", "ad_id"], "ctr_bp", out)
    lines = sorted(r["value"] for r in spark.read.text(out).collect())
    # the reference's job-2 output shape: "[url, adID]\tvalue" (ClickThru.java:166)
    assert lines == ["[u1, a1]\t5000", "[u2, a1]\t0"]


def test_lakehouse_stubs_raise_cleanly(spark):
    import pytest as _pytest

    from hadoopmapreduce_spark.sources import lakehouse

    with _pytest.raises(NotImplementedError, match="Delta Lake"):
        lakehouse.read_delta(spark, "/tmp/nonexistent")
    with _pytest.raises(NotImplementedError, match="Iceberg"):
        lakehouse.read_iceberg(spark, "cat.db.tbl")


def test_decode_stub_raises_cleanly():
    import pytest as _pytest

    from hadoopmapreduce_spark.operators.multimodal import decode_image_stub

    with _pytest.raises(NotImplementedError, match="PIL"):
        decode_image_stub(b"\x89PNG fake bytes")


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_orc")
    nation.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)


def test_parquet_codec_matrix(spark, sf_dir, tmp_path):
    """Compression codecs round-trip identically (snappy default, zstd for
    cold data, gzip for interop) — codec choice is a storage knob, never a
    semantics one."""
    orders = load_table(spark, sf_dir, "orders")
    expected = orders.count()
    for codec in ("snappy", "zstd", "gzip"):
        out = str(tmp_path / f"orders_{codec}")
        orders.write.mode("overwrite").option("compression", codec).parquet(out)
        assert spark.read.parquet(out).count() == expected


def test_csv_malformed_modes(spark, tmp_path):
    """CSV dirty-row handling: PERMISSIVE nulls bad fields, DROPMALFORMED
    removes the rows — the csv analogues of the tolerant JSON reader."""
    p = tmp_path / "dirty"
    p.mkdir()
    (p / "part.csv").write_text("1,alice\n2,bob\nnot_an_int,carol\n3,dave\n")
    schema = "id int, name string"
    permissive = spark.read.schema(schema).csv(str(p))
    assert permissive.count() == 4
    assert permissive.filter("id IS NULL").count() == 1
    dropped = spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(str(p))
    assert [r["name"] for r in dropped.orderBy("id").collect()] == ["alice", "bob", "dave"]


def test_textkv_python_datasource_parallel_read(spark, tmp_path):
    """The Python Data Source reads one partition per part-file and
    tolerates blank lines; values keep tabs after the FIRST separator."""
    from hadoopmapreduce_spark.sources.textkv_source import register_textkv

    d = tmp_path / "kv"
    d.mkdir()
    (d / "part-00000").write_text("[a, 1]\tx\n\n[b, 2]\ty\tz\n")
    (d / "part-00001").write_text("[c, 3]\t7\n")
    (d / "_SUCCESS").write_text("")  # non-part files are ignored
    register_textkv(spark)
    df = spark.read.format("textkv").load(str(d))
    assert df.rdd.getNumPartitions() == 2
    rows = {r["key"]: r["value"] for r in df.collect()}
    assert rows == {"[a, 1]": "x", "[b, 2]": "y\tz", "[c, 3]": "7"}


def test_textkv_writer_roundtrip_and_success_marker(spark, tmp_path):
    from hadoopmapreduce_spark.sources.textkv_source import register_textkv

    register_textkv(spark)
    out = str(tmp_path / "kvout")
    df = spark.createDataFrame(
        [("a", "1"), ("b", "2"), ("c", None)], "key string, value string"
    ).repartition(3)
    df.write.format("textkv").mode("overwrite").save(out)
    import os

    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    parts = sorted(
        f for f in os.listdir(out) if f.startswith("part-")
    )
    assert parts == [f"part-{i:05d}" for i in range(len(parts))]
    assert not [f for f in os.listdir(out) if f.startswith("_staging")]
    back = {
        (r.key, r.value)
        for r in spark.read.format("textkv").load(out).collect()
    }
    # None value is rendered as empty string by the line format
    assert back == {("a", "1"), ("b", "2"), ("c", "")}


def test_textkv_writer_overwrite_replaces_prior_output(spark, tmp_path):
    from hadoopmapreduce_spark.sources.textkv_source import register_textkv

    register_textkv(spark)
    out = str(tmp_path / "kvover")
    first = spark.createDataFrame(
        [(f"k{i}", str(i)) for i in range(100)], "key string, value string"
    ).repartition(8)
    first.write.format("textkv").mode("overwrite").save(out)
    second = spark.createDataFrame(
        [("only", "1")], "key string, value string"
    ).coalesce(1)
    second.write.format("textkv").mode("overwrite").save(out)
    rows = spark.read.format("textkv").load(out).collect()
    assert [(r.key, r.value) for r in rows] == [("only", "1")]


def test_textkv_writer_abort_leaves_no_staging(spark, tmp_path):
    from hadoopmapreduce_spark.sources.textkv_source import register_textkv

    register_textkv(spark)
    out = str(tmp_path / "kvabort")
    df = spark.createDataFrame(
        [(1,), (2,)], "n int"
    ).selectExpr("cast(n as string) as key",
                 "assert_true(n < 2, 'boom') as value")
    import pytest as _pytest

    with _pytest.raises(Exception):
        df.write.format("textkv").mode("overwrite").save(out)
    import os

    leftovers = (
        [f for f in os.listdir(out) if f.startswith("_staging")]
        if os.path.isdir(out)
        else []
    )
    assert leftovers == []


def test_textkv_writer_straggler_after_abort_writes_nothing(tmp_path, monkeypatch):
    """A task of an aborted job that reaches its write after ``abort``
    (a straggler) finds the driver-made staging dir gone: it fails and
    leaves no staging dir behind."""
    import os

    import pyarrow as pa
    import pytest as _pytest
    from pyspark import TaskContext

    from hadoopmapreduce_spark.sources.textkv_source import TextKVWriter

    class _Task:
        def partitionId(self):
            return 0

        def taskAttemptId(self):
            return 7

    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: _Task()))
    out = tmp_path / "kvstraggler"
    w = TextKVWriter({"path": str(out)}, True)
    w.abort([])
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["k"]), pa.array(["v"])], names=["key", "value"]
    )
    with _pytest.raises(FileNotFoundError):
        w.write(iter([batch]))
    assert [f for f in os.listdir(out) if f.startswith("_staging")] == []


def test_textkv_writer_rejects_wrong_schema(spark, tmp_path):
    from hadoopmapreduce_spark.sources.textkv_source import register_textkv

    register_textkv(spark)
    import pytest as _pytest

    with _pytest.raises(Exception, match="key, value"):
        spark.createDataFrame([(1, 2)], "a int, b int").write.format(
            "textkv"
        ).mode("overwrite").save(str(tmp_path / "kvbad"))


def test_textkv_arrow_path_multibyte_and_scale(spark, tmp_path):
    """The Arrow read/write path (RecordBatch reader + zero-copy buffer
    writer) is byte-accounting-sensitive: multibyte UTF-8 must round-trip
    exactly (binary_length counts BYTES, not codepoints), empty string
    keys/values survive, and a >_BATCH_ROWS partition exercises the
    multi-batch yield in the reader."""
    from hadoopmapreduce_spark.sources.textkv_source import (
        _BATCH_ROWS,
        register_textkv,
    )

    register_textkv(spark)
    out = str(tmp_path / "kvmb")
    rows = [("ä, ß", "côte"), ("日本語", "データ"), ("", ""), ("k", "ü\tv")]
    df = spark.createDataFrame(rows, "key string, value string").coalesce(1)
    df.write.format("textkv").mode("overwrite").save(out)
    back = {
        (r.key, r.value)
        for r in spark.read.format("textkv").load(out).collect()
    }
    # ("", "") writes "\t" — a non-blank line — so it round-trips too;
    # everything multibyte is byte-exact.
    assert back == {("ä, ß", "côte"), ("日本語", "データ"), ("", ""), ("k", "ü\tv")}

    # multi-batch reader: one partition with > _BATCH_ROWS lines
    big = tmp_path / "kvbig"
    big.mkdir()
    n = _BATCH_ROWS + 17
    with open(big / "part-00000", "w", encoding="utf-8") as fh:
        for i in range(n):
            fh.write(f"k{i}\t{i}\n")
    got = spark.read.format("textkv").load(str(big))
    from pyspark.sql import functions as F

    agg = got.agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("bigint")).alias("s"),
    ).collect()[0]
    assert agg["n"] == n and agg["s"] == n * (n - 1) // 2
