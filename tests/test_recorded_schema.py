"""Recorded schemas: every Catalog commit record (``_commit.json``) and
semantic-cache entry record (``_entry.json``) holds the schema a parquet
read of its directory infers, and reads pass it to Spark instead of
running a schema-inference job; so does the record a directory copied
in from outside gets when the Catalog adopts it. Copies whose read must
still infer (hive-partitioned, bucketed, widened by an append) carry
none and read as before."""

from __future__ import annotations

import datetime
import decimal
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from eclipse_spark.semcache import SemanticCache
from eclipse_spark.storage import Catalog

_SCHEMA = StructType(
    [
        StructField("a", LongType(), False),
        StructField("b", DoubleType(), False),
        StructField(
            "s",
            StructType(
                [StructField("x", IntegerType(), False), StructField("y", StringType())]
            ),
            False,
        ),
        StructField("arr", ArrayType(IntegerType(), False), False),
        StructField("m", MapType(StringType(), DoubleType(), False)),
        StructField("d", DecimalType(18, 2), False, {"comment": "price"}),
        StructField("ts", TimestampType()),
    ]
)


def _rich(spark, lo: int, hi: int):
    """Rows ``lo..hi-1`` with nested struct, array and map columns, a
    decimal, a timestamp and non-nullable source columns."""
    rows = [
        (
            i,
            i * 0.5,
            (i, None if i % 2 else f"y{i}"),
            list(range(i % 4)),
            None if i % 3 == 0 else {f"k{i}": i * 1.5},
            decimal.Decimal(f"{i}.25"),
            datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"recorded_schema_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one read")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _commit(spark, cat: Catalog, kind: str) -> str:
    """Run one commit of ``kind`` over table ``t`` (rows 0-5); return
    the table it leaves to read."""
    if kind == "put":
        cat.put("t", _rich(spark, 10, 14))
    elif kind == "write":
        cat.write("t", _rich(spark, 6, 9))
    elif kind == "copied_in":
        _rich(spark, 0, 3).write.parquet(cat.path_of("c"))  # adopted on open
        return "c"
    elif kind == "write_copied_in":
        _rich(spark, 0, 3).write.parquet(cat.path_of("c"))
        cat.write("c", _rich(spark, 3, 5))
        return "c"
    elif kind == "merge":
        cat.merge("t", _rich(spark, 4, 8), on=["a"])
    elif kind == "compact":
        cat.compact("t", target_partitions=1)
    elif kind == "put_sorted":
        cat.put_sorted("t", _rich(spark, 0, 9), ["a"])
    elif kind == "put_zorder":
        cat.put_zorder("t", _rich(spark, 0, 9), ["a", "b"], partitions=2)
    elif kind == "put_many":
        cat.put_many({"t": _rich(spark, 20, 22), "u": _rich(spark, 30, 33)})
    elif kind == "branch":
        cat.branch("t", "b")
        return "b"
    elif kind == "promote":
        cat.branch("t", "b")
        cat.write("b", _rich(spark, 40, 41))
        cat.promote("b", "t")
    else:
        assert kind == "restore"
        cat.put("t", _rich(spark, 50, 52))
        cat.restore("t", cat.history("t")[-1])
    return "t"


_KINDS = [
    "put", "write", "copied_in", "write_copied_in", "merge", "compact", "put_sorted",
    "put_zorder", "put_many", "branch", "promote", "restore",
]


@pytest.fixture
def table(spark, tmp_path):
    root = str(tmp_path / "cat")
    cat = Catalog(spark, root, retain_versions=1)
    cat.put("t", _rich(spark, 0, 6).repartition(3))
    return root


@pytest.mark.parametrize("kind", _KINDS)
def test_read_after_commit_runs_no_job(spark, table, kind):
    """After every commit kind, a fresh ``Catalog`` on the root reads
    the current copy (``get``), its version directory
    (``get(version=)``) and a ``get_many`` snapshot without one Spark
    job: the record's schema replaces the footer job."""
    name = _commit(spark, Catalog(spark, table, retain_versions=1), kind)
    cat = Catalog(spark, table, retain_versions=1)
    version = cat.info(name).version
    assert _jobs(spark, lambda: cat.get(name)) == 0
    assert _jobs(spark, lambda: cat.get(name, version=version)) == 0
    assert _jobs(spark, lambda: cat.get_many([name])) == 0


def test_lookup_after_materialize_runs_no_job(spark, tmp_path):
    """An entry's first read in another session (a fresh cache object
    on the root) takes the schema from ``_entry.json``; so does the read
    ``materialize`` returns."""
    root = str(tmp_path / "cache")
    cache = SemanticCache(spark, root)
    df = _rich(spark, 0, 6)
    assert _jobs(spark, lambda: cache.materialize("fp", df)) >= 1  # the write
    cold = SemanticCache(spark, root)
    assert _jobs(spark, lambda: cold.lookup("fp")) == 0


def _rows(df) -> list[str]:
    return sorted(df.toJSON().collect())


def _same_as_inferred(spark, df, path: str) -> None:
    inferred = spark.read.parquet(path)
    assert df.schema == inferred.schema
    assert _rows(df) == _rows(inferred)


@pytest.mark.parametrize("kind", _KINDS)
def test_recorded_schema_is_the_inferred_one(spark, table, kind):
    """For every write path that records a schema, the record holds
    exactly the schema inference gives (every field nullable, nested
    types and field metadata kept), and the read with it returns the
    same schema and rows as an inferring read."""
    name = _commit(spark, Catalog(spark, table, retain_versions=1), kind)
    cat = Catalog(spark, table, retain_versions=1)
    path = cat.path_of(name)
    with open(os.path.join(path, "_commit.json")) as fh:
        recorded = json.load(fh)["schema"]
    assert StructType.fromJson(recorded) == spark.read.parquet(path).schema
    _same_as_inferred(spark, cat.get(name), path)


def test_cache_entry_schema_is_the_inferred_one(spark, tmp_path):
    cache = SemanticCache(spark, str(tmp_path / "cache"))
    cache.materialize("fp", _rich(spark, 0, 6))
    path = cache._entry_path("fp")
    with open(os.path.join(path, "_entry.json")) as fh:
        recorded = json.load(fh)["schema"]
    assert StructType.fromJson(recorded) == spark.read.parquet(path).schema
    _same_as_inferred(
        spark, SemanticCache(spark, str(tmp_path / "cache")).lookup("fp"), path
    )


def _fallback(spark, cat: Catalog, kind: str) -> str:
    """Commit a copy whose read must infer its schema; return its
    table name."""
    df = _rich(spark, 0, 6).withColumn("p", (F.col("a") % 2).cast("int"))
    if kind == "widened_append":
        cat.put("t", _rich(spark, 0, 6))
        cat.write("t", _rich(spark, 6, 8).withColumn("extra", F.lit("x")))
    elif kind == "partitioned_put":
        cat.put("t", df, partition_by=["p"])
    elif kind == "write_partitioned":
        cat.write_partitioned("t", df, ["p"])
        cat.write_partitioned("t", df, ["p"])
    else:
        assert kind == "put_bucketed"
        name = f"bucketed_{uuid.uuid4().hex[:8]}"
        cat.put_bucketed(name, _rich(spark, 0, 6), ["a"], buckets=2)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        return name
    return "t"


@pytest.mark.parametrize(
    "kind",
    ["widened_append", "partitioned_put", "write_partitioned", "put_bucketed"],
)
def test_fallback_copies_record_no_schema_and_infer(spark, tmp_path, kind):
    """Hive-partitioned and bucketed copies and an append that widens
    the schema record no schema, and
    ``get`` reads them exactly as an inferring read does (a widened
    table keeps its one-footer schema; ``get_evolved`` merges)."""
    root = str(tmp_path / "cat")
    name = _fallback(spark, Catalog(spark, root), kind)
    cat = Catalog(spark, root)
    path = cat.path_of(name)
    assert "schema" not in cat._record(path)
    _same_as_inferred(spark, cat.get(name), path)
    assert _jobs(spark, lambda: Catalog(spark, root).get(name)) >= 1


def test_entry_record_without_schema_is_still_served(spark, tmp_path):
    """An ``_entry.json`` written by older code holds only ``bytes``;
    the entry is still served, its read inferring the schema."""
    root = str(tmp_path / "cache")
    df = _rich(spark, 0, 6)
    SemanticCache(spark, root).materialize("fp", df)
    record = os.path.join(root, "fp.parquet", "_entry.json")
    with open(record) as fh:
        size = json.load(fh)["bytes"]
    with open(record, "w") as fh:
        json.dump({"bytes": size}, fh)
    cache = SemanticCache(spark, root)
    got = cache.lookup("fp")
    assert got is not None and cache.stats.hits == 1
    assert got.schema == spark.read.parquet(os.path.dirname(record)).schema
    assert _rows(got) == _rows(df)
