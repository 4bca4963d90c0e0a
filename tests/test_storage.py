"""Catalog (mrput/mrcat/mrls/mrrm/Owrite analogues, SURVEY §2.1)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from eclipse_spark.pipeline import Pipeline
from eclipse_spark.semcache import SemanticCache
from eclipse_spark.storage import Catalog


def test_put_get_ls_rm(spark, sf_smoke, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.read.parquet(f"{sf_smoke}/region.parquet")
    cat.put("region", df)
    assert cat.ls() == ["region"]
    assert cat.get("region").count() == df.count()
    assert cat.rm("region") is True
    assert cat.ls() == []
    assert cat.rm("region") is False


def test_write_appends(spark, sf_smoke, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.read.parquet(f"{sf_smoke}/region.parquet")
    cat.put("t", df)
    n = df.count()
    cat.write("t", df)  # Owrite-append
    assert cat.get("t").count() == 2 * n


def test_version_bumps(spark, sf_smoke, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.read.parquet(f"{sf_smoke}/region.parquet")
    cat.put("t", df)
    v1 = cat.info("t").version
    cat.write("t", df)
    assert cat.info("t").version == v1 + 1


def test_compact_and_sorted_layout(spark, tmp_path):
    import glob

    import pyspark.sql.functions as F

    cat = Catalog(spark, str(tmp_path / "cat2"))
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    cat.put("t", df.repartition(16))

    def part_files():
        # the layout on disk: Spark's read-side packing of small files
        # into partitions depends on the host's core count
        return glob.glob(str(tmp_path / "cat2" / "t.parquet" / "part-*.parquet"))

    assert len(part_files()) == 16
    cat.compact("t", 2)
    assert len(part_files()) <= 2
    assert cat.get("t").count() == 1000

    cat.put_sorted("t_sorted", df, sort_by=["k"], partitions=4)
    got = cat.get("t_sorted")
    assert got.count() == 1000
    # range-partitioned + sorted: every file holds one contiguous range
    part = got.withColumn("_p", F.spark_partition_id()).groupBy("_p").agg(
        (F.max("k") - F.min("k") + 1 == F.count("*")).alias("contig")
    )
    assert all(r["contig"] for r in part.collect())


def test_merge_upsert_and_delete(spark, tmp_path):
    import pyspark.sql.functions as F

    cat = Catalog(spark, str(tmp_path / "cat3"))
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("v")
    )
    cat.put("m", base)
    v0 = cat.info("m").version

    # upsert: k 0-4 replaced with v = -1, k 100-102 inserted
    upd = (
        spark.range(0, 5)
        .select(F.col("id").alias("k"), F.lit(-1).cast("long").alias("v"))
        .unionByName(
            spark.range(100, 103).select(
                F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
            )
        )
    )
    cat.merge("m", upd, on=["k"])
    got = {r["k"]: r["v"] for r in cat.get("m").collect()}
    assert len(got) == 13
    assert all(got[k] == -1 for k in range(5))
    assert all(got[k] == k * 100 for k in range(5, 10))
    assert all(got[k] == 7 for k in (100, 101, 102))
    assert cat.info("m").version == v0 + 1

    # delete_matched: drop the inserted keys
    dels = spark.range(100, 103).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    cat.merge("m", dels, on=["k"], delete_matched=True)
    assert sorted(r["k"] for r in cat.get("m").collect()) == list(range(10))
    # no staging directory survives the swap
    leftovers = [f for f in (tmp_path / "cat3").iterdir() if ".tmp." in f.name]
    assert leftovers == []


def test_zorder_layout_clusters_both_columns(spark, tmp_path):
    """Z-order files must cover tight ranges of BOTH dimensions, where
    a single-key sorted layout only clusters its leading key. Metric:
    mean per-file (max-min)/global-span per column, from parquet
    footer stats via pyarrow — the same stats scans prune on."""
    import glob

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    cat = Catalog(spark, str(tmp_path / "catz"))
    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        (F.floor(F.col("id") / 128)).alias("y"),
    )

    def spans(path, col_idx):
        fracs = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            mn = min(md.row_group(i).column(col_idx).statistics.min
                     for i in range(md.num_row_groups))
            mx = max(md.row_group(i).column(col_idx).statistics.max
                     for i in range(md.num_row_groups))
            fracs.append((mx - mn) / 127.0)
        return sum(fracs) / len(fracs)

    pz = cat.put_zorder("z", df, ["x", "y"], partitions=16)
    ps = cat.put_sorted("s", df, sort_by=["x"], partitions=16)

    # z-order: both dims clustered (each file sees a fraction of each)
    assert spans(pz, 0) < 0.6 and spans(pz, 1) < 0.6, (spans(pz, 0), spans(pz, 1))
    # leading-key sort: x tight but y spans ~everything per file
    assert spans(ps, 0) < 0.2
    assert spans(ps, 1) > 0.9
    assert cat.get("z").count() == n


# -- time travel ------------------------------------------------------

def test_time_travel_snapshots_and_restore(spark, tmp_path):
    from eclipse_spark.storage import Catalog

    cat = Catalog(spark, str(tmp_path / "tt"), retain_versions=2)
    df1 = spark.range(3).withColumnRenamed("id", "x")
    df2 = spark.range(5).withColumnRenamed("id", "x")
    df3 = spark.range(7).withColumnRenamed("id", "x")

    cat.put("t", df1)                       # current v1
    assert cat.history("t") == []
    cat.put("t", df2)                       # current v2, snapshot v1
    cat.put("t", df3)                       # current v3, snapshots v1,v2
    assert cat.history("t") == [1, 2]
    assert cat.get("t").count() == 7
    assert cat.get("t", version=3).count() == 7  # the current version too
    assert cat.get("t", version=1).count() == 3
    assert cat.get("t", version=2).count() == 5

    # retention budget: a fourth write prunes v1
    cat.put("t", df1)
    assert cat.history("t") == [2, 3]

    # rollback is itself a versioned write
    v_before = cat.info("t").version
    cat.restore("t", version=2)
    assert cat.get("t").count() == 5
    assert cat.info("t").version == v_before + 1

    # snapshots are invisible to ls(); rm removes them
    assert cat.ls() == ["t"]
    assert cat.rm("t")
    assert cat.history("t") == []
    assert cat.ls() == []


def test_time_travel_off_keeps_old_behavior(spark, tmp_path):
    from eclipse_spark.storage import Catalog

    cat = Catalog(spark, str(tmp_path / "plain"))
    cat.put("t", spark.range(3))
    cat.put("t", spark.range(5))
    assert cat.history("t") == []
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        cat.get("t", version=1)


def test_time_travel_merge_retires_snapshot(spark, tmp_path):
    from pyspark.sql import functions as F

    from eclipse_spark.storage import Catalog

    cat = Catalog(spark, str(tmp_path / "m"), retain_versions=1)
    base = spark.range(4).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    cat.put("t", base)
    upd = spark.createDataFrame([(1, "new"), (9, "new")], ["k", "v"])
    cat.merge("t", upd, on=["k"])
    cur = {(r["k"], r["v"]) for r in cat.get("t").collect()}
    assert cur == {(0, "old"), (2, "old"), (3, "old"), (1, "new"), (9, "new")}
    snap = {(r["k"], r["v"]) for r in cat.get("t", version=1).collect()}
    assert snap == {(0, "old"), (1, "old"), (2, "old"), (3, "old")}


def test_table_diff_classifies_null_transitions(spark, tmp_path):
    from eclipse_spark.storage import Catalog, table_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d")], "k bigint, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (5, "e")], "k bigint, v string"
    )
    got = {
        (r.change_type, r.k): r.v for r in table_diff(old, new, ["k"]).collect()
    }
    # 1 unchanged (no row); 2: NULL->value update; 3: value->NULL update;
    # 4 deleted; 5 inserted
    assert got == {
        ("update_preimage", 2): None,
        ("update_postimage", 2): "b",
        ("update_preimage", 3): "c",
        ("update_postimage", 3): None,
        ("delete", 4): "d",
        ("insert", 5): "e",
    }

    cat = Catalog(spark, str(tmp_path / "cdc"), retain_versions=2)
    cat.put("t", old)
    cat.put("t", new)
    assert cat.diff("t", from_version=1, on=["k"]).count() == 6
    assert cat.diff("t", from_version=1, to_version=2, on=["k"]).count() == 6
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cat.diff("t", from_version=1, on=[])


def test_table_diff_schema_mismatch_raises(spark):
    from eclipse_spark.storage import table_diff
    import pytest as _pytest

    a = spark.createDataFrame([(1, "x")], "k bigint, v string")
    b = spark.createDataFrame([(1, 2.0)], "k bigint, w double")
    with _pytest.raises(ValueError):
        table_diff(a, b, ["k"])


def test_vacuum_prunes_old_snapshots(spark, tmp_path):
    from eclipse_spark.storage import Catalog

    cat = Catalog(spark, str(tmp_path / "vac"), retain_versions=5)
    df = spark.range(3)
    for _ in range(4):
        cat.put("t", df)
    assert cat.history("t") == [1, 2, 3]
    assert cat.vacuum("t", keep=1) == 2  # drop v1, v2
    assert cat.history("t") == [3]
    assert cat.get("t", version=3).count() == 3  # survivor still readable
    assert cat.vacuum(keep=0) == 1  # all-tables, drop everything retained
    assert cat.history("t") == []


def test_get_evolved_merges_widened_schema(spark, tmp_path):
    from eclipse_spark.storage import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    v1 = spark.createDataFrame([(1, "a")], ["k", "s"])
    v2 = spark.createDataFrame([(2, "b", 9.5)], ["k", "s", "x"])
    cat.write("t", v1)
    cat.write("t", v2)
    rows = {r.k: r for r in cat.get_evolved("t").collect()}
    assert set(cat.get_evolved("t").columns) == {"k", "s", "x"}
    assert rows[1].x is None and rows[2].x == 9.5


def _crash(*_args):
    raise RuntimeError("injected crash")


def test_put_many_atomic_publish_and_roll_forward(spark, tmp_path, monkeypatch):
    """Multi-table commit: both tables land with bumped versions and
    the journal clears. A writer that dies after the journal (the
    commit point) but before the link swaps is rolled forward by the
    next session — both tables publish at the journaled versions; one
    that dies after claiming every version but before the journal
    changes nothing, not even for a table it would have created, and
    the next commit replaces its claims."""
    import json

    root = str(tmp_path / "cat")
    cat = Catalog(spark, root, retain_versions=1)
    cat.put("fact", spark.range(5).withColumnRenamed("id", "v"))
    v0 = cat.info("fact").version

    # happy path: fact + dim publish together
    cat.put_many(
        {
            "fact": spark.range(10).withColumnRenamed("id", "v"),
            "dim": spark.range(3).withColumnRenamed("id", "k"),
        }
    )
    assert cat.get("fact").count() == 10 and cat.get("dim").count() == 3
    assert cat.info("fact").version == v0 + 1
    assert not os.path.exists(cat._journal)

    # crash AFTER the commit point: journal written, no link swapped
    staged = {
        "fact": cat.info("fact").version + 1,
        "dim": cat.info("dim").version + 1,
    }
    monkeypatch.setattr(Catalog, "_publish", _crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        cat.put_many(
            {
                "fact": spark.range(20).withColumnRenamed("id", "v"),
                "dim": spark.range(7).withColumnRenamed("id", "k"),
            }
        )
    monkeypatch.undo()
    with open(cat._journal) as fh:
        assert json.load(fh) == staged
    cat2 = Catalog(spark, root, retain_versions=1)  # next session
    assert cat2.get("fact").count() == 20 and cat2.get("dim").count() == 7
    assert cat2.info("fact").version == staged["fact"]
    assert cat2.info("dim").version == staged["dim"]
    assert not os.path.exists(cat2._journal)

    # crash BEFORE the commit point: both versions claimed, the journal
    # cut short
    dump = json.dump

    def torn_journal(obj, fh):
        if set(obj) == {"fact", "dim", "newdim"}:
            fh.write(json.dumps(obj)[:9])
            raise RuntimeError("injected crash")
        dump(obj, fh)

    monkeypatch.setattr(json, "dump", torn_journal)
    with pytest.raises(RuntimeError, match="injected crash"):
        cat2.put_many(
            {"fact": spark.range(99), "dim": spark.range(98), "newdim": spark.range(97)}
        )
    monkeypatch.undo()
    assert os.path.isdir(cat2._version_path("newdim", 1))  # claimed, no link
    cat3 = Catalog(spark, root, retain_versions=1)
    assert cat3.get("fact").count() == 20  # unchanged
    assert cat3.info("fact").version == staged["fact"]
    assert cat3.get("dim").count() == 7
    assert cat3.info("dim").version == staged["dim"]
    assert not cat3.exists("newdim") and cat3.info("newdim").version == 0
    with pytest.raises(AnalysisException):
        cat3.get("newdim")
    with pytest.raises(AnalysisException):
        cat3.get_many(["fact", "newdim"])

    # the next commits replace the unpublished claims
    cat3.put_many(
        {
            "fact": spark.range(4).withColumnRenamed("id", "v"),
            "dim": spark.range(2),
            "newdim": spark.range(1),
        }
    )
    assert cat3.info("fact").version == staged["fact"] + 1
    assert cat3.get("fact").count() == 4 and cat3.get("dim").count() == 2
    assert cat3.info("newdim").version == 1 and cat3.get("newdim").count() == 1
    assert sorted(os.listdir(root)) == sorted(
        [
            "newdim.parquet",
            "newdim.parquet.v1",
            *(
                f"{n}.parquet{v}"
                for n in ("fact", "dim")
                for v in ("", f".v{staged[n]}", f".v{staged[n] + 1}")
            ),
        ]
    )


def test_put_many_retention_off_overwrites_existing(spark, tmp_path):
    """ADVICE r7 (medium): with retain_versions=0 (the default), an
    overwrite of an existing table once failed after the journal commit
    point and left the catalog root unopenable. Both put_many and
    put(marker=...) must succeed on existing tables with retention off
    and leave no staging garbage behind."""
    import os

    from eclipse_spark.storage import Catalog

    root = str(tmp_path / "cat")
    cat = Catalog(spark, root)  # retain_versions=0
    cat.put("fact", spark.range(5).withColumnRenamed("id", "v"))
    cat.put("dim", spark.range(2).withColumnRenamed("id", "k"))

    cat.put_many(
        {
            "fact": spark.range(10).withColumnRenamed("id", "v"),
            "dim": spark.range(3).withColumnRenamed("id", "k"),
        }
    )
    assert cat.get("fact").count() == 10 and cat.get("dim").count() == 3

    # put with a marker on an existing table takes the same staged path
    cat.put("fact", spark.range(7).withColumnRenamed("id", "v"),
            marker={"batch": 1})
    assert cat.get("fact").count() == 7
    assert cat.read_marker("fact") == {"batch": 1}

    leftovers = [f for f in os.listdir(root)
                 if f.endswith(".old") or f.endswith(".tmp")]
    assert leftovers == []
    # and the catalog stays openable
    cat2 = Catalog(spark, root)
    assert cat2.get("fact").count() == 7


def test_get_many_snapshot_across_put_many(spark, tmp_path, monkeypatch):
    """A reader that lands after a ``put_many`` writer died mid-swap
    (the journal exists, one table's link swapped, the other not) must
    see all-old or all-new: get_many reads the journaled versions and
    returns the all-new vector, writing nothing; the next session
    rolls the commit forward. Without a pending commit it returns the
    current vector unchanged."""
    root = str(tmp_path / "cat")
    cat = Catalog(spark, root, retain_versions=1)
    cat.put_many(
        {
            "fact": spark.range(10).withColumnRenamed("id", "v"),
            "dim": spark.range(3).withColumnRenamed("id", "k"),
        }
    )

    # quiescent read: current versions
    dfs = cat.get_many(["fact", "dim"])
    assert dfs["fact"].count() == 10 and dfs["dim"].count() == 3

    # the writer dies after swapping dim (names swap in sorted order)
    # and before swapping fact: the mixed window put_many documents
    staged = {
        "fact": cat.info("fact").version + 1,
        "dim": cat.info("dim").version + 1,
    }
    publish = Catalog._publish

    def crash_on_fact(self, name, version):
        if name == "fact":
            raise RuntimeError("injected crash")
        publish(self, name, version)

    monkeypatch.setattr(Catalog, "_publish", crash_on_fact)
    with pytest.raises(RuntimeError, match="injected crash"):
        cat.put_many(
            {
                "fact": spark.range(20).withColumnRenamed("id", "v"),
                "dim": spark.range(7).withColumnRenamed("id", "k"),
            }
        )
    monkeypatch.undo()
    assert cat.get("fact").count() == 10 and cat.get("dim").count() == 7

    before = sorted(os.listdir(root))
    dfs = cat.get_many(["fact", "dim"])  # must NOT see fact=10/dim=7
    assert dfs["fact"].count() == 20 and dfs["dim"].count() == 7
    assert sorted(os.listdir(root)) == before  # a read writes nothing

    cat2 = Catalog(spark, root, retain_versions=1)  # next session
    assert not os.path.exists(cat2._journal)
    assert cat2.info("fact").version == staged["fact"]
    assert cat2.info("dim").version == staged["dim"]
    assert cat2.get("fact").count() == 20


def test_compact_rewrites_small_files(spark, tmp_path):
    """48-way fragmented table compacts to ceil(bytes/target)=1 file;
    content is row-identical, the version bumps (a compaction is a
    visible write), and with retention on the pre-compaction layout
    survives as a readable snapshot."""
    import glob

    cat = Catalog(spark, str(tmp_path / "cat"), retain_versions=1)
    df = spark.range(0, 5000).selectExpr("id", "id % 7 AS grp")
    cat.put("t", df.repartition(12))
    before, after = cat.compact("t", target_file_mb=64)
    assert before == 12 and after == 1
    assert len(glob.glob(str(tmp_path / "cat" / "t.parquet" / "*.parquet"))) == 1
    assert cat.info("t").version == 2
    got = sorted(r["id"] for r in cat.get("t").collect())
    assert got == list(range(5000))
    # pre-compaction snapshot: same rows, old 12-file layout
    snap = cat.get("t", version=1)
    assert snap.count() == 5000
    assert (
        len(glob.glob(str(tmp_path / "cat" / "t.parquet.v1" / "*.parquet")))
        == 12
    )


def test_compact_preserves_hive_partitions(spark, tmp_path):
    """A hive-partitioned table keeps its partitionBy layout through
    compaction: partition directories survive, per-partition file
    count drops to the coalesce target, rows round-trip."""
    import glob
    import os

    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.range(0, 3000).selectExpr("id", "CAST(id % 3 AS INT) AS p")
    cat.put("t", df.repartition(8), partition_by=["p"])
    root = tmp_path / "cat" / "t.parquet"
    assert len(glob.glob(str(root / "p=1" / "*.parquet"))) == 8
    before, after = cat.compact("t", target_file_mb=64)
    assert before == 24 and after == 3  # one file per partition value
    assert sorted(
        d for d in os.listdir(root) if d.startswith("p=")
    ) == ["p=0", "p=1", "p=2"]
    assert len(glob.glob(str(root / "p=1" / "*.parquet"))) == 1
    got = cat.get("t")
    assert got.count() == 3000
    assert sorted(r["p"] for r in got.select("p").distinct().collect()) == [
        0, 1, 2,
    ]


def test_compact_carries_commit_marker(spark, tmp_path):
    """The _commit.json marker committed with the data survives a
    compaction — idempotent sinks keyed on it must not mistake the
    layout rewrite for a replayed or missing batch."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.range(0, 100).selectExpr("id")
    cat.put("t", df.repartition(4), marker={"batch_id": 7})
    cat.compact("t", target_file_mb=64)
    assert cat.read_marker("t") == {"batch_id": 7}
    assert cat.get("t").count() == 100


# -- commit records: the version is published with the data ----------

def _ids(df) -> list[int]:
    return sorted(r[0] for r in df.collect())


def test_rm_then_reput_misses_cached_pipeline(spark, tmp_path):
    """rm + re-put restarts the version count, but the new copy's
    commit id is fresh, so a cached pipeline over the table misses and
    serves the new rows."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cache = SemanticCache(spark, str(tmp_path / "cache"))

    def run():
        return Pipeline.from_table(cat, "t").cached(cache).run()

    cat.put("t", spark.range(0, 3))
    assert run()[1] is False
    out, hit = run()
    assert _ids(out) == [0, 1, 2] and hit is True
    first = cat.info("t")

    assert cat.rm("t")
    cat.put("t", spark.range(100, 103))
    out, hit = run()
    assert _ids(out) == [100, 101, 102] and hit is False
    assert cat.info("t").version == first.version == 1
    assert cat.info("t").commit != first.commit


def test_two_catalogs_on_one_root_see_each_others_commits(spark, tmp_path):
    """Versions live on disk, not in the Catalog object: two catalogs
    opened on one root before either writes agree on every commit, and
    a pipeline cached through one misses after the other commits."""
    root = str(tmp_path / "cat")
    a, b = Catalog(spark, root), Catalog(spark, root)
    cache = SemanticCache(spark, str(tmp_path / "cache"))

    def run():
        return Pipeline.from_table(a, "t").cached(cache).run()

    a.put("t", spark.range(0, 3))
    assert run()[1] is False
    b.put("t", spark.range(10, 13))
    assert a.info("t").version == b.info("t").version == 2
    assert a.info("t").commit == b.info("t").commit
    out, hit = run()
    assert _ids(out) == [10, 11, 12] and hit is False

    a.write("t", spark.range(20, 21))
    assert b.info("t").version == 3
    assert _ids(b.get("t")) == [10, 11, 12, 20]


def test_crash_before_publish_rename_keeps_old_version(spark, tmp_path, monkeypatch):
    """A commit that dies after staging its copy but before claiming a
    version leaves the old data under the old version and commit id, so
    a cached pipeline's hit stays correct; the failed writer removes its
    staging directory, and the next commit publishes the next version."""
    root = str(tmp_path / "cat")
    cat = Catalog(spark, root)
    cache = SemanticCache(spark, str(tmp_path / "cache"))
    cat.put("t", spark.range(0, 3))
    before = cat.info("t")

    monkeypatch.setattr(Catalog, "_claim", _crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        cat.put("t", spark.range(100, 103))
    monkeypatch.undo()
    assert sorted(os.listdir(root)) == ["t.parquet", f"t.parquet.v{before.version}"]

    cat2 = Catalog(spark, root)  # the next session
    assert cat2.info("t").version == before.version
    assert cat2.info("t").commit == before.commit
    assert _ids(cat2.get("t")) == [0, 1, 2]

    def run():
        return Pipeline.from_table(cat2, "t").cached(cache).run()

    assert run()[1] is False
    out, hit = run()
    assert _ids(out) == [0, 1, 2] and hit is True

    cat2.put("t", spark.range(100, 103))
    assert cat2.info("t").version == before.version + 1
    assert sorted(os.listdir(root)) == ["t.parquet", f"t.parquet.v{before.version + 1}"]
    out, hit = run()
    assert _ids(out) == [100, 101, 102] and hit is False


@pytest.mark.parametrize("retain", [0, 1])
@pytest.mark.parametrize("via", ["put", "put_many"])
def test_crash_before_link_swap_keeps_current_version(
    spark, tmp_path, monkeypatch, retain, via
):
    """A commit that dies after claiming ``v<N+1>`` but before swapping
    the link leaves version N current, rows and commit id included. The
    next commit — a plain put, or put_many's roll-forward in the next
    session, whose journal was written — publishes N+1, keeps N as its
    snapshot with retention on, and leaves only the link and retained
    version directories behind."""
    root = str(tmp_path / "cat")
    cat = Catalog(spark, root, retain_versions=retain)
    cat.put("t", spark.range(0, 3))
    cat.put("t", spark.range(10, 13))
    before = cat.info("t")

    monkeypatch.setattr(Catalog, "_publish", _crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        if via == "put":
            cat.put("t", spark.range(100, 103))
        else:
            cat.put_many({"t": spark.range(100, 103)})
    monkeypatch.undo()
    assert os.path.isdir(cat._version_path("t", before.version + 1))  # claimed
    assert cat.info("t").version == before.version
    assert cat.info("t").commit == before.commit
    assert _ids(cat.get("t")) == [10, 11, 12]

    if via == "put":
        cat.put("t", spark.range(100, 103))
    else:
        cat = Catalog(spark, root, retain_versions=retain)  # rolls forward
    assert cat.info("t").version == before.version + 1
    assert _ids(cat.get("t")) == [100, 101, 102]
    if retain:
        assert cat.history("t") == [before.version]
        assert _ids(cat.get("t", version=before.version)) == [10, 11, 12]
    kept = [before.version] * retain + [before.version + 1]
    assert sorted(os.listdir(root)) == ["t.parquet", *(f"t.parquet.v{v}" for v in kept)]


def test_concurrent_appends_keep_every_row(spark, tmp_path):
    """Two writers, each with its own ``Catalog`` on one root, append
    6 batches of 1,000 rows each to a 1,000-row table, starting every
    batch together. Every row survives, nothing raises, and the
    versions are distinct and contiguous: version k holds 1,000 * k
    rows."""
    import threading

    root = str(tmp_path / "cat")
    Catalog(spark, root).put("t", spark.range(1000))
    start = threading.Barrier(2)
    errors = []

    def writer():
        cat = Catalog(spark, root, retain_versions=12)
        for _ in range(6):
            start.wait()
            try:
                cat.write("t", spark.range(1000))
            except Exception as exc:  # noqa: BLE001 - reported below
                errors.append(repr(exc))

    threads = [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    cat = Catalog(spark, root)
    assert cat.info("t").version == 13
    assert cat.get("t").count() == 13_000
    assert [cat.get("t", version=v).count() for v in range(1, 14)] == [
        1000 * v for v in range(1, 14)
    ]
    assert sorted(os.listdir(root)) == sorted(
        ["t.parquet", *(f"t.parquet.v{v}" for v in range(1, 14))]
    )


def _dead_pid() -> int:
    import subprocess

    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_commit_removes_dead_writers_staging(spark, tmp_path):
    """A writer killed mid-commit leaves ``<name>.parquet.tmp.<pid>.<uuid>``
    behind; the next commit on the root removes it once that pid has
    exited, and leaves a live writer's staging alone."""
    import uuid

    root = tmp_path / "cat"
    cat = Catalog(spark, str(root))
    cat.put("t", spark.range(3))
    dead = root / f"t.parquet.tmp.{_dead_pid()}.{uuid.uuid4().hex}"
    live = root / f"u.parquet.tmp.{os.getpid()}.{uuid.uuid4().hex}"
    for d in (dead, live):
        spark.range(2).write.parquet(str(d))
    cat.write("t", spark.range(3))
    assert not dead.exists() and live.exists()
    assert cat.get("t").count() == 6


# -- the memoised read: reused per commit, fresh after every commit ----


def _mutate(cat: Catalog, spark, op: str) -> list[int]:
    """Apply one mutation to table ``t`` (rows 0-2, previous version
    rows 10-12, branch ``b`` rows 30-32); return the rows it leaves."""
    if op == "put":
        cat.put("t", spark.range(100, 103))
        return [100, 101, 102]
    if op == "write":
        cat.write("t", spark.range(3, 5))
        return [0, 1, 2, 3, 4]
    if op == "rm_put":
        cat.rm("t")
        cat.put("t", spark.range(200, 202))
        return [200, 201]
    if op == "compact":
        assert cat.compact("t", target_partitions=1)[0] > 1
        return [0, 1, 2]
    if op == "restore":
        cat.restore("t", cat.history("t")[-1])
        return [10, 11, 12]
    assert op == "promote"
    cat.promote("b", "t")
    return [30, 31, 32]


@pytest.mark.parametrize(
    "op", ["put", "write", "rm_put", "compact", "restore", "promote"]
)
def test_memoised_read_follows_every_commit(spark, tmp_path, op):
    """``get`` reuses one DataFrame while the table is unchanged; after
    any commit the next ``get`` and the next cached run return the new
    rows (a compaction deletes the files the old read listed), and the
    memo holds one read per table."""
    cat = Catalog(spark, str(tmp_path / "cat"), retain_versions=1)
    cache = SemanticCache(spark, str(tmp_path / "cache"))
    cat.put("t", spark.range(10, 13))
    cat.put("t", spark.range(0, 3).repartition(3))
    cat.branch("t", "b")
    cat.put("b", spark.range(30, 33))

    def run():
        return Pipeline.from_table(cat, "t").cached(cache).run()

    held = cat.get("t")
    assert cat.get("t") is held and _ids(held) == [0, 1, 2]
    assert run()[1] is False and run()[1] is True

    want = _mutate(cat, spark, op)
    fresh = cat.get("t")
    assert fresh is not held and _ids(fresh) == want
    assert cat.get("t") is fresh and list(cat._reads) == ["t"]
    out, hit = run()
    assert _ids(out) == want and hit is False


def test_memoised_read_follows_commit_by_second_catalog(spark, tmp_path):
    """A commit made through another ``Catalog`` on the same root moves
    the commit id this catalog's memo is keyed on."""
    root = str(tmp_path / "cat")
    a, b = Catalog(spark, root), Catalog(spark, root)
    cache = SemanticCache(spark, str(tmp_path / "cache"))
    a.put("t", spark.range(0, 3))

    def run():
        return Pipeline.from_table(a, "t").cached(cache).run()

    assert _ids(a.get("t")) == [0, 1, 2]
    assert run()[1] is False and run()[1] is True
    b.put("t", spark.range(10, 13))
    assert _ids(a.get("t")) == [10, 11, 12]
    out, hit = run()
    assert _ids(out) == [10, 11, 12] and hit is False


def test_memoised_read_follows_recordless_directory_replace(spark, tmp_path):
    """A directory dropped in where the link was replaces the table: the
    next read adopts it as the next version with a new commit id, so
    the memo and the scan key move, a cached run misses, and the old
    version's read is not served again."""
    root = str(tmp_path / "cat")
    cat = Catalog(spark, root)
    cache = SemanticCache(spark, str(tmp_path / "cache"))
    spark.range(0, 3).write.parquet(cat.path_of("t"))
    first = cat.info("t")  # adopted on this first read
    assert first.version == 0 and first.commit

    def run():
        return Pipeline.from_table(cat, "t").cached(cache).run()

    assert _ids(cat.get("t")) == [0, 1, 2]
    assert run()[1] is False and run()[1] is True

    staging = os.path.join(root, "incoming")
    spark.range(10, 13).write.parquet(staging)
    os.unlink(cat.path_of("t"))
    os.rename(staging, cat.path_of("t"))
    assert _ids(cat.get("t")) == [10, 11, 12]
    second = cat.info("t")
    assert second.version == 1 and second.commit not in ("", first.commit)
    out, hit = run()
    assert _ids(out) == [10, 11, 12] and hit is False

    cat.write("t", spark.range(20, 21))
    assert cat.info("t").version == 2
    assert _ids(cat.get("t")) == [10, 11, 12, 20]
    assert sorted(os.listdir(root)) == ["t.parquet", "t.parquet.v2"]


# -- one table identity: adoption and the held-read rule ----------------


def test_held_read_keeps_its_version_until_pruned(spark, tmp_path):
    """``get`` reads the version directory the link names, so a DataFrame
    held across a ``put`` still returns the rows it was read at while
    retention keeps that version, and fails once it is pruned."""
    cat = Catalog(spark, str(tmp_path / "cat"), retain_versions=1)
    cat.put("t", spark.range(0, 3))
    held = cat.get("t")
    cat.put("t", spark.range(10, 13))
    assert _ids(held) == [0, 1, 2]
    assert _ids(cat.get("t")) == [10, 11, 12]
    cat.put("t", spark.range(20, 23))  # prunes version 1
    with pytest.raises(Exception):
        _ids(held)


def test_directory_copied_in_before_open_is_adopted(spark, tmp_path):
    """A directory copied into the root before ``Catalog`` opens becomes
    a link to ``v0``, whose record has a commit id and the inferred
    schema; a second ``Catalog`` on the root then reads it without one
    Spark job."""
    import json

    from pyspark.sql.types import StructType
    from test_recorded_schema import _jobs

    root = tmp_path / "cat"
    spark.range(0, 3).write.parquet(str(root / "t.parquet"))
    cat = Catalog(spark, str(root))
    assert os.readlink(cat.path_of("t")) == "t.parquet.v0"
    with open(os.path.join(cat._version_path("t", 0), Catalog._RECORD)) as fh:
        rec = json.load(fh)
    assert rec["version"] == 0 and len(rec["commit"]) == 32
    assert StructType.fromJson(rec["schema"]) == spark.read.parquet(str(root / "t.parquet")).schema
    assert cat.info("t").version == 0 and cat.info("t").commit == rec["commit"]

    second = Catalog(spark, str(root))
    assert _jobs(spark, lambda: second.get("t")) == 0
    assert _ids(second.get("t")) == [0, 1, 2]
    cat.write("t", spark.range(3, 4))
    assert cat.info("t").version == 1 and _ids(second.get("t")) == [0, 1, 2, 3]


@pytest.mark.parametrize("read", ["get", "get_many", "info", "from_table"])
def test_directory_copied_in_after_open_is_adopted_on_first_read(
    spark, tmp_path, read
):
    """A directory copied in after ``Catalog`` opened is adopted by the
    first read that meets it, whichever read that is, and every later
    read goes to its version directory."""
    root = str(tmp_path / "cat")
    cat = Catalog(spark, root)
    spark.range(0, 3).write.parquet(cat.path_of("t"))
    assert not os.path.islink(cat.path_of("t"))
    if read == "get":
        assert _ids(cat.get("t")) == [0, 1, 2]
    elif read == "get_many":
        assert _ids(cat.get_many(["t"])["t"]) == [0, 1, 2]
    elif read == "info":
        assert cat.info("t").version == 0
    else:
        assert _ids(Pipeline.from_table(cat, "t").to_df()) == [0, 1, 2]
    assert os.readlink(cat.path_of("t")) == "t.parquet.v0"
    assert cat.info("t").commit == cat._resolve("t")[0] != ""
    assert sorted(os.listdir(root)) == ["t.parquet", "t.parquet.v0"]


def test_adoption_touches_only_the_tables_in_play(spark, tmp_path):
    """A commit adopts only the tables it commits to: a directory copied
    in after open stays as it is through another table's commit, and
    the next ``Catalog`` to open adopts it. A directory Spark cannot
    read is adopted with no schema and blocks nothing else on the root;
    only its own read fails."""
    root = tmp_path / "cat"
    bad = root / "bad.parquet"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    cat = Catalog(spark, str(root))
    assert os.readlink(cat.path_of("bad")) == "bad.parquet.v0"
    assert "schema" not in cat._record(cat._version_path("bad", 0))

    cat.put("t", spark.range(0, 3))
    spark.range(0, 5).write.parquet(cat.path_of("u"))
    cat.write("t", spark.range(3, 4))
    assert os.path.isdir(cat.path_of("u")) and not os.path.islink(cat.path_of("u"))
    assert _ids(cat.get("t")) == [0, 1, 2, 3]

    other = Catalog(spark, str(root))
    assert os.readlink(other.path_of("u")) == "u.parquet.v0"
    assert _ids(other.get("u")) == [0, 1, 2, 3, 4]
    with pytest.raises(Exception):
        other.get("bad").collect()


def test_link_to_a_removed_version_reads_as_missing(spark, tmp_path):
    """A link whose version directory was removed by hand raises
    ``AnalysisException`` on read, as a missing table does, and the
    next commit links a new version."""
    import shutil

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.put("t", spark.range(0, 3))
    assert _ids(cat.get("t")) == [0, 1, 2]
    shutil.rmtree(cat._version_path("t", 1))
    with pytest.raises(AnalysisException):
        cat.get("t")
    with pytest.raises(AnalysisException):
        Catalog(spark, str(tmp_path / "cat")).get("t")
    cat.put("t", spark.range(5, 7))
    assert cat.info("t").version == 2 and _ids(cat.get("t")) == [5, 6]


def test_rm_unlinks_before_it_removes_versions(spark, tmp_path, monkeypatch):
    """``rm`` removes the link before the version directories, so one
    that dies mid-way leaves a missing table whose leftover versions
    are never published, and a later put starts it afresh."""
    import shutil

    root = str(tmp_path / "cat")
    cat = Catalog(spark, root, retain_versions=1)
    cat.put("t", spark.range(0, 3))
    cat.put("t", spark.range(3, 6))
    rmtree = shutil.rmtree

    def dies_after_first(path, *args, **kwargs):
        rmtree(path, *args, **kwargs)
        raise RuntimeError("injected crash")

    monkeypatch.setattr(shutil, "rmtree", dies_after_first)
    with pytest.raises(RuntimeError, match="injected crash"):
        cat.rm("t")
    monkeypatch.undo()
    assert sorted(os.listdir(root)) == ["t.parquet.v2"]
    again = Catalog(spark, root, retain_versions=1)
    assert not again.exists("t") and again.info("t").version == 0
    with pytest.raises(AnalysisException):
        again.get("t")
    again.put("t", spark.range(9, 10))
    assert again.info("t").version == 1 and _ids(again.get("t")) == [9]
