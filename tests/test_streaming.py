"""Streaming slice (SURVEY §7 step 6): batch/stream parity for
tumbling windows, session windows via native session_window, and
watermark late-data handling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eclipse_spark.streaming import windows as W


@pytest.fixture(scope="module")
def events_small(spark, tmp_path_factory):
    """Materialize sf0.001 events (micros timestamps) for readStream."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    import sys

    sys.path.insert(0, "/root/repo")
    from __spark_entry__ import _events

    df = _events(spark, "/root/testdata/sf0.001")
    df.repartition(4).write.mode("overwrite").parquet(path)
    return path, df


def test_tumbling_batch_stream_parity(spark, events_small):
    path, batch_df = events_small
    batch = W.tumbling_counts(batch_df, "1 hour")
    batch_rows = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }

    schema = spark.read.parquet(path).schema
    stream = W.stream_from_parquet(spark, path, schema)
    agg = W.tumbling_counts(stream, "1 hour")
    W.run_stream_to_memory(agg, "tumb_out", output_mode="complete")
    stream_rows = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM tumb_out").collect()
    }
    assert stream_rows == batch_rows


def test_session_window_stream_runs(spark, events_small):
    path, batch_df = events_small
    schema = spark.read.parquet(path).schema
    stream = W.stream_from_parquet(spark, path, schema)
    agg = W.session_windows_stream(stream, gap="30 minutes", watermark="2 hours")
    W.run_stream_to_memory(agg, "sess_out", output_mode="append")
    out = spark.sql("SELECT * FROM sess_out")
    # append mode emits only watermark-closed sessions; the finite
    # source closes all but the tail, so output must be non-trivial
    assert out.count() > 0
    assert {"session_start", "session_end", "user_id", "n_events"} <= set(out.columns)


def test_sliding_counts_overlap(spark, events_small):
    _path, batch_df = events_small
    tumb = W.tumbling_counts(batch_df, "1 hour").agg(F.sum("n_events")).collect()[0][0]
    slid = W.sliding_counts(batch_df, "1 hour", "30 minutes").agg(
        F.sum("n_events")
    ).collect()[0][0]
    # every event falls in exactly 2 sliding windows of 2x overlap
    assert slid == 2 * tumb


def test_parquet_sink_exactly_once(spark, events_small, tmp_path):
    """Durable sink: all source rows land exactly once, and re-running
    the same query against the same checkpoint appends nothing."""
    path, batch_df = events_small
    schema = spark.read.parquet(path).schema
    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = W.stream_from_parquet(spark, path, schema)
        W.write_stream_to_table(stream.select("event_id"), out_dir, ckpt)

    run()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == batch_df.count()
    run()  # same checkpoint -> no new data, no duplicates
    assert spark.read.parquet(out_dir).count() == n1


def test_session_batch_golden(spark):
    rows = [
        (1, 10, "2024-01-01 00:00:00"),
        (2, 10, "2024-01-01 00:10:00"),   # same session (gap 10m)
        (3, 10, "2024-01-01 01:00:00"),   # new session (gap 50m)
        (4, 11, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts_s"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    out = W.session_windows_batch(df, gap_minutes=30)
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in out.collect()}
    assert got == {(10, 1): 2, (10, 2): 1, (11, 1): 1}


def test_merge_stream_upsert_multi_batch(spark, events_small, tmp_path):
    """foreachBatch MERGE sink over a 4-file source at 1 file/trigger:
    four micro-batches of refreshed Update-mode rows upsert into the
    Catalog table, and the final table equals the batch aggregate (not
    an intermediate count, not duplicated rows)."""
    from eclipse_spark.storage import Catalog

    path, df = events_small
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    agg = stream.groupBy("user_id").agg(F.count("*").alias("n_events"))
    cat = Catalog(spark, str(tmp_path / "cat"))
    W.merge_stream_to_catalog(
        agg, cat, "uc", on=["user_id"], checkpoint=str(tmp_path / "ckpt")
    )
    got = {r["user_id"]: r["n_events"] for r in cat.get("uc").collect()}
    exp = {r["user_id"]: r["n"] for r in
           df.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert got == exp
    # table version advanced once per non-empty batch (4 files -> >=2 merges)
    assert cat.info("uc").version >= 2


def test_ivm_stream_matches_batch_aggregate(spark, events_small, tmp_path):
    """Raw batches folded through incremental_refresh (no streaming
    aggregation state) drain to the exact batch aggregate, with one
    catalog version per non-empty batch proving the per-trigger
    refresh actually ran incrementally."""
    from decimal import Decimal

    from eclipse_spark.storage import Catalog

    path, df = events_small
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    cat = Catalog(spark, str(tmp_path / "cat"), retain_versions=1)
    W.ivm_stream_to_catalog(
        stream.select("event_type", "value"),
        cat,
        "tv",
        keys=["event_type"],
        sum_cols={"value": "total"},
        checkpoint=str(tmp_path / "ckpt"),
    )
    got = {
        r.event_type: (r.n_rows, Decimal(str(r.total)))
        for r in cat.get("tv").collect()
    }
    exp = {
        r.event_type: (r.n, Decimal(str(r.s)))
        for r in df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    assert got == exp
    assert cat.info("tv").version >= 2  # 4 files -> >= 2 incremental applies


def test_ivm_exactly_once_survives_kill_restart(spark, events_small, tmp_path):
    """Real kill-restart-replay (VERDICT r6 task 4, upgrading the
    simulated-replay unit test): the additive IVM sink runs against a
    DURABLE checkpoint, the query is crashed AFTER batch 1's apply
    committed but BEFORE its offsets commit (foreachBatch raises after
    the put), and a fresh query restarted from the same checkpoint
    re-delivers batch 1. The committed marker must recognize the
    replay (skip, no double-add), the remaining batches drain, and the
    final view equals the batch recompute over all input."""
    import os
    from decimal import Decimal

    from eclipse_spark.storage import Catalog
    from eclipse_spark.streaming.windows import apply_ivm_batch

    path, df = events_small
    # deterministic batch order: FileStreamSource processes oldest
    # mtime first; one file per trigger -> one batch per file
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    assert len(files) >= 3
    for i, f in enumerate(files):
        os.utime(os.path.join(path, f), (1_000_000_000 + i, 1_000_000_000 + i))
    cat = Catalog(spark, str(tmp_path / "cat"), retain_versions=1)
    ckpt = str(tmp_path / "ckpt")
    kw = dict(keys=["event_type"], sum_cols={"value": "total"})
    crash_armed = {"on": True}

    def _apply(bdf, bid):
        applied = apply_ivm_batch(
            cat, "tv", bdf.select("event_type", "value"), bid, **kw
        )
        if crash_armed["on"] and bid == 1:
            assert applied is True
            crash_armed["on"] = False
            raise RuntimeError("injected crash after batch 1 committed")

    def _start():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .writeStream.outputMode("append")
            .foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = _start()
    try:
        q.processAllAvailable()
    except Exception:
        pass
    q.stop()
    assert cat.read_marker("tv")["last_batch"] == 1  # crash landed post-commit

    q2 = _start()  # restart from the durable checkpoint
    q2.processAllAvailable()
    q2.stop()

    got = {
        r.event_type: (r.n_rows, Decimal(str(r.total)))
        for r in cat.get("tv").collect()
    }
    exp = {
        r.event_type: (r.n, Decimal(str(r.s)))
        for r in df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    assert got == exp  # batch 1 applied exactly once despite re-delivery


def test_ivm_batch_apply_is_exactly_once(spark, tmp_path, monkeypatch):
    """The atomic commit marker (batch id inside the same link swap as
    the data) makes the additive IVM sink idempotent: a re-delivered
    batch_id whose put committed is skipped; a crash after staging but
    before the claim, or after the claim but before the link swap,
    leaves the old view, version and marker, so the crashed batch adds
    nothing and its re-delivery applies it once. ADVICE r5 item 5 +
    r6 item 5."""
    import os
    import shutil

    from eclipse_spark.storage import Catalog
    from eclipse_spark.streaming.windows import apply_ivm_batch

    cat = Catalog(spark, str(tmp_path / "cat"), retain_versions=1)
    b0 = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 5.0)],
                               ["event_type", "value"])
    b1 = spark.createDataFrame([("a", 10.0)], ["event_type", "value"])
    kw = dict(keys=["event_type"], sum_cols={"value": "total"})

    assert apply_ivm_batch(cat, "tv", b0, 0, **kw) is True
    assert apply_ivm_batch(cat, "tv", b1, 1, **kw) is True
    snap = {r.event_type: (r.n_rows, str(r.total))
            for r in cat.get("tv").collect()}

    # duplicate delivery of the committed batch 1 -> skipped, view unchanged
    assert apply_ivm_batch(cat, "tv", b1, 1, **kw) is False
    assert {r.event_type: (r.n_rows, str(r.total))
            for r in cat.get("tv").collect()} == snap

    # stale batch id (0) replayed -> also skipped
    assert apply_ivm_batch(cat, "tv", b0, 0, **kw) is False
    assert {r.event_type: (r.n_rows, str(r.total))
            for r in cat.get("tv").collect()} == snap

    # crash window A (staged, never claimed) and B (claimed, link never
    # swapped): batch 2's commit dies — the old view keeps its version
    # and its marker, so a replay of batch 1 is still skipped and the
    # crashed batch 2 has added nothing
    b2 = spark.createDataFrame([("b", 7.0)], ["event_type", "value"])
    v1 = cat.info("tv").version

    def crash(*_args):
        raise RuntimeError("injected crash before the link swap")

    for window in ("_claim", "_publish"):
        monkeypatch.setattr(Catalog, window, crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            apply_ivm_batch(cat, "tv", b2, 2, **kw)
        monkeypatch.undo()
        cat2 = Catalog(spark, str(tmp_path / "cat"), retain_versions=1)
        assert cat2.info("tv").version == v1
        assert cat2.read_marker("tv") == {"last_batch": 1}
        assert apply_ivm_batch(cat2, "tv", b1, 1, **kw) is False
        assert {r.event_type: (r.n_rows, str(r.total))
                for r in cat2.get("tv").collect()} == snap

    # re-delivery of the crashed batch 2 applies it exactly once
    assert apply_ivm_batch(cat2, "tv", b2, 2, **kw) is True
    assert apply_ivm_batch(cat2, "tv", b2, 2, **kw) is False
    got = {r.event_type: (r.n_rows, str(r.total))
           for r in cat2.get("tv").collect()}
    assert got["b"][0] == snap["b"][0] + 1      # batch 2 applied once
    assert got["a"] == snap["a"]                # prior accumulation intact
    assert cat2.info("tv").version == v1 + 1
    assert sorted(os.listdir(tmp_path / "cat")) == [
        "tv.parquet", f"tv.parquet.v{v1}", f"tv.parquet.v{v1 + 1}"
    ]

    # an unversioned catalog folds each batch in exactly once too: the
    # refresh has read the old version before its commit publishes the
    # new one, and pruning follows the link swap
    root0 = tmp_path / "cat0"
    cat0 = Catalog(spark, str(root0))
    for b, batch in enumerate((b0, b1, b2)):
        assert apply_ivm_batch(cat0, "tv", batch, b, **kw) is True
    for b, batch in enumerate((b0, b1, b2)):
        assert apply_ivm_batch(cat0, "tv", batch, b, **kw) is False
    assert {r.event_type: (r.n_rows, str(r.total))
            for r in cat0.get("tv").collect()} == got
    assert cat0.read_marker("tv") == {"last_batch": 2}
    v0 = cat0.info("tv").version
    assert v0 == 3
    assert sorted(os.listdir(root0)) == ["tv.parquet", f"tv.parquet.v{v0}"]
    shutil.rmtree(str(root0), ignore_errors=True)


def test_ivm_stream_runs_on_unversioned_catalog(spark, events_small, tmp_path):
    """``ivm_stream_to_catalog`` over a ``retain_versions=0`` catalog
    drains to the batch aggregate, and the root keeps only the link and
    the current version."""
    import os
    from decimal import Decimal

    from eclipse_spark.storage import Catalog

    path, df = events_small
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    root = tmp_path / "cat0"
    cat = Catalog(spark, str(root))
    W.ivm_stream_to_catalog(
        stream.select("event_type", "value"), cat, "t", keys=["event_type"],
        sum_cols={"value": "total"}, checkpoint=str(tmp_path / "c"),
    )
    got = {
        r.event_type: (r.n_rows, Decimal(str(r.total)))
        for r in cat.get("t").collect()
    }
    exp = {
        r.event_type: (r.n, Decimal(str(r.s)))
        for r in df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    assert got == exp
    v = cat.info("t").version
    assert v >= 2
    assert sorted(os.listdir(root)) == ["t.parquet", f"t.parquet.v{v}"]
