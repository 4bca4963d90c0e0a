"""Streaming / windowed-event operators (north-star; SURVEY §7 step 6).

The reference has no streaming at all (SURVEY §1 'Streams: not
present'); these are the Structured Streaming capabilities our engine
adds over the ``events`` table. Every window op has a *batch* form
(same expressions on a static DataFrame — used by the duckdb oracle
gate) and a *streaming* form (readStream + watermark). Batch/stream
parity is the test contract (FIXTURES F5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    width: str = "1 hour",
    ts_col: str = "ts",
    keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window counts+sums. Emits window_start/window_end as
    plain timestamps (oracle-friendly)."""
    keys = keys if keys is not None else ["event_type"]
    w = F.window(F.col(ts_col), width)
    return (
        events.groupBy(w.alias("w"), *keys)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    keys: list[str] | None = None,
) -> DataFrame:
    keys = keys if keys is not None else ["event_type"]
    w = F.window(F.col(ts_col), width, slide)
    return (
        events.groupBy(w.alias("w"), *keys)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n_events",
        )
    )


def session_windows_batch(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Batch sessionization: lag + gap>threshold cumsum — the classic
    window-function formulation (oracle-parity with SQL). One shuffle
    on user_id; the running sum rides the same partitioning."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    gap = F.lag(ts_col).over(w)
    new_sess = F.when(
        gap.isNull()
        | (F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(gap) > gap_minutes * 60),
        F.lit(1),
    ).otherwise(F.lit(0))
    sessed = events.withColumn(
        "session_id", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sessed.groupBy(user_col, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
    )


def session_windows_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming sessionization with Spark's native session_window +
    watermark (late rows beyond the watermark are dropped)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), user_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            user_col,
            "n_events",
        )
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    max_delay: str = "30 minutes",
    watermark: str = "365 days",
) -> DataFrame:
    """Watermarked stream-stream inner interval join: each left event
    pairs with right events of the same key that occur within
    (0, max_delay] after it. The time-range condition is what lets
    Spark bound join state — each side keeps only rows younger than
    watermark+delay, the canonical funnel/attribution shape. Output:
    (key, left event_id/ts, right event_id/ts)."""
    a = left.withWatermark(ts_col, watermark).alias("a")
    b = right.withWatermark(ts_col, watermark).alias("b")
    cond = (
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col(f"b.{ts_col}") > F.col(f"a.{ts_col}"))
        & (F.col(f"b.{ts_col}") <= F.col(f"a.{ts_col}") + F.expr(f"INTERVAL {max_delay}"))
    )
    return a.join(b, cond).select(
        F.col(f"a.{key}").alias(key),
        F.col("a.event_id").alias("event_a"),
        F.col("b.event_id").alias("event_b"),
    )


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "365 days",
) -> DataFrame:
    """Streaming dedup via dropDuplicatesWithinWatermark: the first
    arrival per key emits, repeats within the watermark horizon drop,
    and state self-expires with the watermark (the unbounded-state
    hazard of plain dropDuplicates on streams). Projects to the key
    columns so results don't depend on which physical row arrived
    first."""
    return (
        df.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )


def stream_from_parquet(spark: SparkSession, path: str, schema) -> DataFrame:
    """readStream over a parquet dir — the local test source (real
    deployments: kafka). ``maxFilesPerTrigger`` bounds batch size."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def write_stream_to_table(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
):
    """Durable streaming sink: append micro-batches as parquet under
    ``path`` with exactly-once bookkeeping in ``checkpoint``. Drives
    the finite local source to completion; in production the same
    query runs continuously (trigger cadence owns file sizes —
    pair with ``Catalog.compact`` for the small-files tail)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def run_stream_to_memory(agg: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming query synchronously to completion over a
    finite source (processAllAvailable), results in the in-memory
    table ``name``."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def merge_stream_to_catalog(
    df: DataFrame,
    catalog,
    table: str,
    on: list[str],
    checkpoint: str,
):
    """Streaming-upsert sink: each micro-batch MERGEs (copy-on-write
    upsert) into a Catalog table, so the table always holds the LATEST
    row per key — a continuously-maintained materialized view, the
    streaming face of :meth:`Catalog.merge`.

    Pair with an Update-mode streaming aggregate: each batch emits one
    refreshed row per changed key (unique per key by construction,
    which merge requires). Replaying a batch after a failure re-merges
    the same rows — idempotent — so the sink is effectively
    exactly-once for deterministic aggregates."""

    def _upsert(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        if catalog.exists(table):
            catalog.merge(table, batch_df, on=on)
        else:
            catalog.put(table, batch_df)

    q = (
        df.writeStream.outputMode("update")
        .foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def apply_ivm_batch(
    catalog,
    table: str,
    batch_df: DataFrame,
    batch_id: int,
    *,
    keys: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n_rows",
) -> bool:
    """Fold ONE insert-only micro-batch into a Catalog-stored aggregate
    view, exactly once. Returns True if the batch was applied, False if
    it was recognized as a replay and skipped.

    Idempotence protocol (atomic commit marker): the batch id is
    committed IN THE SAME LINK SWAP as the refreshed data —
    ``Catalog.put(..., marker={"last_batch": B})`` writes a
    ``_commit.json`` into the new version directory, so "data visible"
    and "batch B recorded" are one filesystem operation with no window
    between them (the earlier sidecar-next-to-the-table design had one:
    a crash between the data rename and the manifest version bump
    re-applied the batch). On delivery of batch_id:

    - skip iff the current table's marker already records
      ``last_batch >= batch_id`` — the replayed batch's put committed;
    - otherwise apply and commit data+marker atomically.

    A crash anywhere before the swap leaves the previous version
    current, marker included, so a re-delivered in-flight batch cannot
    double-add and an interrupted one cannot be lost. Any catalog works,
    ``retain_versions=0`` included: the refresh reads the current
    version directory, the put publishes a new one only after its write
    has finished reading it, and pruning follows the link swap."""
    from eclipse_spark.operators.ivm import aggregate_view, incremental_refresh
    if batch_df.isEmpty():
        return False
    mk = catalog.read_marker(table)
    applied = int(mk.get("last_batch", -1)) if mk else -1
    if batch_id <= applied:
        return False  # replayed batch whose put already committed
    changes = batch_df.withColumn("change_type", F.lit("insert"))
    if catalog.exists(table):
        view = catalog.get(table)
        refreshed = incremental_refresh(
            view, changes, keys=keys, sum_cols=sum_cols, count_col=count_col
        )
    else:
        refreshed = aggregate_view(
            batch_df, keys=keys, sum_cols=sum_cols, count_col=count_col
        )
    catalog.put(table, refreshed, marker={"last_batch": int(batch_id)})
    return True


def ivm_stream_to_catalog(
    df: DataFrame,
    catalog,
    table: str,
    keys: list[str],
    sum_cols: dict[str, str],
    checkpoint: str,
    count_col: str = "n_rows",
):
    """Streaming incremental-view maintenance: each micro-batch of RAW
    append-only rows is treated as an insert-only change feed and
    folded into a Catalog-stored aggregate view with
    ``operators/ivm.incremental_refresh`` — NO Spark aggregation
    state. This is the external-state pattern for views too big for
    the state store: the running totals live in the (100 TB-ready)
    table, each batch costs O(|batch| + |view|), and the stream stays
    a stateless pass-through (no watermark, no state cleanup tuning).

    The complement of :func:`merge_stream_to_catalog` (which needs an
    Update-mode stateful aggregate upstream and replaces rows); here
    deltas ADD, so the decimal arithmetic makes the drained view
    bit-exact equal to a batch aggregate of all input — the driver
    query's oracle.

    EXACTLY-ONCE across checkpoint restarts: additive sinks are not
    naturally idempotent (a replayed in-flight batch would double-add
    into the view), so each apply runs the atomic-commit-marker
    protocol of :func:`apply_ivm_batch` — the batch id rides inside
    the same link swap that publishes the refreshed data, and a
    replayed batch_id is skipped iff the committed marker already
    records it. Restarting from a durable checkpoint is therefore
    safe: re-delivered batches are detected and dropped, interrupted
    ones re-applied."""

    def _apply(batch_df, batch_id):
        apply_ivm_batch(
            catalog,
            table,
            batch_df,
            batch_id,
            keys=keys,
            sum_cols=sum_cols,
            count_col=count_col,
        )

    q = (
        df.writeStream.outputMode("append")
        .foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q
