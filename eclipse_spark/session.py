"""Session management for the engine.

Eclipse reads a JSON settings file (port, master_address, nodes[]; ref
``src/common/settings.cc:21-55``) and spins up master/slave/fileserver
processes. Here the entire runtime is a SparkSession, and
:func:`get_spark` is the only place that builds one: the tests,
``bench.py``, ``tools/`` and the benchmark all take their session from
it, so every number they report measures the configuration that ships.
Callers choose only the master, the app name and host overrides.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

# Only values that differ from Spark's own defaults: AQE with partition
# coalescing and skew-join splitting, and 128 MB file splits, are Spark's
# defaults already. The shuffle width is a static upper bound that AQE
# coalesces down to what each stage's data needs; a width derived from
# the master's task slots (4 on a 4-vCPU host) measured slower on the
# benchmark's cache-rerun workload, so it stays fixed.
_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    # Apply AQE inside cached-plan materialization too (optimization
    # r15, guide §2.2/§2.4). Spark leaves this OFF only to keep a
    # cached plan's output partitioning stable for downstream reuse;
    # with it off, every persist() materializes at the full static
    # shuffle width and every InMemoryTableScan (and every broadcast
    # build over one) pays that many tasks FOREVER — the measured
    # source of the suite's near-empty 32/64/128-task stages and of
    # the 8-core-beats-32 inversion (task launch ~2.5 ms each;
    # pagerank alone ran 1720 tasks on KB-scale cached frames). With
    # AQE on, cached partitioning is SIZE-DERIVED at any scale: tiny
    # caches coalesce, 100 TB caches keep their width.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Whole-stage codegen caches each compiled class per (context
    # classloader, source), and in local mode the driver and the executor
    # use different loaders, so every generated class takes two entries.
    # A many-job burst needs about 211 entries; under Spark's cap of 100
    # each burst recompiled them and threw away the JIT-warmed copies.
    # 2048 holds the working set: steady bursts compile nothing.
    "spark.sql.codegen.cache.maxEntries": "2048",
    # run_concurrent gives each submitting thread its own pool; FAIR
    # shares task slots across those pools instead of queueing whole
    # jobs by arrival
    "spark.scheduler.mode": "FAIR",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


@dataclass
class EngineConfig:
    """Engine-level configuration (the Spark-side analogue of
    Eclipse's ``eclipse.json`` settings object)."""

    master: str = field(
        default_factory=lambda: f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    app_name: str = "eclipse_spark"
    confs: dict[str, str] = field(default_factory=dict)

    def merged_confs(self) -> dict[str, str]:
        out = dict(_DEFAULT_CONFS)
        out.update(self.confs)
        return out


def get_spark(config: EngineConfig | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Reuses an active session when present (pytest/driver own the
    lifecycle); only applies master/memory settings when creating.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    config = config or EngineConfig()
    builder = SparkSession.builder.master(config.master).appName(config.app_name)
    for k, v in config.merged_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # The codegen cache is JVM-wide and takes its size from SQLConf.get
    # on the thread that first compiles. Only this thread has the session
    # active outside Spark's actions; a run_concurrent worker that builds
    # an RDD (``df.rdd``, as util.ensure_parallelism does) compiles
    # outside an action, reads Spark's defaults, and the cap above would
    # silently stay at 100. Touching CodeGenerator here sizes it from
    # this session.
    spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def run_concurrent(
    spark: SparkSession,
    thunks,
    pool_prefix: str = "job",
    max_workers: int | None = None,
):
    """Run independent Spark actions concurrently, one scheduler pool
    per submitting thread — the engine's analogue of Eclipse's
    multi-client job submission (the master admits up to ``max_job``
    concurrent jobs; ``src/master/dht/master.cc`` scheduling loop).

    Each thunk runs under a distinct FAIR pool name (pools materialize
    on demand with weight 1), so the scheduler shares task slots fairly
    ACROSS jobs instead of serializing whole jobs FIFO — on a shared
    production cluster this is what keeps a 100-job tenant from
    head-of-line-blocking a 1-job tenant. Cross-pool fairness needs
    ``spark.scheduler.mode=FAIR`` at session creation, which
    :func:`get_spark` sets (with FIFO the same code still runs, jobs
    just queue by arrival).

    ADMISSION CONTROL (round 11): in-flight submissions are capped at
    ``max_workers`` (default: half the master's task slots,
    ``defaultParallelism``, floor 4) rather than one
    thread per thunk. This mirrors the reference master's bounded
    ``max_job`` admission, and it is measurably faster from Python: a
    thread per job makes every driver-side plan build contend for the
    GIL and the py4j gateway — at 64 word-count jobs on 32 cores the
    per-job build work ballooned from ~13 s total (16 threads) to
    ~150 s total (64 threads), and elapsed never beat 14.4 s in three
    interleaved A/B rounds, while caps of 8-32 reached 6.6-9.8 s.
    Queued thunks still observe concurrent-submission semantics: the
    elapsed clock spans first-submit to last-complete either way.

    Returns the thunk results in submission order; the first raised
    exception propagates after all threads join."""
    from concurrent.futures import ThreadPoolExecutor

    def _run(item):
        i, fn = item
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"{pool_prefix}{i}")
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    if max_workers is None:
        max_workers = max(4, spark.sparkContext.defaultParallelism // 2)
    cap = max(1, min(len(thunks), max_workers))
    with ThreadPoolExecutor(max_workers=cap) as ex:
        return list(ex.map(_run, enumerate(thunks)))
