"""Admin/status surface — the Eclipse `client` CLI re-expressed
(SURVEY §2.4 X3).

Reference: ``src/client/dht/client.cc:67-96`` sends
``stop | numslave | numclient | numjob | numtask`` to the master
(handlers ``src/master/dht/master.cc:480-605``). On Spark the master's
bookkeeping is the scheduler's; this module reads it via
``SparkContext.statusTracker()`` instead of a socket protocol.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class EngineStatus:
    n_executors: int        # "numslave" — task-running workers
    n_active_jobs: int      # "numjob"
    n_active_stages: int    # stage-level view of "numtask" pressure
    default_parallelism: int
    # JVM-wide whole-stage codegen: compiles (codegen cache misses) and
    # their total time. A count that climbs on repeated work is a
    # recompile storm.
    codegen_compiles: int
    codegen_compile_ms: float


def status(spark: SparkSession) -> EngineStatus:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = sc._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    # local mode reports no separate executors; defaultParallelism is
    # the honest "slots" number in both local and cluster mode
    return EngineStatus(
        n_executors=max(sc._jsc.sc().getExecutorMemoryStatus().size() - 1, 1),
        n_active_jobs=len(tracker.getActiveJobsIds()),
        n_active_stages=len(tracker.getActiveStageIds()),
        default_parallelism=sc.defaultParallelism,
        codegen_compiles=compiles.getCount(),
        codegen_compile_ms=codegen.compileTime() / 1e6,  # kept in ns
    )


def stop(spark: SparkSession) -> None:
    """``client stop`` — shut the engine down."""
    spark.stop()


@dataclass(frozen=True)
class PlanSummary:
    n_shuffles: int          # Exchange operators (the scale cost driver)
    n_broadcasts: int        # BroadcastExchange (small-dim joins)
    n_scans: int             # file scans
    scans_with_pushdown: int  # scans with a non-empty PushedFilters
    # True/False once known; None before execution under AQE (codegen
    # stages collapse only when the adaptive plan finalizes — run an
    # action on the DataFrame first for a definite answer)
    wholestage_codegen: bool | None
    has_python_udf: bool     # Python in the plan (Arrow batch or worse)


def explain_summary(df) -> PlanSummary:
    """Plan introspection for ops tooling and tests: count the physical
    operators that dominate cost at scale. The 100 TB review checklist
    (SCALE.md) as a queryable object rather than eyeballed explain
    output."""
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    scans = re.findall(r"\(\d+\) Scan \w+", plan)
    pushed = [
        m
        for m in re.findall(r"PushedFilters: \[(.*?)\]", plan)
        if m.strip()
    ]
    return PlanSummary(
        n_shuffles=len(re.findall(r"\n\(\d+\) Exchange", plan)),
        n_broadcasts=len(re.findall(r"\n\(\d+\) BroadcastExchange", plan)),
        n_scans=len(scans),
        scans_with_pushdown=len(pushed),
        # formatted explain marks codegen spans as "[codegen id : N]"
        wholestage_codegen=(
            True
            if "codegen id" in plan
            else (None if "isFinalPlan=false" in plan else False)
        ),
        has_python_udf=bool(
            re.search(r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas", plan)
        ),
    )
