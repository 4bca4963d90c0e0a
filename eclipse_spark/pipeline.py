"""The MapReduce pipeline surface (SURVEY §2.2 D1-D7) re-expressed on
DataFrames.

Eclipse's entire user API is four calls inside a C++ binary
(``src/mapreduce/dht/mapreduce.hh:29-50``):

- ``set_mapper(fn)`` + ``get_nextrecord()`` loop   -> :meth:`Pipeline.map_records`
- ``write_keyvalue(k, v)``                          -> :meth:`Pipeline.emit_kv`
- ``set_reducer(fn)`` + ``get_nextvalue()`` loop    -> :meth:`Pipeline.group_reduce`
  (associative fast path: :meth:`Pipeline.reduce_by_key`)
- ``write_output(rec)``                             -> :meth:`Pipeline.write`
- ``set_nummapper/set_numreducer`` (``mapreduce.hh:1087-1095``)
                                                    -> :meth:`Pipeline.parallelism`
- ``enable_Icache()`` (``mapreduce.hh:1102-1105``)  -> :meth:`Pipeline.cached`

Execution-model mapping: Eclipse's map-time hash routing of pairs to
``h(key)%N`` (``src/file_distributor/idistributor.hh:85-125``) IS a
shuffle write; its iwriter/ireader sorted-spill machinery
(``iwriter.hh``/``ireader.hh``) IS Tungsten sort-based shuffle; its
MAP->REDUCE barrier (``master.cc:783-855``) IS a stage boundary. None
of that is reimplemented — we declare the plan and let Spark execute.

Value-ordering contract matches the reference: grouped values arrive
in no guaranteed order (Eclipse merges spill blocks by key only,
SURVEY §3.3); pass ``sort_values=True`` for the explicitly-ordered
variant.

Scale notes: ``emit_kv``/``group_reduce`` with Python callables use
Arrow-batched pandas execution (``mapInPandas``/``applyInPandas``),
never row-at-a-time UDFs. Column-expression fast paths stay entirely
JVM-side. ``reduce_by_key`` gets map-side partial aggregation for
free from ``groupBy().agg()``.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import cached_property
from typing import Any, Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from eclipse_spark.plans.dag import PlanNode, fingerprint_fn
from eclipse_spark.semcache import SemanticCache
from eclipse_spark.storage import Catalog

KV_SCHEMA = "key string, value string"


@dataclass(frozen=True)
class ChainStep:
    """One link of a pipeline's op chain, so interior prefixes are
    addressable: ``dag`` is the op-DAG of the PREFIX ending at this
    step (its fingerprint is the subplan cache key — deliberately
    app-agnostic, so two different apps sharing a prefix share the
    materialization), ``rebuild`` applies just this step's operator to
    the (possibly cache-served) parent DataFrame, and ``staged`` marks
    an explicit reuse boundary (:meth:`Pipeline.stage`). Only the leaf
    holds a DataFrame (``df``); it has no ``rebuild``."""

    dag: PlanNode
    rebuild: Callable[[DataFrame], DataFrame] | None
    staged: bool = False
    df: DataFrame | None = None


class Pipeline:
    """A fluent op chain: each method extends the engine op-DAG (for
    semantic-cache fingerprinting) and records its operator as a
    ``rebuild`` step. The DataFrame plan is built lazily — :attr:`df`
    folds the steps over the leaf on first use — so a cache hit only
    fingerprints the DAG, and an error in a step (a bad column name,
    say) surfaces at :meth:`run` or :meth:`to_df`, not when the step
    is added."""

    def __init__(
        self,
        spark: SparkSession,
        chain: tuple[ChainStep, ...],
        app: str = "app",
        cache: SemanticCache | None = None,
    ):
        self.spark = spark
        self.app = app
        self._cache = cache
        self._chain = chain

    @property
    def dag(self) -> PlanNode:
        return self._chain[-1].dag

    @cached_property
    def df(self) -> DataFrame:
        df = self._chain[0].df
        for step in self._chain[1:]:
            df = step.rebuild(df)
        return df

    # -- constructors ---------------------------------------------------
    @classmethod
    def _leaf(
        cls, spark: SparkSession, df: DataFrame, dag: PlanNode, app: str
    ) -> "Pipeline":
        return cls(spark, (ChainStep(dag, None, df=df),), app)

    @classmethod
    def from_table(cls, catalog: Catalog, name: str, app: str = "app") -> "Pipeline":
        # the leaf's version is the commit id: it changes only in the
        # link swap that publishes new data, and never repeats, even after
        # rm + re-put; it comes from the record of the version directory
        # the data is read from
        commit, df = catalog._resolve(name)
        dag = PlanNode.leaf("scan", table=name, version=commit)
        return cls._leaf(catalog.spark, df, dag, app)

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str, app: str = "app") -> "Pipeline":
        import os

        mtime = os.path.getmtime(path) if os.path.exists(path) else 0
        dag = PlanNode.leaf("scan", path=path, mtime=mtime)
        return cls._leaf(spark, spark.read.parquet(path), dag, app)

    @classmethod
    def from_df(cls, spark: SparkSession, df: DataFrame, label: str, app: str = "app") -> "Pipeline":
        return cls._leaf(spark, df, PlanNode.leaf("df", label=label), app)

    def _next(
        self, op: str, rebuild: Callable[[DataFrame], DataFrame], **params: Any
    ) -> "Pipeline":
        step = ChainStep(self.dag.child(op, **params), rebuild)
        return Pipeline(self.spark, self._chain + (step,), self.app, self._cache)

    # -- map phase ------------------------------------------------------
    def map_records(self, fn: Callable[[pd.DataFrame], pd.DataFrame], schema: str) -> "Pipeline":
        """D1 Map with arbitrary per-batch logic (Arrow-vectorized).

        ``fn`` receives/returns pandas DataFrames; ``schema`` is the
        output DDL. This is the escape hatch preserving Eclipse's
        "mapper is arbitrary user code" semantics."""

        def _runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = fn(pdf)
                if out is not None and len(out):
                    yield out

        return self._next(
            "map_records",
            lambda d: d.mapInPandas(_runner, schema=schema),
            fn=fingerprint_fn(fn),
            schema=schema,
        )

    def select(self, *cols: str | Column) -> "Pipeline":
        """D1 fast path: projection stays JVM-side (column pruning
        reaches the parquet scan)."""
        return self._next("select", lambda d: d.select(*cols), cols=_cols_key(cols))

    def filter(self, cond: str | Column) -> "Pipeline":
        """D1 fast path: predicate stays JVM-side (pushdown)."""
        return self._next("filter", lambda d: d.filter(cond), cond=str(cond))

    def with_column(self, name: str, col: Column) -> "Pipeline":
        return self._next(
            "with_column", lambda d: d.withColumn(name, col), name=name, col=str(col)
        )

    # -- emit (shuffle write) ------------------------------------------
    def emit_kv(
        self,
        key: Column | None = None,
        value: Column | None = None,
        fn: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    ) -> "Pipeline":
        """D2 ``write_keyvalue``: produce the (key, value) string pair
        stream. Column-expression form is pure JVM; ``fn`` form takes a
        pandas batch and returns a 2-col (key, value) frame for
        flatMap-style multi-emit (e.g. tokenization)."""
        if fn is not None:
            def _runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    out = fn(pdf)
                    if out is not None and len(out):
                        yield out[["key", "value"]].astype(str)

            return self._next(
                "emit_kv",
                lambda d: d.mapInPandas(_runner, schema=KV_SCHEMA),
                fn=fingerprint_fn(fn),
            )
        assert key is not None
        value = value if value is not None else F.lit("1")
        return self._next(
            "emit_kv",
            lambda d: d.select(
                key.cast("string").alias("key"), value.cast("string").alias("value")
            ),
            key=str(key),
            value=str(value),
        )

    # -- reduce phase ---------------------------------------------------
    def reduce_by_key(self, agg: Column, alias: str = "value") -> "Pipeline":
        """D5 associative fast path: per-key aggregate with map-side
        combine (the scalable default — use this, not group_reduce,
        when the reduce fn is associative)."""
        return self._next(
            "reduce_by_key",
            lambda d: d.groupBy("key").agg(agg.alias(alias)),
            agg=str(agg),
            alias=alias,
        )

    def count_by_key(self) -> "Pipeline":
        return self.reduce_by_key(F.count("*"), alias="value")

    def group_reduce(
        self,
        fn: Callable[[str, list[str]], Iterable[str]],
        sort_values: bool = False,
    ) -> "Pipeline":
        """D3+D4+D5: arbitrary per-key reduce. ``fn(key, values)``
        yields output records (strings), exactly the
        ``get_nextvalue()``/``write_output()`` loop contract.

        Values are unordered unless ``sort_values`` (SURVEY §3.3).
        Executed with ``applyInPandas`` — one Arrow batch per key
        group; skewed hot keys are AQE's problem at the shuffle and the
        salting helper's (operators/skew.py) above it."""

        def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
            key = str(pdf["key"].iloc[0])
            values = pdf["value"].astype(str).tolist()
            if sort_values:
                values.sort()
            return pd.DataFrame({"key": key, "out": list(fn(key, values))})

        return self._next(
            "group_reduce",
            lambda d: d.groupBy("key").applyInPandas(
                _reduce, schema="key string, out string"
            ),
            fn=fingerprint_fn(fn),
            sort_values=sort_values,
        )

    # -- knobs ----------------------------------------------------------
    def parallelism(self, n: int, *cols: str) -> "Pipeline":
        """D7 ``set_nummapper``/``set_numreducer``: explicit partition
        count (advisory in Eclipse too — ``master.cc:750-753``)."""
        return self._next(
            "parallelism",
            lambda d: d.repartition(n, *cols) if cols else d.repartition(n),
            n=n,
            cols=",".join(cols),
        )

    # -- caching (Orthrus) ---------------------------------------------
    def cached(self, cache: SemanticCache) -> "Pipeline":
        """``enable_Icache()``: attach the semantic cache; ``run()``
        will consult/populate it."""
        return Pipeline(self.spark, self._chain, self.app, cache)

    def stage(self) -> "Pipeline":
        """Mark the CURRENT PREFIX as a reusable stage boundary: on the
        next cache-attached cold ``run()``, the prefix's result is
        materialized under its own (app-agnostic) subplan fingerprint,
        so ANY later pipeline — same app or not — whose chain starts
        with the identical prefix serves it from the cache and computes
        only its tail. This generalizes Eclipse's whole-(app, input)
        map-output reuse (``fileserver.hh:354-359``) to interior plan
        nodes; un-staged shared prefixes are still auto-promoted once
        the cache sees them recur (see :meth:`run`)."""
        chain = self._chain[:-1] + (replace(self._chain[-1], staged=True),)
        return Pipeline(self.spark, chain, self.app, self._cache)

    def fingerprint(self) -> str:
        return PlanNode.merge("app", (self.dag,), app=self.app).fingerprint()

    # -- actions --------------------------------------------------------
    def run(self) -> tuple[DataFrame, bool]:
        """Materialize through the semantic cache if attached.
        Returns (result, was_cache_hit) — the map-skip analogue
        (``mapreduce.hh:861-884``) generalized to whole plans.

        Cold-path subplan reuse: before recomputing from the scan, the
        chain's interior prefixes are probed DEEPEST-FIRST against the
        cache; a hit replaces the whole cached subtree with a parquet
        read and only the remaining tail operators run. Interior
        prefixes are materialized when (a) explicitly marked with
        :meth:`stage`, or (b) auto-promoted: every cold run records a
        sighting per interior fingerprint, and a prefix sighted by a
        second distinct cold run materializes on that run — recurring
        shared stages become cached without the author asking. The
        full-plan entry keeps Eclipse's app-scoped key; interior keys
        are app-agnostic, which is exactly what lets two DIFFERENT
        pipelines share one materialization."""
        if self._cache is None:
            return self.df, False
        full_fp = self.fingerprint()
        hit = self._cache.lookup(full_fp)
        if hit is not None:
            return hit, True
        return self._cache.materialize(full_fp, self._cold_build()), False

    def _cold_build(self) -> DataFrame:
        """Rebuild the plan for a cold run, serving the deepest cached
        interior prefix and materializing staged/promoted prefixes
        along the way. A prefix a peer evicts between ``peek`` and
        ``lookup`` is a miss at that depth: the next shallower one is
        tried, and then the leaf."""
        cache, chain = self._cache, self._chain
        n = len(chain)
        # sightings count once per cold run for EVERY interior prefix
        # (the recurrence signal is plan-shaped, not execution-shaped)
        sightings = {
            i: cache.note_subplan(chain[i].dag.fingerprint())
            for i in range(1, n - 1)
        }
        df, start = chain[0].df, 1
        for i in range(n - 1, 0, -1):
            fp = chain[i].dag.fingerprint()
            hit = cache.lookup(fp) if cache.peek(fp) else None
            if hit is not None:
                df, start = hit, i + 1
                break
        for i in range(start, n):
            step = chain[i]
            df = step.rebuild(df)
            promoted = step.staged or sightings.get(i, 0) >= 2
            if promoted and not cache.peek(step.dag.fingerprint()):
                # write-through: downstream reads the parquet copy, so
                # the tail plan is flat and the next sharer hits
                df = cache.materialize(step.dag.fingerprint(), df)
        return df

    def write(self, catalog: Catalog, name: str) -> str:
        """``write_output`` -> Owrite-append to a named table."""
        df, _ = self.run()
        return catalog.write(name, df)

    def to_df(self) -> DataFrame:
        return self.df


def _cols_key(cols: tuple) -> str:
    return ",".join(str(c) for c in cols)
