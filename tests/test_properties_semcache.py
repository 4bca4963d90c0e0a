"""SURVEY §7's top risk-register item, property-tested (VERDICT r5
task 7): under ANY interleaving of catalog mutations (put/overwrite,
Owrite-append, concurrent appends, rm) and pipeline reruns, a semantic-cache hit must be
byte-identical to a cold recompute over the CURRENT input — i.e. the
(op-DAG fingerprint, input commit id) key can never serve a stale hit,
and a repeat run with no intervening mutation must actually hit.

A ``race`` op appends from two threads at once, each through its own
``Catalog`` on the root: the model adds both batches, so a lost append
shows as a wrong count on the next run.

Model-based: a driver-side Python model tracks exactly what the
mutations put into the table, so the expected word counts come from
the model (ground truth by construction) with zero extra Spark jobs —
the engine result must match it on every run, hit or miss. The world
(catalog + cache + model) persists across hypothesis examples: 200
examples form one long randomized mutation/rerun history, which is
strictly harsher than 200 short independent ones (stale-hit bugs
accumulate exposure) while keeping the suite fast."""

from __future__ import annotations

import threading
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from eclipse_spark.pipeline import Pipeline
from eclipse_spark.semcache import SemanticCache
from eclipse_spark.storage import Catalog

OPS = st.lists(
    st.tuples(
        st.sampled_from(["put", "append", "race", "rm", "run", "run"]),
        st.integers(min_value=0, max_value=4),
    ),
    min_size=1,
    max_size=4,
)


def _rows(seed: int) -> list[tuple[int, str]]:
    return [(i, f"w{(i + seed) % 3} w{seed % 4}") for i in range(4)]


def _df(spark, seed: int):
    return spark.createDataFrame(_rows(seed), ["doc_id", "text"]).coalesce(1)


def _pipeline(cat: Catalog, cache: SemanticCache) -> Pipeline:
    return (
        Pipeline.from_table(cat, "docs", app="wc_prop")
        .emit_kv(key=F.col("text"), value=F.lit(1))
        .count_by_key()
        .parallelism(1)  # cache materialization stays a 1-file write
        .cached(cache)
    )


class _World:
    """One persistent catalog + cache + driver-side truth model."""

    def __init__(self, spark, root: str):
        self.cat = Catalog(spark, f"{root}/tables")
        self.peers = (Catalog(spark, f"{root}/tables"), Catalog(spark, f"{root}/tables"))
        self.cache = SemanticCache(spark, f"{root}/cache")
        self.model: Counter = Counter()
        self.mutated_since_run = True
        self.spark = spark
        self.put(99)

    def put(self, seed: int) -> None:
        self.cat.put("docs", _df(self.spark, seed))
        self.model = Counter(t for _i, t in _rows(seed))
        self.mutated_since_run = True

    def append(self, seed: int) -> None:
        self.cat.write("docs", _df(self.spark, seed))
        self.model = (self.model or Counter()) + Counter(t for _i, t in _rows(seed))
        self.mutated_since_run = True

    def race(self, seed: int) -> None:
        """Two writers append seeds ``seed`` and ``seed + 1`` together."""
        start = threading.Barrier(2)
        errors: list[Exception] = []

        def append(cat: Catalog, k: int) -> None:
            start.wait()
            try:
                cat.write("docs", _df(self.spark, k))
            except Exception as exc:  # noqa: BLE001 - asserted below
                errors.append(exc)

        threads = [
            threading.Thread(target=append, args=(cat, seed + i))
            for i, cat in enumerate(self.peers)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        self.model = (self.model or Counter()) + Counter(
            t for k in (seed, seed + 1) for _i, t in _rows(k)
        )
        self.mutated_since_run = True

    def rm(self) -> None:
        # the next put or append restarts the table at version 1
        self.cat.rm("docs")
        self.model = None
        self.mutated_since_run = True

    def run_and_check(self) -> None:
        if self.model is None:  # no table: the scan itself must fail
            with pytest.raises(AnalysisException):
                _pipeline(self.cat, self.cache).run()
            return
        out, was_hit = _pipeline(self.cat, self.cache).run()
        got = Counter(dict((r[0], r[1]) for r in out.collect()))
        assert got == self.model  # NEVER stale, hit or miss
        if self.mutated_since_run:
            assert not was_hit  # version bumped: stale hit banned
        else:
            assert was_hit  # unchanged rerun must actually hit
        self.mutated_since_run = False


_WORLDS: dict[int, _World] = {}


@settings(
    max_examples=200,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=OPS)
def test_cache_hit_equals_cold_recompute_under_mutation(
    spark, tmp_path_factory, ops
):
    world = _WORLDS.get(id(spark))
    if world is None:
        root = str(tmp_path_factory.mktemp("semprop"))
        world = _WORLDS[id(spark)] = _World(spark, root)
    for op, seed in ops:
        if op == "put":
            world.put(seed)
        elif op == "append":
            world.append(seed)
        elif op == "race":
            world.race(seed)
        elif op == "rm":
            world.rm()
        else:
            world.run_and_check()
    world.cache.unpin()
