"""Round-15 (optimization round 2) regression tests.

Covers the VERDICT r14 "Next round" items that change code contracts:
the r15 correctness window (50 keys, >= 25 overlapping _R14_WINDOW so
the driver's round-over-round comparison is non-vacuous), the bench
per-query artifact stamping, and the int8 persist-lifecycle fix.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_r15_window_is_exactly_50_registry_keys_with_overlap():
    """The driver gate checks the FIRST 50 queries() keys. The r15
    window must hold exactly 50 existing registry keys, lead the
    registry, and share >= 25 keys with _R14_WINDOW (VERDICT r14 item
    2: the r13/r14 windows shared zero keys, so PERF_r14 had
    n_common=0 and 48 spurious 'drops')."""
    import __spark_entry__ as entrymod

    win = entrymod._R15_WINDOW
    assert len(win) == 50, f"window has {len(win)} keys, driver checks 50"
    assert len(set(win)) == 50, "window contains duplicates"
    reg = entrymod.queries()
    missing = [k for k in win if k not in reg]
    assert not missing, f"window names unknown registry keys: {missing}"
    assert list(reg)[:50] == win, (
        "queries() must lead with the window keys in window order"
    )
    overlap = set(win) & set(entrymod._R14_WINDOW)
    assert len(overlap) >= 25, (
        f"window shares only {len(overlap)} keys with _R14_WINDOW; "
        "the round-over-round correctness comparison needs >= 25"
    )


def test_bench_writes_stamped_per_query_artifact(tmp_path):
    """bench.py must expose the round-stamped, cpu-stamped artifact
    name so a low-core scaling rerun can never clobber the 32-core
    per-query map (VERDICT r14 item 2a: the r14 c8 rerun overwrote
    bench_full.json and the driver lost its own per-query data)."""
    import bench

    assert isinstance(bench.ROUND, int) and bench.ROUND >= 15
    name = bench.stamped_artifact_name(32)
    assert name == f"bench_full_r{bench.ROUND}_c32.json"
    assert bench.stamped_artifact_name(8) != name


def test_int8_operators_do_not_leak_cached_blocks(spark, sf_correct, monkeypatch):
    """VERDICT r14 item 4: int8_quantize / int8_topk persisted
    exploded/coded views with no unpersist — CacheManager entries
    accumulated per invocation for the SESSION lifetime (nothing ever
    frees them). The shared passes now ride lazy localCheckpoints (the
    r14 pattern), whose blocks free on RDD GC. Two pins:

    1. deterministic: the operators call persist() ZERO times (the
       CacheManager leak class cannot recur);
    2. lifecycle: after the result frames are dropped and a GC cycle
       runs, the persistent-RDD count returns to its baseline — the
       checkpoint blocks are actually releasable, not a slower leak.
    """
    import gc
    import time

    from pyspark.sql import DataFrame

    from eclipse_spark.operators.similarity import int8_quantize, int8_topk

    persist_calls: list[int] = []
    orig_persist = DataFrame.persist

    def counting_persist(self, *a, **k):
        persist_calls.append(1)
        return orig_persist(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", counting_persist)

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def persistent() -> dict[int, str]:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return {
            int(i): f"{r.name()} @ {r.rdd().getCreationSite()}"
            for i, r in rdds.items()
        }

    base = n_cached()
    base_ids = set(persistent())
    emb = spark.read.parquet(os.path.join(sf_correct, "embeddings.parquet"))
    corpus = emb.select("vec_id", "embedding").limit(200)
    queries = corpus.limit(3)
    for _ in range(2):
        int8_quantize(corpus, id_col="vec_id", vec_col="embedding").write.format(
            "noop"
        ).mode("overwrite").save()
        int8_topk(
            queries, corpus, k=3, q_id="vec_id", c_id="vec_id",
            vec_col="embedding",
        ).write.format("noop").mode("overwrite").save()
    assert not persist_calls, (
        f"int8 operators called persist() {len(persist_calls)} times — "
        "the un-releasable CacheManager leak class is back"
    )
    # the checkpoint blocks must be GC-releasable: drop every reference
    # and poll while the ContextCleaner unpersists the collected RDDs
    del emb, corpus, queries
    deadline = time.time() + 30
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if n_cached() <= base:
            break
        time.sleep(0.5)
    extra = {i: site for i, site in persistent().items() if i not in base_ids}
    assert n_cached() <= base, (
        f"checkpoint blocks not released: {n_cached()} persistent RDDs "
        f"vs baseline {base} after GC; above the baseline: "
        + "; ".join(f"rdd {i}: {site}" for i, site in sorted(extra.items()))
    )


def test_kcore_oracle_matches_engine_at_sf0001(spark, sf_smoke):
    """VERDICT r14 item 9: the kcore oracle's hand-written 12-round
    unroll undershot sf0.001's peel depth (fixpoint at round 14
    there), so the probe SF mismatched while the gated sf0.01
    matched. The unroll is now generated to depth 24
    (_sql_kcore_peel); rounds past the fixpoint are no-ops, so every
    converged SF is unchanged and sf0.001 now agrees too."""
    import duckdb

    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"'{sf_smoke}/lineitem.parquet'"
    )
    s = qs["kcore"](spark, sf_smoke).toPandas()
    d = con.sql(osql["kcore"]).df()
    assert len(s) == len(d)
    if len(s):
        cols = sorted(s.columns)
        sv = s[cols].sort_values(cols).reset_index(drop=True).astype(str)
        dv = d[cols].sort_values(cols).reset_index(drop=True).astype(str)
        assert (sv.values == dv.values).all()


def test_too_shallow_peel_oracles_raise(sf_correct):
    """The kcore and ktruss oracles are unrolled peels. An unroll whose
    last round still removes edges raises instead of returning a
    half-peeled result that would mismatch the engine silently: at
    sf0.01 the 10-core peel takes about 10 rounds and the 4-truss peel
    about 5."""
    import duckdb
    import pytest

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"'{sf_correct}/lineitem.parquet'"
    )
    for sql in (entrymod._sql_kcore_peel(4), entrymod._ktruss_oracle(4, 2)):
        with pytest.raises(duckdb.Error, match="unroll deeper"):
            con.sql(sql).fetchall()
    osql = entrymod.oracle_sql()
    assert len(con.sql(osql["kcore"]).fetchall()) > 0
    assert len(con.sql(osql["ktruss"]).fetchall()) > 0
