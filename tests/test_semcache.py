"""Semantic cache (Orthrus-equivalent) semantics per FIXTURES F6:
hit on identical (app, input) re-run, byte-identical output, miss
after input version change, LRU eviction under budget."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from eclipse_spark.pipeline import Pipeline
from eclipse_spark.semcache import SemanticCache
from eclipse_spark.storage import Catalog


def _wc_pipeline(cat: Catalog, cache: SemanticCache) -> Pipeline:
    return (
        Pipeline.from_table(cat, "docs", app="wc")
        .emit_kv(
            fn=lambda pdf: pd.DataFrame(
                {"key": pdf["text"].str.lower().str.split().explode().dropna(), "value": "1"}
            )
        )
        .count_by_key()
        .cached(cache)
    )


def test_hit_and_identical_output(spark, sf_smoke, tmp_path):
    cat = Catalog(spark, str(tmp_path / "tables"))
    cat.put("docs", spark.read.parquet(f"{sf_smoke}/documents.parquet"))
    cache = SemanticCache(spark, str(tmp_path / "cache"))

    df1, hit1 = _wc_pipeline(cat, cache).run()
    rows1 = sorted((r["key"], r["value"]) for r in df1.collect())
    df2, hit2 = _wc_pipeline(cat, cache).run()
    rows2 = sorted((r["key"], r["value"]) for r in df2.collect())

    assert (hit1, hit2) == (False, True)
    assert rows1 == rows2
    assert cache.stats.hits == 1 and cache.stats.misses == 1


def test_miss_after_input_change(spark, sf_smoke, tmp_path):
    cat = Catalog(spark, str(tmp_path / "tables"))
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    cat.put("docs", docs)
    cache = SemanticCache(spark, str(tmp_path / "cache"))

    _, hit1 = _wc_pipeline(cat, cache).run()
    cat.put("docs", docs.limit(10))  # version bump = new snapshot
    _, hit2 = _wc_pipeline(cat, cache).run()
    assert (hit1, hit2) == (False, False)


def test_lru_eviction(spark, tmp_path):
    cache = SemanticCache(spark, str(tmp_path / "cache"), budget_bytes=1)
    df = spark.range(10)
    cache.materialize("fp_a", df)
    cache.materialize("fp_b", df)
    # budget of 1 byte: materializing b must evict a (a is LRU tail)
    assert cache.lookup("fp_a") is None
    assert cache.stats.evictions >= 1


def test_lookup_pins_against_eviction(spark, tmp_path):
    # ADVICE r1: a DataFrame returned by lookup() is a lazy read over
    # the cache path; later eviction must not delete its files before
    # the caller executes the plan.
    cache = SemanticCache(spark, str(tmp_path / "cache"), budget_bytes=1)
    cache.materialize("fp_a", spark.range(10))
    held = cache.lookup("fp_a")  # pins fp_a for the session
    cache.materialize("fp_b", spark.range(10))  # over budget -> wants to evict a
    assert held.count() == 10  # plan still executes
    cache.unpin("fp_a")
    cache.materialize("fp_c", spark.range(10))
    assert cache.lookup("fp_a") is None  # evictable again after unpin


def test_invalidate(spark, tmp_path):
    cache = SemanticCache(spark, str(tmp_path / "cache"))
    cache.materialize("fp_x", spark.range(5))
    assert cache.lookup("fp_x") is not None
    cache.invalidate("fp_x")
    assert cache.lookup("fp_x") is None


def test_two_sessions_share_root_without_losing_registrations(spark, tmp_path):
    """Two SemanticCache instances on one root: each publishes its own
    entry and hammers hits on it, and neither drops the other's entry
    (an entry is its own directory, so there is no shared record for
    one session to overwrite). A fresh third instance sees every
    entry."""
    root = str(tmp_path / "shared")
    a = SemanticCache(spark, root)
    b = SemanticCache(spark, root)
    a.materialize("fp_a", spark.range(3))
    b.materialize("fp_b", spark.range(4))  # must not drop fp_a
    # hits must not clobber the other session's entry
    for _ in range(3):
        assert a.lookup("fp_a") is not None
        assert b.lookup("fp_b") is not None
    # a was constructed before fp_b existed; a's next write (a third
    # entry) must still preserve fp_b
    a.materialize("fp_c", spark.range(5))
    fresh = SemanticCache(spark, root)
    assert fresh.lookup("fp_a") is not None
    assert fresh.lookup("fp_b") is not None
    assert fresh.lookup("fp_c") is not None
    assert fresh.stats.misses == 0


def test_cross_session_hit_after_peer_registration(spark, tmp_path):
    """A session constructed BEFORE a peer published an entry still
    hits on it: a lookup reads the root, not a view taken at
    construction."""
    root = str(tmp_path / "shared2")
    early = SemanticCache(spark, root)
    late = SemanticCache(spark, root)
    late.materialize("fp_z", spark.range(7))
    got = early.lookup("fp_z")
    assert got is not None and got.count() == 7
    assert early.stats.hits == 1


def test_peer_misses_an_entry_that_is_mid_write(spark, tmp_path):
    """A peer that has seen an entry looks it up while another session
    is rewriting it, i.e. the entry directory holds only the
    ``_temporary/0/`` tree Spark's committer leaves mid-job. The lookup
    misses; it neither raises nor serves a partial entry."""
    import os
    import shutil

    root = str(tmp_path / "shared")
    a = SemanticCache(spark, root)
    a.materialize("fp", spark.range(5))
    peer = SemanticCache(spark, root)
    assert peer.peek("fp")
    path = os.path.join(root, "fp.parquet")
    shutil.rmtree(path)
    os.makedirs(os.path.join(path, "_temporary", "0"))
    assert peer.lookup("fp") is None
    assert peer.stats.misses == 1 and peer.stats.hits == 0
    assert not peer.peek("fp")


def test_unregistered_directory_is_counted_and_evicted(spark, tmp_path):
    """A parquet directory in the root that no cache published (a
    writer that died mid-publish, or an older cache layout) is never
    served, counts against the budget and is evicted. Afterwards the
    root holds only the surviving entry: the sighting marker is older
    than it, so the evicting pass drops the marker too."""
    import os

    root = tmp_path / "cache"
    root.mkdir()
    spark.range(50).write.parquet(str(root / "orphan.parquet"))
    cache = SemanticCache(spark, str(root), budget_bytes=1)
    assert cache.lookup("orphan") is None
    assert cache.note_subplan("fp_s") == 1
    assert SemanticCache(spark, str(root)).note_subplan("fp_s") == 2
    cache.materialize("fp_a", spark.range(3))
    cache.materialize("fp_b", spark.range(4))
    names = sorted(os.listdir(root))
    assert "orphan.parquet" not in names
    assert names == ["fp_b.parquet"], names
    assert cache.stats.evictions == 2


def test_later_publish_keeps_the_first_entry(spark, tmp_path):
    """Two sessions materialize one fingerprint: the second keeps the
    entry the first published and drops its own copy, so a read the
    first session already handed out stays valid."""
    root = str(tmp_path / "shared")
    a, b = SemanticCache(spark, root), SemanticCache(spark, root)
    held = a.materialize("fp", spark.range(0, 3))
    got = b.materialize("fp", spark.range(0, 3).repartition(2))
    assert sorted(r[0] for r in held.collect()) == [0, 1, 2]
    assert sorted(r[0] for r in got.collect()) == [0, 1, 2]


def test_legacy_entry_is_replaced_when_rematerialised(spark, tmp_path):
    """An entry directory without ``_entry.json`` (written by an older
    cache) misses and is replaced by the next materialize."""
    root = tmp_path / "cache"
    root.mkdir()
    spark.range(3).write.parquet(str(root / "fp.parquet"))
    cache = SemanticCache(spark, str(root))
    assert cache.lookup("fp") is None
    cache.materialize("fp", spark.range(10, 12))
    assert sorted(r[0] for r in cache.lookup("fp").collect()) == [10, 11]


def test_concurrent_first_sightings_count_once(spark, tmp_path):
    """Threads on caches sharing one root race to sight the same
    subplans: each fingerprint is reported as a first sighting exactly
    once, so no sighting is lost and none counted twice."""
    import sys
    import threading

    root = str(tmp_path / "shared")
    caches = [SemanticCache(spark, root) for _ in range(8)]
    fps = [f"sub{i}" for i in range(200)]
    firsts: list[list[str]] = [[] for _ in caches]

    def sight(i: int) -> None:
        for fp in fps:
            if caches[i].note_subplan(fp) == 1:
                firsts[i].append(fp)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=sight, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert sorted(fp for f in firsts for fp in f) == sorted(fps)


def test_sighting_markers_age_out_with_evicted_entries(spark, tmp_path):
    """Many distinct sightings under a budget that holds one entry: each
    evicting materialize drops every marker older than the entry it
    keeps, so only sightings newer than the surviving entry are left,
    and invalidate() drops those too."""
    import os

    root = tmp_path / "cache"
    cache = SemanticCache(spark, str(root), budget_bytes=1)
    for i in range(6):
        assert cache.note_subplan(f"s{i}") == 1
        cache.materialize(f"e{i}", spark.range(i + 1))
    cache.note_subplan("late")
    assert sorted(os.listdir(root)) == ["e5.parquet", "late.seen"]
    survivor = os.stat(root / "e5.parquet" / "_entry.json").st_mtime
    assert os.stat(root / "late.seen").st_mtime >= survivor
    cache.invalidate()
    assert os.listdir(root) == []


# -- cross-query SUBPLAN reuse (VERDICT r6 task 6) ----------------------


def _traced_tokenizer(trace_dir: str):
    """Expensive-stage stand-in whose executions are observable: every
    Arrow batch it processes drops a marker file, so tests can assert
    the stage was SKIPPED (no new markers) when served from the cache.
    One shared fn object => one bytecode+closure fingerprint across
    pipelines, which is what makes their prefixes identical."""

    def fn(pdf):
        import os
        import uuid

        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, uuid.uuid4().hex), "w") as fh:
            fh.write("x")
        return pd.DataFrame(
            {
                "key": pdf["text"].str.lower().str.split().explode().dropna(),
                "value": "1",
            }
        )

    return fn


def _n_traces(trace_dir: str) -> int:
    import os

    return len(os.listdir(trace_dir)) if os.path.exists(trace_dir) else 0


def test_staged_prefix_reused_by_different_pipeline(spark, sf_smoke, tmp_path):
    """Pipeline B (different app, different tail) must serve pipeline
    A's staged tokenize prefix from the cache on B's COLD run: the
    traced stage executes zero new batches for B, the interior hit is
    counted, and B's result equals its uncached recompute."""
    cat = Catalog(spark, str(tmp_path / "tables"))
    cat.put("docs", spark.read.parquet(f"{sf_smoke}/documents.parquet"))
    cache = SemanticCache(spark, str(tmp_path / "cache"))
    trace = str(tmp_path / "trace")
    tok = _traced_tokenizer(trace)

    a = (
        Pipeline.from_table(cat, "docs", app="curate")
        .emit_kv(fn=tok)
        .stage()
        .count_by_key()
        .cached(cache)
    )
    _, hit_a = a.run()
    assert hit_a is False
    t_after_a = _n_traces(trace)
    assert t_after_a > 0

    def _b_pipeline():
        return (
            Pipeline.from_table(cat, "docs", app="filter")
            .emit_kv(fn=tok)
            .reduce_by_key(F.count("*"), alias="n")
        )

    hits_before = cache.stats.hits
    df_b, hit_b = _b_pipeline().cached(cache).run()
    rows_b = sorted((r["key"], r["n"]) for r in df_b.collect())
    assert hit_b is False  # different full plan: B is a cold run...
    assert cache.stats.hits == hits_before + 1  # ...served A's interior
    assert _n_traces(trace) == t_after_a  # tokenize stage NOT re-executed
    rows_ref = sorted(
        (r["key"], r["n"]) for r in _b_pipeline().to_df().collect()
    )
    assert rows_b == rows_ref


def test_unstaged_recurring_prefix_auto_promotes(spark, sf_smoke, tmp_path):
    """No stage() anywhere: run A records the shared prefix (sighting
    1, nothing materialized), run B's second sighting promotes it (B
    still computes it, and writes it through), run C serves it — C's
    traced stage executes zero new batches."""
    cat = Catalog(spark, str(tmp_path / "tables"))
    cat.put("docs", spark.read.parquet(f"{sf_smoke}/documents.parquet"))
    cache = SemanticCache(spark, str(tmp_path / "cache"))
    trace = str(tmp_path / "trace")
    tok = _traced_tokenizer(trace)

    def _pipe(app: str, tail):
        return tail(
            Pipeline.from_table(cat, "docs", app=app).emit_kv(fn=tok)
        ).cached(cache)

    _pipe("a1", lambda p: p.count_by_key()).run()
    t1 = _n_traces(trace)
    assert t1 > 0

    _pipe("a2", lambda p: p.reduce_by_key(F.count("*"), alias="n")).run()
    t2 = _n_traces(trace)
    assert t2 > t1  # B is the promoting run: it still computes the stage

    _pipe("a3", lambda p: p.reduce_by_key(F.max("value"), alias="m")).run()
    assert _n_traces(trace) == t2  # C serves the promoted prefix


def test_subplan_reuse_invalidated_by_input_mutation(spark, sf_smoke, tmp_path):
    """The interior key covers the input snapshot version: mutating the
    table after A's staged run must force B to RECOMPUTE (no stale
    interior hit) and B's result must reflect the mutated input."""
    cat = Catalog(spark, str(tmp_path / "tables"))
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    cat.put("docs", docs)
    cache = SemanticCache(spark, str(tmp_path / "cache"))
    trace = str(tmp_path / "trace")
    tok = _traced_tokenizer(trace)

    (
        Pipeline.from_table(cat, "docs", app="curate")
        .emit_kv(fn=tok)
        .stage()
        .count_by_key()
        .cached(cache)
        .run()
    )
    t1 = _n_traces(trace)

    cat.put("docs", docs.limit(7))  # version bump: new input snapshot
    df_b, hit_b = (
        Pipeline.from_table(cat, "docs", app="filter")
        .emit_kv(fn=tok)
        .reduce_by_key(F.count("*"), alias="n")
        .cached(cache)
        .run()
    )
    assert hit_b is False
    assert _n_traces(trace) > t1  # stage re-executed on the new snapshot
    total = df_b.agg(F.sum("n")).collect()[0][0]
    exp = (
        cat.get("docs")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
        .filter(F.col("t") != "")
        .count()
    )
    assert total == exp


# -- hit cost: a repeat hit runs only its caller's action ---------------


def _jobs_in(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs, counted under a fresh
    job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_hit_launches_at_most_one_job(spark, sf_smoke, tmp_path):
    """Rebuilding and rerunning a pipeline that hits re-reads neither
    the table nor the cache entry: the only Spark job is the caller's
    collect of the result."""
    cat = Catalog(spark, str(tmp_path / "tables"))
    cat.put("docs", spark.read.parquet(f"{sf_smoke}/documents.parquet"))
    cache = SemanticCache(spark, str(tmp_path / "cache"))
    cold, hit = _wc_pipeline(cat, cache).run()
    want = sorted(map(tuple, cold.collect()))
    assert hit is False and _wc_pipeline(cat, cache).run()[1] is True

    served = []

    def rerun():
        df, hit = _wc_pipeline(cat, cache).run()
        served.append((hit, sorted(map(tuple, df.collect()))))

    assert _jobs_in(spark, rerun) <= 1
    assert served == [(True, want)]


def test_building_a_seen_chain_launches_no_job(spark, sf_smoke, tmp_path):
    """The table read behind ``Pipeline.from_table`` is memoised per
    commit and the chain's plan is built lazily, so building a chain a
    second time runs no schema inference or any other job."""
    cat = Catalog(spark, str(tmp_path / "tables"))
    cat.put("docs", spark.read.parquet(f"{sf_smoke}/documents.parquet"))

    def build():
        return (
            Pipeline.from_table(cat, "docs", app="b")
            .filter(F.col("doc_id") > 0)
            .emit_kv(key=F.col("doc_id"))
            .count_by_key()
        )

    build()
    assert _jobs_in(spark, build) == 0


def test_memoised_hit_follows_peer_rematerialisation(spark, tmp_path):
    """A peer cache on the same root invalidates and rematerialises an
    entry this cache already served: the next hit here reads the new
    files (no FileNotFoundException from the replaced ones) and
    returns the new rows."""
    root = str(tmp_path / "shared")
    a, b = SemanticCache(spark, root), SemanticCache(spark, root)
    a.materialize("fp", spark.range(0, 3))
    assert sorted(r[0] for r in a.lookup("fp").collect()) == [0, 1, 2]

    b.invalidate("fp")
    b.materialize("fp", spark.range(10, 14))
    got = a.lookup("fp")
    assert got is not None
    assert sorted(r[0] for r in got.collect()) == [10, 11, 12, 13]

    b.invalidate("fp")
    assert a.lookup("fp") is None
