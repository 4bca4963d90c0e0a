"""Round-10 regression tests: the ADVICE r9 findings (NULL group keys
dropped by the vectorized kmv/sample sketch partials, Count-Min
join-size NULL on disjoint buckets, auc_roc ungrouped persist leak,
get_many pin side effect on an unwritable catalog root) plus the
VERDICT r9 tasks landed this round (dHash pair-budget guard, kcore
delta-degree peel)."""

from __future__ import annotations

import os
import stat

import pytest
from pyspark.sql import functions as F


# -- ADVICE r9 #1 (medium): NULL group keys in sketch partials ---------


def test_kmv_sketch_keeps_null_group(spark):
    """kmv_sketch over [(None,1),('a',2),(None,3)] must return BOTH
    groups — Spark groupBy treats NULL as a real group; the pandas
    partial pass previously dropped it (dropna=True default)."""
    from eclipse_spark.operators.sketch import kmv_sketch

    df = spark.createDataFrame(
        [(None, "v1"), ("a", "v2"), (None, "v3")], "g string, v string"
    )
    rows = kmv_sketch(df, ["g"], "v", k=8).collect()
    by_key = {r["g"]: r for r in rows}
    assert set(by_key) == {None, "a"}
    assert by_key[None]["n_hashes"] == 2  # v1, v3 distinct hashes
    assert by_key["a"]["n_hashes"] == 1


def test_kmv_sketch_null_group_matches_exact_distinct(spark):
    """NULL-group sketch must merge across partitions like any other
    group: a small-cardinality null group stays EXACT (n_hashes < k)."""
    from eclipse_spark.operators.sketch import kmv_sketch

    rows = [(None, f"x{i % 5}") for i in range(200)]
    rows += [("g1", f"y{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v string").repartition(8)
    got = {r["g"]: r["n_hashes"] for r in kmv_sketch(df, ["g"], "v", k=64).collect()}
    assert got == {None: 5, "g1": 7}


def test_sample_sketch_keeps_null_group(spark):
    """sample_sketch NULL-keyed groups get a sample row with the exact
    group count (same ADVICE finding, second site)."""
    from eclipse_spark.operators.sketch import sample_sketch, sample_quantiles

    rows = [(None, float(i), i) for i in range(10)]
    rows += [("a", float(100 + i), 100 + i) for i in range(4)]
    df = spark.createDataFrame(rows, "g string, v double, id long").repartition(4)
    sk = sample_sketch(df, ["g"], "v", "id", k=32)
    got = {r["g"]: r["n"] for r in sk.collect()}
    assert got == {None: 10, "a": 4}
    # n <= k so quantiles are exact order statistics
    q = {r["g"]: r["q_5"] for r in sample_quantiles(sk, ["g"], [0.5]).collect()}
    assert q[None] == 4.0  # rank floor(0.5*9)=4 of 0..9
    assert q["a"] == 101.0


def test_kmv_set_ops_null_group_join(spark):
    """Downstream sketch algebra must see the null group on both sides
    of the key join (Spark's null-safe groupBy key survives because the
    algebra joins on the group column with <=> semantics not required —
    both rows carry None and Spark equi-join drops them; assert the
    sketches themselves exist so callers can choose eqNullSafe)."""
    from eclipse_spark.operators.sketch import kmv_sketch

    a = spark.createDataFrame([(None, "x1"), (None, "x2")], "g string, v string")
    sk = kmv_sketch(a, ["g"], "v", k=8).collect()
    assert len(sk) == 1 and sk[0]["g"] is None and sk[0]["n_hashes"] == 2


# -- ADVICE r9 #2: count_min_join_size empty intersection --------------


def test_cms_join_size_disjoint_is_zero(spark):
    """Two sketches over fully disjoint key domains at a tiny width can
    share no (d,bucket) row; the estimate must read 0, not NULL."""
    from eclipse_spark.operators.sketch import count_min_build, count_min_join_size

    a = spark.createDataFrame([("a1",), ("a2",)], "k string")
    b = spark.createDataFrame([("b1",), ("b2",)], "k string")
    # width 2: 2 items on 2 buckets per depth — force disjointness by
    # picking items that land apart, retrying widths until per_d empty
    for width in (2, 3, 5, 7, 11, 13):
        sa = count_min_build(a, "k", width=width, depth=1)
        sb = count_min_build(b, "k", width=width, depth=1)
        inter = sa.join(sb.select("d", "bucket"), ["d", "bucket"]).count()
        if inter == 0:
            est = count_min_join_size(sa, sb).collect()[0]["join_size_est"]
            assert est == 0
            return
    pytest.skip("no width produced disjoint buckets for these items")


# -- ADVICE r9 #3: auc_roc ungrouped persist lifecycle ------------------


def test_auc_roc_ungrouped_releases_persist(spark):
    """The range-partitioned distinct-score block must not outlive the
    call (persist + eager-result-checkpoint + unpersist)."""
    from eclipse_spark.operators.profile import auc_roc

    before = {
        r.id() for r in spark.sparkContext._jsc.getPersistentRDDs().values()
    } if hasattr(spark.sparkContext._jsc, "getPersistentRDDs") else set()
    df = spark.createDataFrame(
        [(float(i % 17) / 17.0, i % 2) for i in range(500)], "s double, y int"
    )
    out = auc_roc(df, "s", "y").collect()
    assert len(out) == 1 and 0.0 <= out[0]["auc"] <= 1.0
    jsc = spark.sparkContext._jsc
    after = {r.id() for r in jsc.getPersistentRDDs().values()}
    # no NEW persisted RDD pinned by the call (checkpointed RDDs are
    # not in the persistent map once unpersisted)
    leaked = after - before
    assert not leaked, f"auc_roc leaked persisted RDD ids {leaked}"


def test_auc_roc_ungrouped_value_unchanged(spark):
    """Lifecycle fix must not change the exact Mann-Whitney value."""
    from eclipse_spark.operators.profile import auc_roc

    rows = [(0.9, 1), (0.8, 1), (0.7, 0), (0.6, 1), (0.5, 0), (0.5, 1), (0.2, 0)]
    r = auc_roc(spark.createDataFrame(rows, "s double, y int"), "s", "y").collect()[0]
    # pos scores: .9 .8 .6 .5 ; neg: .7 .5 .2
    # pairs: 12 total; wins: .9>all(3) .8>all(3) .6>(.5,.2)=2 .5>(.2)=1 -> 9
    # ties: (.5,.5) -> 1 half-credit
    assert r["n_pos"] == 4 and r["n_neg"] == 3
    assert r["auc_num2"] == 2 * 9 + 1
    assert abs(r["auc"] - (9.5 / 12.0)) < 1e-12


# -- ADVICE r9 #4: get_many on an unwritable catalog root ---------------


def test_get_many_readonly_root_falls_back(spark, tmp_path):
    """On a root the process cannot write, get_many must still read
    every table instead of raising, and must leave nothing behind."""
    from eclipse_spark.storage import Catalog

    root = str(tmp_path / "cat")
    cat = Catalog(spark, root, retain_versions=2)
    cat.put("t1", spark.range(5).select(F.col("id").alias("a")))
    cat.put("t2", spark.range(3).select(F.col("id").alias("b")))
    mode = os.stat(root).st_mode
    os.chmod(root, stat.S_IRUSR | stat.S_IXUSR)
    try:
        dfs = cat.get_many(["t1", "t2"])
        assert dfs["t1"].count() == 5 and dfs["t2"].count() == 3
        assert not [f for f in os.listdir(root) if ".pin." in f]
    finally:
        os.chmod(root, mode)


def test_get_many_writable_root_still_pins(spark, tmp_path):
    from eclipse_spark.storage import Catalog

    root = str(tmp_path / "cat2")
    cat = Catalog(spark, root, retain_versions=2)
    cat.put("t", spark.range(4).select(F.col("id").alias("a")))
    before = cat.history("t")
    cat.get_many(["t"])
    after = cat.history("t")
    assert len(after) >= len(before)  # a read never drops a snapshot


# -- VERDICT r9 task 1: dHash pair-budget guard + wide/composed keys ----


@pytest.fixture(scope="module")
def dhash_corpus(spark):
    from eclipse_spark.operators import multimodal as mm

    ids = spark.range(0, 250)
    bmps = mm.encode_textured_bmp(ids, id_col="id")
    planted = bmps.filter(F.col("id") % 10 == 0).select(
        (F.col("id") + 100000).alias("id"), "bytes"
    )
    return bmps.unionByName(planted).persist()


def test_dhash_guard_trips_on_saturated_keyspace(spark, dhash_corpus):
    """The pre-join candidate-volume audit must RAISE before the join
    when the measured volume exceeds max_pairs, naming the volume."""
    from eclipse_spark.operators import multimodal as mm

    hs = mm.dhash_bands(dhash_corpus)
    with pytest.raises(ValueError, match="candidate pairs > max_pairs"):
        mm.dhash_near_pairs(hs, max_hamming=3, max_pairs=5)


def test_dhash_guard_passthrough_result_unchanged(spark, dhash_corpus):
    """With a generous budget the guarded path returns exactly the
    unguarded (max_pairs=None) answer — planted dups at hamming 0."""
    from eclipse_spark.operators import multimodal as mm

    hs = mm.dhash_bands(dhash_corpus)
    guarded = {
        (r.id_a, r.id_b, r.hamming)
        for r in mm.dhash_near_pairs(hs, max_hamming=3).collect()
    }
    free = {
        (r.id_a, r.id_b, r.hamming)
        for r in mm.dhash_near_pairs(hs, max_hamming=3, max_pairs=None).collect()
    }
    assert guarded == free
    planted = {(i, i + 100000) for i in range(0, 250, 10)}
    assert planted <= {(a, b) for a, b, h in guarded if h == 0}


def test_dhash_guard_releases_persist(spark, dhash_corpus):
    from eclipse_spark.operators import multimodal as mm

    jsc = spark.sparkContext._jsc
    hs = mm.dhash_bands(dhash_corpus)
    before = {r.id() for r in jsc.getPersistentRDDs().values()}
    mm.dhash_near_pairs(hs, max_hamming=3).count()
    after = {r.id() for r in jsc.getPersistentRDDs().values()}
    # the audit's (id, bands) persist must be released; the ONLY block
    # allowed to remain is the returned frame's own localCheckpoint
    # (released with the frame at GC — the semantic_dedup lifetime)
    leaked = after - before
    assert len(leaked) <= 1, f"dhash_near_pairs leaked {leaked}"


def test_dhash_wide_matches_brute_force(spark, dhash_corpus):
    """128-bit dHash single-band LSH at the full Hamming<=7 pigeonhole
    bound must equal the all-pairs exact answer."""
    import itertools

    from eclipse_spark.operators import multimodal as mm

    hs = mm.dhash_bands_wide(dhash_corpus)
    hrows = {r["id"]: [r[f"b{t}"] for t in range(8)] for r in hs.collect()}

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    bf = {
        (a, b)
        for a, b in itertools.combinations(sorted(hrows), 2)
        if ham(hrows[a], hrows[b]) <= 7
    }
    got = {
        (r.id_a, r.id_b)
        for r in mm.dhash_near_pairs(
            hs, max_hamming=7, n_bands=8, max_pairs=None
        ).collect()
    }
    assert got == bf and bf  # non-vacuous


def test_dhash_composed_recall_within_bound(spark, dhash_corpus):
    """Composed 32-bit pair keys guarantee recall for
    max_hamming <= n_bands - 2: at that bound the composed answer must
    equal the single-band answer (which is exact by the stronger
    pigeonhole)."""
    from eclipse_spark.operators import multimodal as mm

    hs = mm.dhash_bands_wide(dhash_corpus)
    single = {
        (r.id_a, r.id_b, r.hamming)
        for r in mm.dhash_near_pairs(
            hs, max_hamming=6, n_bands=8, max_pairs=None
        ).collect()
    }
    composed = {
        (r.id_a, r.id_b, r.hamming)
        for r in mm.dhash_near_pairs(
            hs, max_hamming=6, n_bands=8, composed=True, max_pairs=None
        ).collect()
    }
    assert composed == single


def test_dhash_bound_validation(spark, dhash_corpus):
    from eclipse_spark.operators import multimodal as mm

    hs4 = mm.dhash_bands(dhash_corpus)
    with pytest.raises(ValueError, match="pigeonhole"):
        mm.dhash_near_pairs(hs4, max_hamming=4)  # 4 bands: bound 3
    with pytest.raises(ValueError, match="pigeonhole"):
        mm.dhash_near_pairs(hs4, max_hamming=3, composed=True)  # bound 2


def test_dhash_candidate_volume_composed_reduces_chance_collisions(
    spark,
):
    """On hash-random band values with n >> nothing (just structure):
    composed 32-bit keys must produce no MORE candidates than 28/8 x
    the single-band volume, and for a corpus of distinct textured
    images collisions should be near zero."""
    from eclipse_spark.operators import multimodal as mm

    ids = spark.range(0, 400)
    hs = mm.dhash_bands_wide(mm.encode_textured_bmp(ids, id_col="id"))
    v_single = mm.dhash_candidate_volume(hs, 8, False)
    v_comp = mm.dhash_candidate_volume(hs, 8, True)
    # single-band: 8 tables of 2^16 keys; composed: 28 tables of 2^32.
    # Real near-dups appear in both; chance collisions only in single.
    assert v_comp <= max(v_single, 1) * 28 // 8 + 28
