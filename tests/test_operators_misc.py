"""Skew helpers, multimodal plumbing, text ops, sources, scalar fns."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eclipse_spark.functions.scalar import murmur_bucket, safe_div
from eclipse_spark.operators import multimodal, skew, text
from eclipse_spark.sources import read_any, write_any


# -- skew -------------------------------------------------------------

def test_two_phase_agg_matches_direct(spark, sf_smoke):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    direct = {
        r["l_returnflag"]: r["s"]
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"))
        .collect()
    }
    two = skew.two_phase_agg(
        li,
        ["l_returnflag"],
        [F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q_part")],
        [F.sum("q_part").alias("s")],
        buckets=8,
    )
    got = {r["l_returnflag"]: r["s"] for r in two.collect()}
    assert got == direct


def test_salt_is_deterministic_and_bounded(spark, sf_smoke):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").limit(1000)
    s1 = skew.salt(li, "l_returnflag", 8).select("_salt").toPandas()["_salt"]
    s2 = skew.salt(li, "l_returnflag", 8).select("_salt").toPandas()["_salt"]
    assert (s1 == s2).all()
    assert s1.between(0, 7).all()


def test_skew_join_salted_matches_plain(spark, sf_smoke):
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    customer = spark.read.parquet(f"{sf_smoke}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(customer, "o_custkey").count()
    salted = skew.skew_join_salted(orders, customer, "o_custkey", buckets=4).count()
    assert salted == plain


# -- multimodal -------------------------------------------------------

@pytest.fixture()
def media_df(spark):
    rows = [
        (1, "image", bytearray(b"\x89PNGfakebytes-1"), (4, 4, "image/png")),
        (2, "image", bytearray(b"\x89PNGfakebytes-22"), (8, 8, "image/png")),
        (3, "audio", bytearray(b"RIFFfakewav"), (0, 0, "audio/wav")),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_content_meta(media_df):
    out = multimodal.with_content_meta(media_df)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["n_bytes"] == 15
    assert len(rows[1]["content_hash"]) == 64


def test_decode_features_real_kernel_bmp_without_pil(spark):
    """fake=False runs REAL decoding with no image library: the
    vendored BMP codec handles BMP payloads; a solid-red BMP must
    yield high mean_r / zero mean_g."""
    import numpy as np

    from eclipse_spark.operators.multimodal import bmp_encode

    arr = np.zeros((12, 16, 3), dtype=np.uint8)
    arr[..., 0] = 255
    df = spark.createDataFrame(
        [(1, "image", bytearray(bmp_encode(arr)), (16, 12, "image/bmp"))],
        multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.decode_features(df, fake=False).collect()[0]["features"]
    assert len(feats) == 8
    assert feats[0] == 1.0 and feats[1] == 0.0  # solid red
    assert feats[5] == 16 / 12  # aspect from real header parse


def test_decode_features_real_kernel_non_bmp_without_pil_raises(media_df):
    """Non-BMP payloads with PIL absent must fail loudly at execution
    (never silently emit stub features). With PIL installed the same
    payloads go through the PIL branch instead."""
    if multimodal._pil_image_module() is not None:
        pytest.skip("PIL present: non-BMP payloads decode for real")
    with pytest.raises(Exception, match="not an uncompressed BMP"):
        multimodal.decode_features(media_df, fake=False).collect()


def test_decode_features_fake_is_deterministic(media_df):
    out1 = {r["id"]: r["features"] for r in multimodal.decode_features(media_df, fake=True).collect()}
    out2 = {r["id"]: r["features"] for r in multimodal.decode_features(media_df, fake=True).collect()}
    assert out1 == out2
    assert all(len(v) == 8 for v in out1.values())


def test_resize_media_stub_payload_exact(media_df):
    """Stub resize: payload must be the content digest tiled to exactly
    width*height*3 bytes — sized buffers, deterministic, replayable."""
    import hashlib

    out = {r["id"]: r for r in multimodal.resize_media(media_df, width=4, height=2, fake=True).collect()}
    assert set(out) == {1, 2, 3}
    src = {1: b"\x89PNGfakebytes-1", 2: b"\x89PNGfakebytes-22", 3: b"RIFFfakewav"}
    for i, payload in src.items():
        digest = hashlib.sha256(payload).digest()
        expect = (digest * 1)[: 4 * 2 * 3]
        assert bytes(out[i]["bytes"]) == expect
        assert (out[i]["width"], out[i]["height"]) == (4, 2)


def test_resize_media_real_kernel_bmp_without_pil(spark):
    """Real resize path with no image library: BMP in, nearest-neighbor
    sampled BMP out at the target dimensions."""
    import numpy as np

    from eclipse_spark.operators.multimodal import bmp_decode, bmp_encode

    arr = np.zeros((12, 16, 3), dtype=np.uint8)
    arr[..., 1] = 200
    df = spark.createDataFrame(
        [(1, "image", bytearray(bmp_encode(arr)), (16, 12, "image/bmp"))],
        multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.resize_media(df, width=8, height=8, fake=False).collect()[0]
    w2, h2, dec = bmp_decode(bytes(row["bytes"]))
    assert (w2, h2) == (8, 8)
    assert (dec[..., 1] == 200).all() and (dec[..., 0] == 0).all()


def test_frame_sample_plan(media_df):
    out = multimodal.frame_sample_plan(media_df, every_n=5)
    assert out.columns == ["id", "frame_idx"]
    assert out.count() > 0


# -- text -------------------------------------------------------------

def test_language_id_basic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is happy"),
            (2, "der hund ist nicht in das haus und die katze"),
            (3, "zzz qqq xxx"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in text.language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"


def test_admin_status(spark):
    import eclipse_spark

    st = eclipse_spark.status(spark)
    assert st.default_parallelism >= 1
    assert st.n_executors >= 1
    assert st.n_active_jobs >= 0


def test_doc_fingerprint_stable_under_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "hello world foo bar baz"), (2, "hello   world\tfoo bar baz")],
        ["doc_id", "text"],
    )
    fps = [r["fp"] for r in text.doc_fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_quality_stats_columns(spark):
    df = spark.createDataFrame([(1, "The quick brown fox, it is 42!")], ["doc_id", "text"])
    row = text.quality_stats(df).collect()[0]
    assert row["n_tokens"] == 7
    assert 0 < row["punct_ratio"] < 0.2
    assert row["digit_ratio"] > 0
    assert row["stopword_ratio"] > 0


# -- sources ----------------------------------------------------------

def test_read_any_requires_schema_for_csv(spark, tmp_path):
    with pytest.raises(ValueError):
        read_any(spark, str(tmp_path), "csv")


def test_write_read_roundtrip(spark, sf_smoke, tmp_path):
    df = spark.read.parquet(f"{sf_smoke}/region.parquet")
    out = str(tmp_path / "r.json")
    write_any(df, out, fmt="json")
    back = read_any(spark, out, fmt="json", schema="r_regionkey int, r_name string")
    assert back.count() == df.count()


# -- scalar fns -------------------------------------------------------

def test_safe_div_and_bucket(spark):
    df = spark.range(4).select(
        safe_div(F.lit(10.0), F.col("id")).alias("d"),
        murmur_bucket(F.col("id"), 4).alias("b"),
    )
    rows = df.collect()
    assert rows[0]["d"] is None  # 10/0 -> NULL
    assert all(0 <= r["b"] < 4 for r in rows)


# -- graph: co-occurrence edges + triangle count ----------------------

def test_triangle_count_known_graph(spark):
    # K4 minus one edge: edges of {1,2,3,4} complete except (3,4).
    # Triangles: {1,2,3} and {1,2,4} -> 2. Fed in MIXED orientation and
    # with a duplicate + self-loop to exercise canonicalization.
    from eclipse_spark.operators.graph import triangle_count

    rows = [(1, 2), (2, 3), (3, 1), (4, 1), (2, 4), (2, 1), (3, 3)]
    edges = spark.createDataFrame(rows, ["a", "b"])
    out = triangle_count(edges).collect()[0]
    assert out["n_nodes"] == 4
    assert out["n_edges"] == 5
    assert out["n_triangles"] == 2


def test_cooccurrence_edges_bounded_and_canonical(spark):
    from eclipse_spark.operators.graph import cooccurrence_edges

    rows = [("o1", 10), ("o1", 20), ("o1", 30), ("o2", 20), ("o2", 10), ("o2", 10)]
    df = spark.createDataFrame(rows, ["g", "item"])
    got = {(r["a"], r["b"]) for r in cooccurrence_edges(df, "g", "item").collect()}
    assert got == {(10, 20), (10, 30), (20, 30)}  # a<b, distinct, no self


# -- decontamination --------------------------------------------------

def test_decontaminate_flags_exact_overlap_only(spark):
    from eclipse_spark.operators.dedup import ngram_decontaminate

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words alpha beta gamma delta epsilon zeta suffix"),
            (2, "alpha beta gamma unrelated delta epsilon zeta"),  # no 5-gram run
            (3, "completely different text with other tokens here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["n_hits"]
        for r in ngram_decontaminate(corpus, bench, n=5).collect()
    }
    # doc 1 contains both 5-gram windows of the 6-token benchmark doc
    assert got == {1: 2}


def test_decontaminate_benchmark_side_broadcast(spark, sf_smoke):
    from eclipse_spark.operators.dedup import ngram_decontaminate

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    out = ngram_decontaminate(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        n=8,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# -- deterministic group sample ---------------------------------------

def test_group_sample_deterministic_and_sized(spark, sf_smoke):
    from eclipse_spark.operators.relational import deterministic_group_sample

    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    s1 = deterministic_group_sample(orders, ["o_orderpriority"], "o_orderkey", 3)
    s2 = deterministic_group_sample(
        orders.repartition(7), ["o_orderpriority"], "o_orderkey", 3
    )
    p1 = {(r["o_orderpriority"], r["o_orderkey"]) for r in s1.collect()}
    p2 = {(r["o_orderpriority"], r["o_orderkey"]) for r in s2.collect()}
    assert p1 == p2  # partitioning-independent selection
    import collections

    per_group = collections.Counter(g for g, _ in p1)
    assert all(v == 3 for v in per_group.values())


# -- unigram log-prob -------------------------------------------------

def test_unigram_logprob_orders_quality(spark):
    from eclipse_spark.operators.text import unigram_logprob

    # "common common common" should outscore a doc of singletons.
    docs = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "rare1 rare2 rare3 rare4"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert got[1]["avg_logprob"] > got[2]["avg_logprob"]
    assert got[1]["n_tokens"] == 4 and got[2]["n_tokens"] == 4


def test_dataset_split_rejects_bad_fractions(spark, sf_smoke):
    """Fractions that are empty or don't sum to 1 raise instead of
    silently inflating the last split."""
    import pytest

    from eclipse_spark.operators.relational import dataset_split

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    with pytest.raises(ValueError, match="non-empty"):
        dataset_split(docs, {})
    with pytest.raises(ValueError, match="sum to 1"):
        dataset_split(docs, {"train": 0.5, "val": 0.1})
    # a valid mapping still works
    assert dataset_split(docs, {"a": 0.5, "b": 0.5}).count() == docs.count()


def test_run_concurrent_returns_in_order(spark, sf_smoke):
    """N concurrent actions under per-thread FAIR pools complete and
    return results in submission order."""
    from eclipse_spark.session import run_concurrent

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    n = docs.count()
    thunks = [lambda i=i: (i, docs.count()) for i in range(4)]
    got = run_concurrent(spark, thunks)
    assert got == [(i, n) for i in range(4)]
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None


def test_label_propagation_two_cliques(spark):
    from eclipse_spark.operators import graph

    # two triangles bridged by one edge: LPA keeps them as separate
    # min-label communities (CC would merge everything)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src bigint, dst bigint",
    )
    got = {r.node: r.label for r in graph.label_propagation(edges, n_rounds=2).collect()}
    # hand-computed synchronous evolution with (count desc, label asc)
    # tie-breaks: round 1 = {1:2,2:1,3:1,4:3,5:4,6:4}; round 2 below.
    # The left triangle converges to community 1; the right side shows
    # the classic sync-LPA oscillation — determinism is the contract.
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}


def test_asof_join_directions_and_ties(spark):
    from eclipse_spark.operators import relational

    def ts(s):
        return f"timestamp '2024-01-01 00:00:{s:02d}'"

    right = spark.createDataFrame(
        [(1, f"2024-01-01 00:00:{s:02d}", float(s)) for s in (10, 20)],
        "k bigint, ts string, value double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "value")
    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:05"),   # before both
         (2, 1, "2024-01-01 00:00:15"),   # equidistant between 10 and 20
         (3, 1, "2024-01-01 00:00:20"),   # exact match
         (4, 1, "2024-01-01 00:00:25")],  # after both
        "id bigint, k bigint, ts string",
    ).selectExpr("id", "k", "CAST(ts AS TIMESTAMP) AS ts")

    def vals(direction):
        out = relational.asof_join(
            left, right, on=["k"], right_payload=["value"], direction=direction
        )
        return {r.id: r.asof_value for r in out.collect()}

    assert vals("backward") == {1: None, 2: 10.0, 3: 20.0, 4: 20.0}
    assert vals("forward") == {1: 10.0, 2: 20.0, 3: 20.0, 4: None}
    # nearest: equidistant resolves BACKWARD; exact match sticks
    assert vals("nearest") == {1: 10.0, 2: 10.0, 3: 20.0, 4: 20.0}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        relational.asof_join(left, right, on=["k"], direction="sideways")


def test_bfs_distances_path_graph(spark):
    from eclipse_spark.operators import graph

    # path 1-2-3-4-5; source {1}: dists 0,1,2 within 2 hops; 4,5 unreached
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src bigint, dst bigint"
    )
    srcs = spark.createDataFrame([(1,)], "node bigint")
    got = {r.node: r.dist for r in graph.bfs_distances(edges, srcs, max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    # isolated source still reports itself at distance 0
    srcs2 = spark.createDataFrame([(99,)], "node bigint")
    got2 = {r.node: r.dist for r in graph.bfs_distances(edges, srcs2, max_hops=2).collect()}
    assert got2 == {99: 0}
    # deep path (max_hops > 4): per-hop checkpoint + fixpoint early
    # exit must return the same answer, quickly, on a converged graph
    got3 = {
        r.node: r.dist
        for r in graph.bfs_distances(edges, srcs, max_hops=24).collect()
    }
    assert got3 == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_shortest_paths_weighted_relaxation(spark):
    from eclipse_spark.operators import graph

    # 1 -(5)-> 3 direct, but 1->2->3 costs 2+1=3: Bellman-Ford must
    # prefer the longer-hop cheaper path; 4 hops reaches the chain end
    edges = spark.createDataFrame(
        [(1, 3, 5), (1, 2, 2), (2, 3, 1), (3, 4, 1), (4, 5, 1)],
        "src bigint, dst bigint, w bigint",
    )
    srcs = spark.createDataFrame([(1,)], "node bigint")
    got = {
        r.node: r.dist
        for r in graph.shortest_paths(edges, srcs, max_hops=4).collect()
    }
    assert got == {1: 0, 2: 2, 3: 3, 4: 4, 5: 5}
    # hop bound is a semantic contract: 2 hops can't see node 5, and
    # node 3's best-within-2-hops is already the cheap path
    got2 = {
        r.node: r.dist
        for r in graph.shortest_paths(edges, srcs, max_hops=2).collect()
    }
    assert got2 == {1: 0, 2: 2, 3: 3, 4: 6}


def test_shortest_paths_float_weights_exact(spark):
    """Fractional weights must flow through in the weight's own type —
    the old per-round long cast silently floored every round."""
    from eclipse_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, 0.5), (2, 3, 0.25), (1, 3, 1.0)],
        "src bigint, dst bigint, w double",
    )
    srcs = spark.createDataFrame([(1,)], "node bigint")
    got = {
        r.node: r.dist
        for r in graph.shortest_paths(edges, srcs, max_hops=3).collect()
    }
    assert got == {1: 0.0, 2: 0.5, 3: 0.75}


def test_shortest_paths_decimal_weights_widened_accumulator(spark):
    """ADVICE r7: a path sum can exceed the weight column's own decimal
    precision; casting each per-hop sum back to decimal(p,s) overflowed
    to NULL under non-ANSI mode, and min() silently dropped it. The
    accumulator must widen to decimal(38,s): a chain of decimal(3,1)
    weights (max 99.9) whose 3-hop total is 250.5 must come back exact,
    not NULL/missing."""
    from decimal import Decimal

    from eclipse_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, Decimal("99.9")), (2, 3, Decimal("90.0")),
         (3, 4, Decimal("60.6"))],
        "src bigint, dst bigint, w decimal(3,1)",
    )
    srcs = spark.createDataFrame([(1,)], "node bigint")
    got = {
        r.node: r.dist
        for r in graph.shortest_paths(edges, srcs, max_hops=3).collect()
    }
    assert got == {
        1: Decimal("0.0"),
        2: Decimal("99.9"),
        3: Decimal("189.9"),
        4: Decimal("250.5"),
    }


def test_shortest_paths_deep_hops_flat_plan(spark):
    """max_hops=24 on a tiny converged graph must stay cheap: the
    per-round localCheckpoint keeps plan depth flat and the checksum
    fixpoint exits after ~3 productive rounds instead of running 24
    exponentially-deeper plans (pre-fix this run never finished)."""
    import time
    from eclipse_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1)], "src bigint, dst bigint, w bigint"
    )
    srcs = spark.createDataFrame([(1,)], "node bigint")
    t0 = time.monotonic()
    got = {
        r.node: r.dist
        for r in graph.shortest_paths(edges, srcs, max_hops=24).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}
    assert time.monotonic() - t0 < 60


def test_temporal_join_interval_semantics(spark):
    """Facts pick the interval containing their ts: inclusive
    valid_from, exclusive valid_to, NULL attrs before the first
    interval, open current interval matches forever."""
    from datetime import datetime

    from eclipse_spark.operators.relational import temporal_join

    t = lambda s: datetime(2024, 1, 1, s, 0, 0)
    dim = spark.createDataFrame(
        [
            (1, "bronze", t(2), t(5)),
            (1, "gold", t(5), None),
            (2, "silver", t(3), None),
        ],
        ["uid", "tier", "valid_from", "valid_to"],
    )
    facts = spark.createDataFrame(
        [
            (100, 1, t(1)),   # before first interval -> NULL
            (101, 1, t(2)),   # at valid_from -> bronze (inclusive)
            (102, 1, t(4)),   # inside -> bronze
            (103, 1, t(5)),   # at boundary -> gold (exclusive old end)
            (104, 1, t(9)),   # open interval -> gold
            (105, 2, t(3)),   # silver
            (106, 3, t(3)),   # unknown key -> NULL
        ],
        ["fid", "uid", "ts"],
    )
    out = {
        r.fid: r.dim_tier
        for r in temporal_join(facts, dim, ["uid"], "ts", ["tier"]).collect()
    }
    assert out == {
        100: None, 101: "bronze", 102: "bronze", 103: "gold",
        104: "gold", 105: "silver", 106: None,
    }


def test_dense_index_contiguous_ordered_deterministic(spark, sf_smoke):
    """Two-pass range-partitioned indexing: contiguous 0..n-1, follows
    the requested total order, identical across runs (invariant to
    range-sampler boundary placement), and the plan's only total-order
    step is over the P-row offset table, never the data."""
    from eclipse_spark.operators.relational import dense_index

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    out = dense_index(docs, ["n_chars", "doc_id"], num_partitions=4)
    rows = sorted(out.collect(), key=lambda r: r.idx)
    assert [r.idx for r in rows] == list(range(len(rows)))
    keys = [(r.n_chars, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    again = {r.doc_id: r.idx for r in
             dense_index(docs, ["n_chars", "doc_id"], num_partitions=4).collect()}
    assert again == {r.doc_id: r.idx for r in rows}


def test_pps_sample_invariants(spark):
    """Hit counts sum to exactly n; an item heavier than the stride
    gets multiple hits; zero-weight rows never selected; deterministic."""
    from eclipse_spark.operators.relational import pps_systematic_sample

    rows = [(1, 10.0), (2, 0.0), (3, 70.0), (4, 10.0), (5, 10.0)]
    df = spark.createDataFrame(rows, ["k", "w"])
    out = pps_systematic_sample(df, "w", n_samples=10, order_cols=["k"]).collect()
    hits = {r.k: r.n_hits for r in out}
    assert sum(hits.values()) == 10
    assert 2 not in hits                       # zero weight
    assert hits[3] == 7                        # 70% of mass -> 7 of 10 hits
    again = {
        r.k: r.n_hits
        for r in pps_systematic_sample(df, "w", 10, ["k"]).collect()
    }
    assert again == hits


def test_serpentine_shards_exact_and_balanced(spark):
    """Ranks 0..11 over weight desc deal 4 shards serpentine
    0,1,2,3,3,2,1,0,0,1,2,3; totals stay within one max-weight; a
    repartitioned input assigns identically (dense_index invariance)."""
    from eclipse_spark.operators.relational import serpentine_shards

    rows = [(i, 100 - i) for i in range(12)]  # weight desc == id asc
    df = spark.createDataFrame(rows, ["id", "w"])
    got = {r["id"]: r["shard"] for r in
           serpentine_shards(df, "w", 4, ["id"]).collect()}
    assert [got[i] for i in range(12)] == [0, 1, 2, 3, 3, 2, 1, 0, 0, 1, 2, 3]

    got2 = {r["id"]: r["shard"] for r in
            serpentine_shards(df.repartition(5), "w", 4, ["id"]).collect()}
    assert got2 == got

    # balance on a skewed corpus: totals within one max weight
    import random
    rnd = random.Random(7)
    big = [(i, rnd.randint(1, 1000)) for i in range(500)]
    bdf = spark.createDataFrame(big, ["id", "w"])
    sums = {}
    for r in serpentine_shards(bdf, "w", 8, ["id"]).collect():
        sums[r["shard"]] = sums.get(r["shard"], 0) + r["w"]
    assert len(sums) == 8
    assert max(sums.values()) - min(sums.values()) <= 1000


def test_k_core_hand_graph(spark):
    """Triangle + pendant chain: the 2-core is exactly the triangle
    (peel cascades down the chain), 1-core keeps everything, 3-core is
    empty; the round budget raises loudly when exhausted."""
    import pytest as _pytest

    from eclipse_spark.operators.graph import k_core

    # triangle 1-2-3 plus chain 3-4-5-6
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)], ["a", "b"]
    )
    core2 = {r["node"]: r["degree"] for r in k_core(edges, 2).collect()}
    assert core2 == {1: 2, 2: 2, 3: 2}
    core1 = {r["node"]: r["degree"] for r in k_core(edges, 1).collect()}
    assert len(core1) == 6 and core1[3] == 3
    assert k_core(edges, 3).count() == 0

    # chain peel depth is ~len(chain): budget of 1 round must raise
    with _pytest.raises(RuntimeError, match="max_rounds"):
        k_core(edges, 2, max_rounds=1)


def test_k_core_matches_python_peel(spark):
    """Random sparse graph vs an independent driver-side peel."""
    import collections
    import random

    from eclipse_spark.operators.graph import k_core

    rnd = random.Random(13)
    pairs = {(rnd.randint(0, 60), rnd.randint(0, 60)) for _ in range(150)}
    pairs = [(a, b) for a, b in pairs if a != b]
    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b); adj[b].add(a)
    k = 3
    while True:
        bad = [n for n, s in adj.items() if len(s) < k]
        if not bad:
            break
        for n in bad:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    exp = {n: len(s) for n, s in adj.items()}
    got = {
        r["node"]: r["degree"]
        for r in k_core(
            spark.createDataFrame(pairs, ["a", "b"]), k
        ).collect()
    }
    assert got == exp


def test_k_truss_hand_graph(spark):
    """K4 + a pendant triangle sharing one vertex: every K4 edge sits
    in 2 triangles (4-truss), the pendant triangle's edges in 1
    (3-truss only); 5-truss is empty; k<3 is rejected; an exhausted
    round budget raises loudly."""
    import pytest as _pytest

    from eclipse_spark.operators.graph import k_truss

    # K4 on 1-4, pendant triangle 4-5-6
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (4, 6), (5, 6)],
        ["a", "b"],
    )
    t4 = {(r["a"], r["b"]): r["support"] for r in k_truss(edges, 4).collect()}
    assert set(t4) == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert all(s == 2 for s in t4.values())
    t3 = {(r["a"], r["b"]): r["support"] for r in k_truss(edges, 3).collect()}
    assert len(t3) == 9 and t3[(4, 5)] == 1 and t3[(1, 2)] == 2
    assert k_truss(edges, 5).count() == 0
    with _pytest.raises(ValueError, match="k >= 3"):
        k_truss(edges, 2)

    # a strip of triangles peels one from each end per round: budget 1
    # must raise for k=4 (nothing survives, but not in one round)
    strip = spark.createDataFrame(
        [(i, i + 1) for i in range(8)] + [(i, i + 2) for i in range(7)],
        ["a", "b"],
    )
    with _pytest.raises(RuntimeError, match="max_rounds"):
        k_truss(strip, 4, max_rounds=1)


def test_k_truss_fixpoint_after_the_last_check_round(spark):
    """Small graphs check for the fixpoint every 3rd round. K4 plus a
    pendant triangle peels in one round (the pendant triangle's edges
    have support 1 < k-2), so with a budget of 2 or 3 rounds the
    fixpoint lands after the last check; the post-loop confirmation
    returns it instead of raising "no fixpoint"."""
    from eclipse_spark.operators.graph import k_truss

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (4, 6), (5, 6)],
        ["a", "b"],
    )
    for max_rounds in (2, 3):
        got = {
            (r["a"], r["b"]): r["support"]
            for r in k_truss(edges, 4, max_rounds=max_rounds).collect()
        }
        assert got == {e: 2 for e in [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]}


def test_k_truss_matches_python_peel(spark):
    """Random sparse graph vs an independent driver-side edge peel."""
    import itertools
    import random

    from eclipse_spark.operators.graph import k_truss

    rnd = random.Random(29)
    pairs = {
        (min(a, b), max(a, b))
        for a, b in (
            (rnd.randint(0, 40), rnd.randint(0, 40)) for _ in range(260)
        )
        if a != b
    }
    edges = sorted(pairs)

    def supports(es):
        nbrs = {}
        for a, b in es:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        sup = {}
        for a, b in es:
            sup[(a, b)] = len(nbrs[a] & nbrs[b])
        return sup

    for k in (3, 4):
        live = set(edges)
        while True:
            sup = supports(live)
            drop = {e for e, s in sup.items() if s < k - 2}
            if not drop:
                break
            live -= drop
        exp = {e: s for e, s in supports(live).items()}
        got = {
            (r["a"], r["b"]): r["support"]
            for r in k_truss(
                spark.createDataFrame(edges, ["a", "b"]), k
            ).collect()
        }
        assert got == exp, f"k={k}"


def test_k_truss_degenerate_inputs(spark):
    """Triangle-free graphs truss to empty with the right schema
    (columns a, b, support — support typed long); self-loops and
    duplicate/reversed orientations collapse to canonical edges."""
    from eclipse_spark.operators.graph import k_truss

    # a path has no triangles: 3-truss is empty, schema intact
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["a", "b"])
    out = k_truss(path, 3)
    assert out.columns == ["a", "b", "support"]
    assert dict(out.dtypes)["support"] == "bigint"
    assert out.count() == 0

    # loops + both orientations + dups of a triangle: one canonical
    # triangle, every edge supported by exactly it
    messy = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (1, 3), (3, 3)],
        ["a", "b"],
    )
    got = {(r["a"], r["b"]): r["support"] for r in k_truss(messy, 3).collect()}
    assert got == {(1, 2): 1, (2, 3): 1, (1, 3): 1}


def test_hll_rollup_merge_consistency(spark):
    """union(per-shard sketches) must track a direct whole-group
    sketch within 2% (dense-mode union vs direct build), land within
    5% of exact, count shards exactly, and be deterministic."""
    import pyspark.sql.functions as F

    from eclipse_spark.operators.sketch import hll_rollup

    df = spark.range(0, 120000).selectExpr(
        "id % 3 AS g", "id % 11 AS shard", "(id * 7919) % 5000 AS v"
    )
    out = hll_rollup(df, ["g"], ["shard"], "v")
    direct = df.groupBy("g").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v", F.lit(12)))
        .cast("long")
        .alias("d"),
        F.countDistinct("v").alias("nd"),
    )
    rows = {r["g"]: r for r in out.join(direct, "g").collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert r["n_shards"] == 11
        # union accumulates in HLL_8; a direct sketch is HLL_4 — past
        # the dense transition they disagree within the rsd, so assert
        # consistency, not equality
        assert abs(r["distinct_est"] - r["d"]) <= 0.02 * r["d"]
        assert abs(r["distinct_est"] - r["nd"]) <= 0.05 * r["nd"]
    again = {r["g"]: r["distinct_est"] for r in out.collect()}
    assert again == {g: r["distinct_est"] for g, r in rows.items()}


def test_hll_rollup_multi_key_and_empty(spark):
    """Composite rollup keys and an empty input both behave: key
    tuples group independently; empty input -> zero rows."""
    from eclipse_spark.operators.sketch import hll_rollup

    df = spark.range(0, 5000).selectExpr(
        "id % 2 AS a", "id % 3 AS b", "id % 4 AS shard", "id % 100 AS v"
    )
    out = hll_rollup(df, ["a", "b"], ["shard"], "v")
    assert out.count() == 6
    # CRT: fixing (id%2, id%3) pins id mod 6, so id%4 hits exactly 2
    # of its 4 classes per key pair
    assert all(r["n_shards"] == 2 for r in out.collect())
    empty = spark.createDataFrame([], "a int, shard int, v int")
    assert hll_rollup(empty, ["a"], ["shard"], "v").count() == 0


def test_coreness_hand_graph(spark):
    """K4 + pendant triangle + a tail: K4 nodes are core 3 (node 4 too
    — it's in the K4), triangle-only nodes core 2, tail node core 1;
    degree column is the raw degree, not the core."""
    from eclipse_spark.operators.graph import coreness

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (4, 6), (5, 6), (6, 7)],
        ["a", "b"],
    )
    got = {r["node"]: (r["degree"], r["core"]) for r in coreness(edges).collect()}
    assert got == {
        1: (3, 3), 2: (3, 3), 3: (3, 3), 4: (5, 3),
        5: (2, 2), 6: (3, 2), 7: (1, 1),
    }


def test_coreness_matches_python_peel(spark):
    """Random sparse graph vs the independent Batagelj-Zaveršnik-style
    min-degree peel on the driver."""
    import random

    from eclipse_spark.operators.graph import coreness

    rnd = random.Random(31)
    pairs = {
        (min(a, b), max(a, b))
        for a, b in ((rnd.randint(0, 60), rnd.randint(0, 60)) for _ in range(400))
        if a != b
    }
    nbrs: dict = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in nbrs.items()}
    live = dict(deg)
    alive = {v: set(ns) for v, ns in nbrs.items()}
    core = {}
    k = 0
    while live:
        k = max(k, min(live.values()))
        drop = [v for v, d in live.items() if d <= k]
        while drop:
            v = drop.pop()
            if v not in live:
                continue
            core[v] = k
            del live[v]
            for u in alive[v]:
                alive[u].discard(v)
                if u in live:
                    live[u] -= 1
                    if live[u] <= k:
                        drop.append(u)
    got = {
        r["node"]: r["core"]
        for r in coreness(
            spark.createDataFrame(sorted(pairs), ["a", "b"])
        ).collect()
    }
    assert got == core


def test_coreness_budget_and_degenerates(spark):
    """Exhausted round budget raises loudly; loops/dup orientations
    canonicalize; a single edge gives two core-1 nodes."""
    import pytest as _pytest

    from eclipse_spark.operators.graph import coreness

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(i, i + 2) for i in range(29)],
        ["a", "b"],
    )
    with _pytest.raises(RuntimeError, match="max_rounds"):
        coreness(chain, max_rounds=1)

    messy = spark.createDataFrame([(1, 1), (1, 2), (2, 1)], ["a", "b"])
    got = {r["node"]: r["core"] for r in coreness(messy).collect()}
    assert got == {1: 1, 2: 1}


def test_kmv_sketch_and_jaccard(spark):
    """KMV bottom-k: the estimate lands within 4 sd of truth on a
    controlled-overlap pair; small groups collapse to exact mode
    (n_hashes < k -> estimate IS the exact Jaccard); sketches are
    ascending and deduplicated."""
    from eclipse_spark.operators.sketch import kmv_jaccard, kmv_sketch

    df = spark.range(0, 80000).selectExpr(
        "CASE WHEN id < 40000 THEN 'A' ELSE 'B' END AS g",
        "CASE WHEN id < 40000 THEN id ELSE id - 20000 END AS v",
    )  # A = 0..39999, B = 20000..59999 -> J = 20000/60000
    sk = kmv_sketch(df, ["g"], "v", k=512)
    rows = {r["g"]: r for r in sk.collect()}
    for r in rows.values():
        assert r["n_hashes"] == 512
        assert r["kmin"] == sorted(set(r["kmin"]))
    a = sk.filter("g='A'").selectExpr("1 AS j", "kmin")
    b = sk.filter("g='B'").selectExpr("1 AS j", "kmin")
    est = kmv_jaccard(a, b, ["j"], k=512).collect()[0]
    true_j = 20000 / 60000
    sd = (true_j * (1 - true_j) / 512) ** 0.5
    assert abs(est["j_est"] - true_j) <= 4 * sd
    assert est["n_merged"] == 512

    small = spark.createDataFrame(
        [("X", i) for i in range(10)] + [("Y", i) for i in range(5, 20)],
        ["g", "v"],
    )
    sks = kmv_sketch(small, ["g"], "v", k=512)
    x = sks.filter("g='X'").selectExpr("1 AS j", "kmin")
    y = sks.filter("g='Y'").selectExpr("1 AS j", "kmin")
    e2 = kmv_jaccard(x, y, ["j"], k=512).collect()[0]
    assert e2["j_est"] == 5 / 20 and e2["n_merged"] == 20


def test_kmv_merge_is_lossless(spark):
    """Bottom-k's defining algebraic property (unlike HLL's dense-mode
    drift): k smallest of (sketch(A) ∪ sketch(B)) == sketch(A ∪ B),
    EXACTLY — asserted element-for-element against a sketch built from
    the concatenated data."""
    import pyspark.sql.functions as F

    from eclipse_spark.operators.sketch import kmv_sketch

    df = spark.range(0, 30000).selectExpr(
        "CASE WHEN id % 3 = 0 THEN 'P' ELSE 'Q' END AS g", "id % 9000 AS v"
    )
    k = 256
    parts = {r["g"]: r["kmin"] for r in kmv_sketch(df, ["g"], "v", k=k).collect()}
    merged = sorted(set(parts["P"]) | set(parts["Q"]))[:k]
    direct = kmv_sketch(
        df.selectExpr("'all' AS g", "v"), ["g"], "v", k=k
    ).collect()[0]["kmin"]
    assert merged == list(direct)


def test_kmv_self_pairs_and_nulls(spark):
    """kmv_self_pairs emits every a<b pair once; NULL set members are
    excluded from the sketch (not hashed as a value)."""
    from eclipse_spark.operators.sketch import kmv_self_pairs, kmv_sketch

    df = spark.createDataFrame(
        [("A", 1), ("A", 2), ("A", None), ("B", 2), ("B", 3), ("C", 9)],
        "g string, v int",
    )
    sk = kmv_sketch(df, ["g"], "v", k=16)
    rows = {r["g"]: r for r in sk.collect()}
    assert rows["A"]["n_hashes"] == 2  # NULL excluded
    pairs = {
        (r["group_a"], r["group_b"]): r["j_est"]
        for r in kmv_self_pairs(sk, "g", k=16).collect()
    }
    assert set(pairs) == {("A", "B"), ("A", "C"), ("B", "C")}
    assert pairs[("A", "B")] == round(1 / 3, 9)
    assert pairs[("A", "C")] == 0.0
