"""Driver contract for the spark-graft builder (PySpark target).

Every entry routes through the ``eclipse_spark`` engine package (the
PySpark-native re-expression of DICL/Eclipse — see SURVEY.md). Oracle
SQL is written for DuckDB 1.0 against the same parquet tables.

Float discipline for oracle parity: money/measure aggregates go
through ``decimal`` casts (exact, engine-independent) and surface as
``double``; counts stay ``bigint``; regex semantics are kept to the
RE2 ∩ Java-regex common subset.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eclipse_spark import apps
from eclipse_spark.operators import (
    dedup,
    graph,
    multimodal,
    relational,
    similarity,
    skew,
    text,
)
from eclipse_spark.pipeline import Pipeline
from eclipse_spark.streaming import windows as stream_windows


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _ts_normalize(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-tz TimestampType whatever the
    testdata layout: a native timestamp/timestamp_ntz column passes
    through a cast (identity under a UTC session), while a long column
    means the legacy nanos-as-long layout (TIMESTAMP(NANOS) read via
    ``spark.sql.legacy.parquet.nanosAsLong``) and is integer-truncated
    to micros — exactly what DuckDB's TIMESTAMP does with
    TIMESTAMP_NS, so oracles agree either way. Integer ``div`` (not
    float division) keeps the ~1e18 nano values exact."""
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table with ``ts`` normalized to TimestampType
    under a UTC session (both layouts the driver has shipped)."""
    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return _ts_normalize(df)


def _utc(spark: SparkSession) -> None:
    # timestamp ops must agree with duckdb's UTC-naive timestamps
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _dsum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Exact engine-independent sum: decimal-accumulate, surface double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


TOKENS_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"


# ---------------------------------------------------------------------------
# portable-hash oracle plumbing
#
# The driver-verified dedup/fingerprint queries use the md5-derived
# 60-bit hash family (eclipse_spark/functions/scalar.py) so DuckDB can
# recompute entire signature pipelines bit-for-bit. These helpers emit
# the DuckDB-side expressions; cross-engine equality is pinned by
# tests/test_portable_hash.py.
# ---------------------------------------------------------------------------


def _sql_hex15(md5_expr: str, part: int = 0) -> str:
    """DuckDB: parse 15 hex chars of an md5 hex string (chars 1-15 or
    16-30) into a positive BIGINT — the mirror of
    ``scalar.portable_hash60``."""
    off = 15 * part
    return (
        "list_sum(list_transform(range(1,16), i -> "
        f"(strpos('0123456789abcdef', substr({md5_expr}, i+{off}, 1)) - 1)::BIGINT"
        " << (4*(15-i))))"
    )


def _sql_rot60(expr: str, i: int) -> str:
    """DuckDB: rotate a 60-bit positive BIGINT left by i (mirror of
    ``scalar.rot60`` — mask before shift, no 63-bit overflow)."""
    i = i % 60
    if i == 0:
        return expr
    mask = (1 << (60 - i)) - 1
    return f"((({expr}) & {mask}) << {i}) | (({expr}) >> {60 - i})"


# Pure-Python replica of Spark's xxhash64 over INT arguments (XXH64,
# public algorithm; Spark chains hashInt per argument with seed 42).
# Used ONLY to inline the deterministic hyperplane weights of
# similarity.sign_sketch_df as literals in DuckDB oracles — the weights
# are data-independent, so the oracle needs no hash function at all.
_XXH_MASK = (1 << 64) - 1
_XXH_P1, _XXH_P2, _XXH_P3, _XXH_P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x27D4EB2F165667C5,
)


def _xxh64_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXH_P2) & _XXH_MASK
    h ^= h >> 29
    h = (h * _XXH_P3) & _XXH_MASK
    h ^= h >> 32
    return h


def _xxh64_int(i: int, seed: int) -> int:
    h = (seed + _XXH_P5 + 4) & _XXH_MASK
    h ^= ((i & 0xFFFFFFFF) * _XXH_P1) & _XXH_MASK
    h = ((((h << 23) | (h >> 41)) & _XXH_MASK) * _XXH_P2 + _XXH_P3) & _XXH_MASK
    return _xxh64_fmix(h)


def _spark_xxhash64_ints(vals: list[int], seed: int = 42) -> int:
    h = seed
    for v in vals:
        h = _xxh64_int(v, h)
    return h - (1 << 64) if h >= (1 << 63) else h


def _plane_weight(p: int, d: int, seed: int) -> float:
    """Exact replica of sign_sketch_df's weight(p, d):
    pmod(xxhash64(p, d, seed), 1000)/500 - 1."""
    return (_spark_xxhash64_ints([p, d, seed]) % 1000) / 500.0 - 1.0


def _sql_sign_bucket(vec_expr: str, planes: int, seed: int, dim: int) -> str:
    """DuckDB: the sign-sketch bucket of a vector column, with the
    hyperplane weights inlined as literals (mirror of
    similarity.sign_sketch_df; per-plane double dot product in index
    order, >= 0 -> bit set)."""
    parts = []
    for p in range(planes):
        w = "[" + ", ".join(repr(_plane_weight(p, d, seed)) for d in range(dim)) + "]"
        proj = (
            f"list_sum(list_transform(range(1,{dim + 1}), "
            f"i -> {vec_expr}[i]::DOUBLE * ({w})[i]))"
        )
        parts.append(f"(CASE WHEN {proj} >= 0 THEN 1::BIGINT << {p} ELSE 0 END)")
    return "(" + " | ".join(parts) + ")"


def _emb_dim(default: int = 64) -> int:
    """Embedding dimension read from the driver's own testdata (one
    arrow column of the first row group) — the sign-sketch oracles
    inline one weight literal per dimension, so a testdata dim change
    must re-derive them rather than silently mismatch (the events-ts
    lesson, applied to embeddings). The correctness gate compares at
    sf0.01, so that dir is probed first; the other scales are
    fallbacks. The literal default only applies when NO testdata
    exists — in which case no oracle can run against it either, so it
    cannot produce a silent mismatch."""
    global _EMB_DIM_CACHE
    if _EMB_DIM_CACHE is None:
        import pyarrow.parquet as pq

        for sf in ("sf0.01", "sf0.001", "sf0.1"):
            try:
                pf = pq.ParquetFile(f"/root/testdata/{sf}/embeddings.parquet")
                col = pf.read_row_group(0, columns=["embedding"]).column(0)
                _EMB_DIM_CACHE = len(col[0])
                break
            except Exception:
                continue
        else:
            _EMB_DIM_CACHE = default
    return _EMB_DIM_CACHE


_EMB_DIM_CACHE: int | None = None
_EMB_DIM = 64  # fallback only; oracle builders call _emb_dim()


# ---------------------------------------------------------------------------
# §2.5 canonical apps
# ---------------------------------------------------------------------------

def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apps.word_count(_t(spark, sf_dir, "documents"))


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apps.inverted_index(_t(spark, sf_dir, "documents"))


def q_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.sum("l_orderkey").alias("sum_l_orderkey"),
        F.sum("l_partkey").alias("sum_l_partkey"),
        F.sum("l_suppkey").alias("sum_l_suppkey"),
        F.sum("l_linenumber").cast("long").alias("sum_l_linenumber"),
        _dsum("l_quantity", "sum_l_quantity"),
        _dsum("l_extendedprice", "sum_l_extendedprice"),
        _dsum("l_discount", "sum_l_discount"),
        _dsum("l_tax", "sum_l_tax"),
    )


# ---------------------------------------------------------------------------
# relational layer (SURVEY §2.6)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1999-12-31"))
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(18,6)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity", "sum_qty"),
        _dsum("l_extendedprice", "sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        F.count("*").alias("count_order"),
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): EXISTS over the fact
    table lowered to a semi join; both sides pre-filtered before the
    join so the shuffle carries only qualifying keys."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-07-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-10-01")))
    )
    # no commit/receipt dates in the synthetic schema; the Q4 predicate
    # becomes "has a returned line" — same EXISTS plan shape
    ret = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    hit = orders.join(ret, on="o_orderkey", how="left_semi")
    return hit.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): two nation dims joined to the
    two fact-side keys (customer nation x supplier nation), both
    broadcast; revenue per nation pair per year."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), on="c_nationkey")
        .join(F.broadcast(n2), on="s_nationkey")
        .filter(F.col("cust_nation") != F.col("supp_nation"))
    )
    return j.groupBy(
        "cust_nation", "supp_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.sum(revenue).cast("double").alias("revenue"))


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional aggregation over one
    join — promo share of monthly revenue."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-10-01")))
    )
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        (
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double")
        ).alias("promo_revenue_pct")
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): anti-join filter
    + count(distinct) per group."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_size").isin(9, 14, 23, 45))
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.groupBy("p_brand", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): per-part average
    quantity as a decorrelated aggregate joined back — no per-row
    subquery; the avg side is the pre-aggregated (tiny) build side."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("avg_qty")
        )
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(avg_qty.join(part.select("p_partkey"), on="p_partkey")),
              on="p_partkey")
        .filter(F.col("l_quantity") * 5 < F.col("avg_qty"))
    )
    return j.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0
        ).alias("avg_yearly")
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): disjunctive multi-attribute
    predicates — Catalyst pushes the common conjuncts into the scan
    and evaluates the OR-of-ANDs post-join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 5))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 10))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#14") & (F.col("p_size").between(1, 15))
           & (F.col("l_quantity").between(20, 30)))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return j.filter(cond).agg(F.sum(rev).cast("double").alias("revenue"))


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-opportunity customers): global scalar
    aggregate (1-row broadcast, no per-row subquery) gating the
    customer side + anti join against orders. Compared in multiply
    form (bal * n > sum) so both engines hit identical IEEE ops."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    g = pos.agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("_s"),
        F.count("*").alias("_n"),
    )
    rich = (
        cust.crossJoin(F.broadcast(g))
        .filter(F.col("c_acctbal") * F.col("_n") > F.col("_s"))
    )
    # every customer has SOME order in the synthetic data, so the Q22
    # "no orders" anti join is against urgent orders — same plan shape,
    # non-degenerate result
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    no_orders = rich.join(urgent, on="c_custkey", how="left_anti")
    return no_orders.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        _dsum("c_acctbal", "totacctbal"),
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): selective dim filter first, big
    fact joins shuffle on their keys, top-10 with a total tie-break."""
    _utc(spark)
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1997-03-15"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1997-03-15"))
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    agg = j.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(revenue).cast("double").alias("revenue")
    )
    return relational.top_k(
        agg, 10, F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey")
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): 6-way join with the
    c_nationkey = s_nationkey correlation. Dims broadcast; facts
    shuffle once per join key."""
    _utc(spark)
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.groupBy("n_name").agg(F.sum(revenue).cast("double").alias("revenue"))


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue): pure scan-filter-agg — every
    predicate reaches the parquet scan (PushedFilters)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
    return li.agg(F.sum(rev).cast("double").alias("revenue"))


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned items): quarter of orders x returned lines,
    grouped per customer, top-20."""
    _utc(spark)
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-10-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    agg = j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(revenue).cast("double").alias("revenue")
    )
    return relational.top_k(agg, 20, F.desc("revenue"), F.asc("c_custkey"))


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): HAVING-filtered semi join —
    the qualifying-orders aggregate runs map-side-combined first, then
    the facts semi-join it (no row duplication before the main agg)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"))
        .filter(F.col("_sq") > 190)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    j = (
        li.join(orders.join(big, on="o_orderkey", how="left_semi"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
    )
    agg = j.groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice").agg(
        _dsum("l_quantity", "sum_qty")
    )
    return relational.top_k(agg, 100, F.desc("o_totalprice"), F.asc("o_orderkey"))


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 variant (min-cost supplier per part). The correlated
    scalar-min subquery is a window min over the part partition: one
    shuffle on p_partkey, no aggregate re-join. Dims (supplier, nation,
    region, filtered part) broadcast against the derived partsupp."""
    _utc(spark)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    parts = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    )
    # Restrict lineitem to eligible parts (broadcast semi-join) BEFORE
    # the derived-partsupp group min — the filter is on the grouping
    # key, so per-group mins are unchanged and the agg shuffle shrinks
    # by the part filter's selectivity.
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(parts.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_cost")
    )
    elig = (
        ps.join(F.broadcast(supp), ps.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(F.broadcast(parts), ps.l_partkey == parts.p_partkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        elig.withColumn("_min", F.min("_cost").over(w))
        .filter(F.col("_cost") == F.col("_min"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "s_acctbal",
            "n_name",
            F.col("_cost").cast("double").alias("supplycost"),
        )
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 variant (national market share): NATION_5 suppliers'
    share of AMERICA customers' ECONOMY-part order volume by year.
    Facts shuffle on join keys; part/supplier/nation/region broadcast.
    The share divides two exact decimal sums surfaced as doubles —
    engine-independent."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1995-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n_cust = _t(spark, sf_dir, "nation").alias("nc")
    n_supp = (
        _t(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation"))
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    parts = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("nc.n_nationkey"))
        .join(F.broadcast(region), F.col("nc.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("ns_key"))
    )
    nat_vol = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        j.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            (F.sum(nat_vol).cast("double") / F.sum(vol).cast("double")).alias("mkt_share"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 variant (product-type profit): revenue minus derived
    qty-scaled supply cost, by (supplier nation, order year), for parts
    named like %bolt%. All arithmetic decimal-exact until the final
    double surface."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    parts = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    # The selective part filter lands BEFORE the derived-partsupp group
    # min: the filter is on the grouping key (l_partkey), so per-group
    # mins are unchanged, and the (partkey, suppkey) shuffle shrinks by
    # the filter's selectivity. The group-min-then-rejoin collapses into
    # a window min — one shuffle, no agg + shuffle-join.
    lib = li.join(F.broadcast(parts), F.col("l_partkey") == parts.p_partkey)
    wps = Window.partitionBy("l_partkey", "l_suppkey")
    j = (
        lib.withColumn(
            "_cost", F.min(F.col("l_extendedprice").cast("decimal(18,2)")).over(wps)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    cost = F.col("_cost") * F.col("l_quantity").cast("decimal(18,2)")
    return (
        j.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("n_name", "o_year")
        .agg((F.sum(rev) - F.sum(cost)).cast("double").alias("profit"))
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 variant (dominant suppliers): NATION_3 suppliers that
    shipped >30% of some small%-part's 1995 volume (the availqty >
    half-shipped predicate re-based on the derived supplied share —
    partsupp is absent). Shape preserved: nested aggregate, threshold
    filter, semi-join into the supplier dim."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1995-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-01-01")))
    )
    parts = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    l95 = li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
    per_ps = l95.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_supplied")
    )
    per_p = per_ps.groupBy("l_partkey").agg(F.sum("_supplied").alias("_total"))
    big = (
        per_ps.join(per_p, on="l_partkey")
        .filter(
            F.col("_supplied").cast("double") > 0.3 * F.col("_total").cast("double")
        )
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(big, on="s_suppkey", how="left_semi")
        .select("s_name", "s_acctbal")
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 variant (important stock): per-part catalog value
    (derived cost summed over that part's suppliers in NATION_1) kept
    when above 0.1% of the total — the HAVING-over-global-scalar shape.
    The global total is a broadcast scalar subquery (decorrelated), not
    a driver collect."""
    _utc(spark)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    nat_supp = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey")
    # Nation filter restricts l_suppkey — a grouping key of the derived
    # partsupp — so the broadcast semi-join lands before the group min
    # and the (partkey, suppkey) shuffle carries only NATION_1 rows.
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    nat_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_cost")
    )
    per_part = nat_ps.groupBy("l_partkey").agg(
        F.sum("_cost").alias("_value")
    )
    total = per_part.agg(F.sum("_value").cast("double").alias("_tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_value").cast("double") > 0.001 * F.col("_tot"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("_value").cast("double").alias("value"),
        )
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 variant (shipping delay classes): lineitem has no
    shipmode/commit/receipt dates, so the classifier is the
    ship-vs-order-date lag (>60 days = slow), grouped with the original
    high/low order-priority split."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    slow = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, F.lit("SLOW")
    ).otherwise(F.lit("FAST"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        j.withColumn("ship_class", slow)
        .groupBy("ship_class")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): left outer join
    so zero-order customers count — every synthetic customer has
    orders, so the filter excludes urgent ones (same non-degeneracy
    convention as q4/q22) to produce a real zero bucket."""
    _utc(spark)
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, return
    the max-revenue supplier(s) — the revenue view + scalar-max shape,
    ties included so the result set is deterministic."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    revenue = li.groupBy("l_suppkey").agg(F.sum(rev).alias("_rev"))
    top = revenue.agg(F.max("_rev").alias("_max"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("_rev") == F.col("_max"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("_rev").cast("double").alias("total_revenue")
        )
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 variant (sole late supplier): suppliers whose line
    shipped late (>90 days after order date) on a multi-supplier order
    where NO other supplier's line was late — commit/receipt dates are
    absent, so lateness is the ship-vs-order lag. Shape preserved:
    per-order supplier/late-supplier distinct counts (one shuffle via
    two-level agg), then the sole-late filter and the supplier join."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "_late",
        (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90).cast("int"),
    )
    per_os = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("_late").alias("_supp_late")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("_n_supp"),
        F.sum("_supp_late").alias("_n_late"),
    )
    sole_late = (
        per_os.join(per_o, on="l_orderkey")
        .filter(
            (F.col("_n_supp") > 1) & (F.col("_n_late") == 1) & (F.col("_supp_late") == 1)
        )
        .select("l_suppkey")
    )
    return (
        sole_late.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", "numwait")
    )


def q_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-generating function surface: posexplode (UDTF shape)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    toks = text.tokens(F.col("text"))
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "word")
    ).withColumn("pos", (F.col("pos") + 1).cast("long"))


def q_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    j = relational.join(
        orders, customer, on=orders.o_custkey == customer.c_custkey,
        how="inner", broadcast_right=True,
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        _dsum("o_totalprice", "sum_price"),
    )


def q_join_5way(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(relational.join(
            customer,
            relational.join(nation, F.broadcast(region),
                            on=nation.n_regionkey == region.r_regionkey,
                            how="inner"),
            on=customer.c_nationkey == nation.n_nationkey,
            how="inner", broadcast_right=True,
        ), orders.o_custkey == customer.c_custkey)
    )
    return j.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_rows"),
        F.sum(revenue).cast("double").alias("revenue"),
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    has = relational.join(
        customer, orders.select(F.col("o_custkey").alias("c_custkey")),
        on="c_custkey", how="left_semi",
    )
    return has.groupBy("c_nationkey").agg(F.count("*").alias("n_customers"))


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join against urgent orders (every customer has SOME order
    in the synthetic data — a bare no-orders anti join is degenerate)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    none = relational.join(
        customer, orders.select(F.col("o_custkey").alias("c_custkey")),
        on="c_custkey", how="left_anti",
    )
    return none.groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return relational.top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    )


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w).cast("double").alias("running_qty"),
    )


def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return relational.distinct(li.select("l_returnflag", "l_linestatus"))


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    high_bal = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    both = relational.intersect(high_bal, with_orders).withColumn("tag", F.lit("both"))
    only_bal = relational.except_distinct(high_bal, with_orders).withColumn(
        "tag", F.lit("no_orders")
    )
    return relational.union_all(both, only_bal)


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return relational.rollup(
        li, ["l_returnflag", "l_linestatus"],
        [F.count("*").alias("n_rows"), _dsum("l_quantity", "sum_qty")],
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return relational.cube(
        orders, ["o_orderstatus", "o_orderpriority"],
        [F.count("*").alias("n_orders")],
    )


def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return relational.top_k(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        10,
        F.desc("o_totalprice"),
        F.asc("o_orderkey"),
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    p = relational.pivot(
        orders, ["o_orderpriority"], "o_orderstatus", ["O", "F", "P"], F.count(F.lit(1))
    )
    return p.na.fill(0, ["O", "F", "P"])


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sums = li.groupBy("l_returnflag").agg(
        _dsum("l_quantity", "q"), _dsum("l_extendedprice", "p"), _dsum("l_discount", "d", 2)
    )
    return relational.unpivot(sums, ["l_returnflag"], ["q", "p", "d"], "measure", "value")


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("nd_part"),
        F.countDistinct("l_suppkey").alias("nd_supp"),
        F.countDistinct("l_orderkey").alias("nd_order"),
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch, PER-GROUP bounded-error audit (VERDICT r6 task 8:
    no registry entry may need a rows-only driver row). The raw HLL
    estimate is engine-specific, so the driver-checkable projection is
    (exact anchor, within-bound flag): per l_returnflag, the exact
    distinct-part count plus a flag that the rsd=0.02 sketch lands
    within 10% (5 standard deviations) of it. Complements the GLOBAL
    rsd=0.01/5% companion q_approx_distinct_err — this one proves the
    guarantee per group, where cardinalities differ by orders of
    magnitude. HLL is deterministic for fixed data, so flags are
    stable; raw estimates stay available via
    F.approx_count_distinct in the library surface."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_apx"),
        F.countDistinct("l_partkey").alias("nd_part"),
    )
    return agg.select(
        "l_returnflag",
        "nd_part",
        (F.abs(F.col("_apx") - F.col("nd_part")) <= 0.10 * F.col("nd_part"))
        .cast("int")
        .alias("within_10pct"),
    )


def q_approx_distinct_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error driver check for the HLL tier: the sketch estimate
    (rsd=0.01, so a 5% bound is 5 standard deviations) must land
    within 5% of the exact distinct count, which the oracle recomputes
    exactly. HLL is deterministic for a given dataset, so the flags
    are stable across runs; emitting (exact, within-bound) rather than
    the raw estimate keeps the check engine-portable."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("_apx_part"),
        F.countDistinct("l_partkey").alias("nd_part"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("_apx_order"),
        F.countDistinct("l_orderkey").alias("nd_order"),
    )

    def _ok(apx: str, exact: str) -> Column:
        return (
            F.abs(F.col(apx) - F.col(exact)) <= 0.05 * F.col(exact)
        ).cast("int")

    return agg.select(
        "nd_part",
        "nd_order",
        _ok("_apx_part", "nd_part").alias("part_within_5pct"),
        _ok("_apx_order", "nd_order").alias("order_within_5pct"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each 'error' event, the user's latest 'click'
    at-or-before it. Implemented shuffle-once via union + running-max
    window — Spark has no native as-of; this composition scales (one
    partition-by-key shuffle, no per-row subquery, no range explosion).
    Ref: the classic merge_asof semantics over the events stream."""
    _utc(spark)
    events = _events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("event_id"), F.lit(0).alias("is_probe"),
        F.col("ts").alias("click_ts"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"),
        F.col("event_id"), F.lit(1).alias("is_probe"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_probe")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = clicks.unionByName(errors).withColumn(
        "asof_click_ts", F.max("click_ts").over(w)
    )
    return merged.filter(F.col("is_probe") == 1).select(
        "event_id", F.col("k").alias("user_id"), "asof_click_ts"
    )


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (relational.asof_join): per 'error' event,
    the user's earliest 'click' at-or-after it, payload carried in
    the min-struct — merge_asof(direction='forward') as one
    key-partitioned window sort. Completes the temporal-join family
    next to the backward q_asof_join."""
    _utc(spark)
    events = _events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click")
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    return relational.asof_join(
        errors, clicks, on=["user_id"], right_payload=["value"],
        direction="forward",
    ).select("event_id", "user_id", "asof_ts", "asof_value")


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (relational.asof_join): per 'error' event,
    the user's closest 'click' in either direction, sub-second ties
    resolved to backward via microsecond-precision double distances
    (unix_timestamp would truncate to seconds and flip ties). Both
    direction frames reuse one partitioned sort — 'nearest' costs the
    same single shuffle as either direction."""
    _utc(spark)
    events = _events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click")
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    return relational.asof_join(
        errors, clicks, on=["user_id"], right_payload=["value"],
        direction="nearest",
    ).select("event_id", "user_id", "asof_ts", "asof_value")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per 'error' event, how many 'click' events of the
    same user in the preceding hour. Scale path: equi-join on
    (user, hour-bucket) with a 2-bucket explode on the probe side,
    then the exact range filter — turns the non-equi join (nested-loop
    in Spark) into a bucket-keyed hash join."""
    _utc(spark)
    events = _events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("click_ts"),
        (F.unix_timestamp("ts") / 3600).cast("long").alias("bucket"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id",
        F.col("user_id").alias("k"),
        F.col("ts").alias("err_ts"),
        F.explode(
            F.array(
                (F.unix_timestamp("ts") / 3600).cast("long"),
                (F.unix_timestamp("ts") / 3600).cast("long") - 1,
            )
        ).alias("bucket"),
    )
    in_range = (
        F.when(
            (F.col("click_ts") <= F.col("err_ts"))
            & (F.col("click_ts") > F.col("err_ts") - F.expr("INTERVAL 1 HOUR")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    joined = errors.join(clicks, on=["k", "bucket"], how="left")
    return joined.groupBy("event_id").agg(
        F.sum(in_range).cast("long").alias("n_clicks_1h")
    )


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function layer (SURVEY §2.6): one codegen'd
    projection, no shuffle."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("u"),
        F.lower("p_brand").alias("lo"),
        F.length("p_name").alias("len"),
        F.substring("p_name", 1, 5).alias("sub"),
        F.concat_ws("#", "p_brand", "p_type").alias("cc"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("rep"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("pad"),
        F.reverse("p_brand").alias("rev"),
        F.col("p_name").contains("a").cast("int").alias("has_a"),
    )


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias("plus30"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("eom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / variance / stddev / correlation computed from exact
    decimal moment sums (engine-independent), finalized in double —
    deterministic where native stddev/corr float accumulation is not."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x.cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(28,6)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(28,6)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(28,6)")).cast("double").alias("sxy"),
        F.min(x).alias("min_qty"),
        F.max(x).alias("max_qty"),
    )
    n = F.col("n").cast("double")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        "l_returnflag",
        "n",
        F.round(F.col("sx") / n, 9).alias("mean_qty"),
        F.round(var, 9).alias("var_qty"),
        F.round(F.sqrt(var), 9).alias("std_qty"),
        F.round(corr, 9).alias("corr_qty_price"),
        "min_qty",
        "max_qty",
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`)."""
    li = _t(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_quantity, array(0.25, 0.5, 0.75))")
    return li.groupBy("l_linestatus").agg(
        pct[0].alias("p25"), pct[1].alias("p50"), pct[2].alias("p75")
    )


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (Greenwald-Khanna via
    approx_percentile): the 100 TB path when exact percentile's
    full-sort-per-group is too much — partial sketches merge map-side
    like any other partial agg. The raw sketch values are
    engine-specific, so the driver-checkable projection asserts the GK
    rank guarantee AS DATA (VERDICT r6 task 8): per group, each
    accuracy=1000 sketch value's rank range [strictly-below + 1,
    at-or-below] must intersect [n*(q - eps), n*(q + eps)] with
    eps = 1/1000 — the COARSE sketch tier, complementing the
    accuracy=10000 companion q_approx_quantiles_err (which also
    anchors exact percentiles), so the guarantee is proven across
    tiers. Deterministic sketch -> stable flags."""
    li = _t(spark, sf_dir, "lineitem").select("l_linestatus", "l_quantity")
    acc = 1000
    apx = li.groupBy("l_linestatus").agg(
        F.expr(
            f"approx_percentile(l_quantity, array(0.25, 0.5, 0.75), {acc})"
        ).alias("_apx")
    )
    j = li.join(F.broadcast(apx), "l_linestatus")
    targets = [(25, 0.25), (50, 0.5), (75, 0.75)]
    aggs = [F.count("*").alias("_n")]
    for i, (tag, _) in enumerate(targets):
        aggs.append(
            F.sum((F.col("l_quantity") < F.col("_apx")[i]).cast("long")).alias(
                f"_lt{tag}"
            )
        )
        aggs.append(
            F.sum((F.col("l_quantity") <= F.col("_apx")[i]).cast("long")).alias(
                f"_le{tag}"
            )
        )
    st = j.groupBy("l_linestatus").agg(*aggs)
    eps = 1.0 / acc + 1e-9
    cols = [F.col("l_linestatus"), F.col("_n").alias("n_rows")]
    for tag, frac in targets:
        cols.append(
            (
                (F.col(f"_lt{tag}") <= (frac + eps) * F.col("_n"))
                & (F.col(f"_le{tag}") >= (frac - eps) * F.col("_n"))
            )
            .cast("int")
            .alias(f"p{tag}_rank_ok")
        )
    return st.select(*cols)


def q_approx_quantiles_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error driver check for the quantile-sketch tier: each
    approx_percentile(accuracy=10000) value must have rank within
    eps = 1/10000 of its target rank (the GK guarantee), verified
    against the data itself — per group, count rows strictly-below and
    at-or-below the sketch value and require the [lt+1, le] rank range
    to intersect [n*(q-eps), n*(q+eps)]. The oracle recomputes the
    exact interpolated percentiles (the anchor columns) and asserts
    the rank flags as data. Deterministic sketch, so flags are stable."""
    li = _t(spark, sf_dir, "lineitem").select("l_linestatus", "l_quantity")
    apx = li.groupBy("l_linestatus").agg(
        F.expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 10000)").alias(
            "_apx"
        )
    )
    j = li.join(F.broadcast(apx), "l_linestatus")
    targets = [(25, 0.25), (50, 0.5), (75, 0.75)]
    aggs = [
        F.count("*").alias("_n"),
        F.expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").alias("_ex"),
    ]
    for i, (tag, _) in enumerate(targets):
        aggs.append(
            F.sum((F.col("l_quantity") < F.col("_apx")[i]).cast("long")).alias(
                f"_lt{tag}"
            )
        )
        aggs.append(
            F.sum((F.col("l_quantity") <= F.col("_apx")[i]).cast("long")).alias(
                f"_le{tag}"
            )
        )
    st = j.groupBy("l_linestatus").agg(*aggs)
    eps = 1.0 / 10000 + 1e-9
    cols = [F.col("l_linestatus")]
    for i, (tag, _) in enumerate(targets):
        cols.append(F.col("_ex")[i].alias(f"p{tag}_exact"))
    for tag, frac in targets:
        cols.append(
            (
                (F.col(f"_lt{tag}") <= (frac + eps) * F.col("_n"))
                & (F.col(f"_le{tag}") >= (frac - eps) * F.col("_n"))
            )
            .cast("int")
            .alias(f"p{tag}_rank_ok")
        )
    return st.select(*cols)


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def q_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_cap"),
        F.col("c_acctbal").isNull().cast("int").alias("is_null_bal"),
    )


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_type"), " ")
    return part.select(
        "p_partkey",
        F.size(words).alias("n_words"),
        F.array_contains(words, "brushed").cast("int").alias("has_brushed"),
        F.array_join(F.sort_array(words), "|").alias("sorted_words"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
    )


def q_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions: lag / lead / first / last over an
    explicit deterministic ordering."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.lag("l_quantity").over(w).alias("prev_qty"),
        F.lead("l_quantity").over(w).alias("next_qty"),
        F.first("l_quantity").over(wf).alias("first_qty"),
        F.last("l_quantity").over(wf).alias("last_qty"),
    )


def q_ntile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.dense_rank().over(w).alias("dr"),
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key-hash sampling (reproducible across engines and
    runs — the scale-safe alternative to TABLESAMPLE)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 17 == 0).agg(
        F.count("*").alias("n_sampled"),
        _dsum("o_totalprice", "sum_price"),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (30% of F, 10% of O, 50% of P
    orders by md5 key bucket) — reproducible across engines with no RNG
    state, then an audit aggregate per stratum."""
    orders = _t(spark, sf_dir, "orders")
    sampled = relational.stratified_sample(
        orders, "o_orderkey", "o_orderstatus", {"F": 0.30, "O": 0.10, "P": 0.50}
    )
    return sampled.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_sampled"),
        _dsum("o_totalprice", "sum_price"),
    )


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides — aggregate-before-
    join keeps both shuffle inputs tiny (nationkey cardinality), the
    100 TB-safe shape for reconciliation queries."""
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    c = customer.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_customers")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_suppliers")
    )
    return relational.join(c, s, on="nationkey", how="full").select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two small dims (the only sane cross join at
    scale: both sides tiny, result broadcast-sized)."""
    region = _t(spark, sf_dir, "region")
    statuses = _t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.select("r_name").crossJoin(statuses)


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS with a non-key predicate — lowered to a left-semi hash
    join (filter pushed below the join, no row duplication)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.09)
    hit = part.join(
        li.select(F.col("l_partkey").alias("p_partkey")), on="p_partkey", how="left_semi"
    )
    return hit.groupBy("p_brand").agg(F.count("*").alias("n_parts"))


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders above their customer's mean
    price) decorrelated into one window pass — no per-row subplan.
    Compared as o_totalprice * n > sum (exact decimal sum, identical
    IEEE ops in both engines — no float-boundary flakes)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    n = F.count("*").over(w)
    s = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
    above = orders.withColumn("_above", F.col("o_totalprice") * n > s).filter("_above")
    return above.groupBy("o_orderstatus").agg(F.count("*").alias("n_above_avg"))


def q_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-collecting aggregate, sorted for determinism (collect_set
    order is partition-dependent; sort_array makes it canonical)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
        F.count("*").alias("n_rows"),
    )


def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax (top customer by balance per nation) with a
    total tie-break order — rank-and-filter, one shuffle."""
    customer = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        customer.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("c_nationkey", "c_custkey", "c_acctbal")
    )


def q_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface kept to the RE2 ∩ Java common subset so Spark and
    DuckDB agree byte-for-byte."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_replace("p_name", r"[aeiou]", "").alias("no_vowels"),
        F.col("p_name").rlike("red").cast("int").alias("has_red"),
        F.regexp_extract("p_type", r"(\w+)$", 1).alias("last_type_word"),
    )


def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(q - 25).alias("abs_dev"),
        F.ceil(F.col("l_discount") * 100).cast("long").alias("disc_pct_ceil"),
        F.floor(F.col("l_tax") * 100).cast("long").alias("tax_pct_floor"),
        # round(price/1000, 2) half-up, computed in exact integer cents:
        # double round() disagrees between engines at .xx5 boundaries
        # (Spark rounds the shortest decimal repr, DuckDB the binary value)
        (
            F.expr(
                "(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) + 500) div 1000"
            ).cast("double")
            / 100
        ).alias("price_k"),
        F.pow(q, 2).alias("qty_sq"),
        F.sqrt(q).alias("qty_sqrt"),
        F.round(F.log(q), 9).alias("qty_ln"),
        F.signum(q - 25).cast("int").alias("sign_dev"),
        (F.col("l_orderkey") % 7).alias("mod7"),
    )


def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (keeps multiplicity difference), re-grouped
    for an order-stable result."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_discount") > 0.05).select("l_suppkey")
    b = li.filter(F.col("l_discount") > 0.08).select("l_suppkey")
    return relational.except_all(a, b).groupBy("l_suppkey").agg(
        F.count("*").alias("n_remaining")
    )


def q_agg_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max over timestamps, boolean aggregates, filtered count."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_jumbo"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count("*").alias("n_orders"),
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event-time: per customer, rolling 30-day order
    total. Value-based frames need a numeric ordering in Spark — epoch
    seconds; same partition-by-key single shuffle as any window."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_30d_total"),
    )


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: construct, access, cardinality."""
    part = _t(spark, sf_dir, "part")
    mp = F.map_from_arrays(
        F.array(F.lit("brand"), F.lit("type")),
        F.array(F.col("p_brand"), F.col("p_type")),
    )
    return part.select(
        "p_partkey",
        F.element_at(mp, "brand").alias("brand_val"),
        F.element_at(mp, "type").alias("type_val"),
        F.size(mp).alias("n_keys"),
        F.array_join(F.map_keys(mp), ",").alias("keys_joined"),
    )


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: unionByName with allowMissingColumns
    (the append path when a new ingest batch gains/loses columns)."""
    c = _t(spark, sf_dir, "customer")
    old_batch = c.filter(F.col("c_custkey") <= 700).select(
        "c_custkey", "c_mktsegment"
    )
    new_batch = c.filter(F.col("c_custkey") > 700).select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").alias("acctbal")
    )
    u = old_batch.unionByName(new_batch, allowMissingColumns=True)
    return u.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.count("acctbal").alias("n_with_balance"),
    )


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (the scalable binning shape: one pass,
    one small shuffle of bin partials)."""
    orders = _t(spark, sf_dir, "orders")
    bin_ = (F.floor(F.col("o_totalprice") / 50000) * 50000).cast("long")
    return orders.groupBy(bin_.alias("price_bin")).agg(
        F.count("*").alias("n_orders"),
        _dsum("o_totalprice", "sum_price"),
    )


def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: cume_dist + nth_value."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 20)
    w = Window.partitionBy("l_suppkey").orderBy("l_quantity", "l_orderkey", "l_linenumber")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.cume_dist().over(w), 9).alias("cd"),
        F.nth_value("l_quantity", 3).over(wf).alias("third_qty"),
    )


def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL (keeps min multiplicity)."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_discount") > 0.05).select("l_suppkey")
    b = li.filter(F.col("l_tax") > 0.05).select("l_suppkey")
    return relational.intersect_all(a, b).groupBy("l_suppkey").agg(
        F.count("*").alias("n_common")
    )


def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JSON path extraction over the props column (not regex)."""
    events = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k")
    return events.select(
        "event_id",
        k.alias("k_str"),
        k.cast("long").alias("k_num"),
    )


def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (transform / filter / aggregate) —
    all JVM-side codegen, the idiom that replaces per-row Python in
    pipelines over array columns."""
    part = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_type"), " ")
    return part.select(
        "p_partkey",
        F.size(F.filter(words, lambda w: F.length(w) > 5)).alias("n_long_words"),
        F.array_join(F.transform(words, F.upper), ",").alias("upper_joined"),
        F.aggregate(
            F.transform(words, F.length), F.lit(0), lambda a, x: a + x
        ).cast("long").alias("total_len"),
    )


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: hourly spine (sequence + explode over the
    observed bounds) left-joined against hourly counts, missing hours
    zero-filled. The spine derives from a 1-row bounds aggregate, so
    it broadcasts; no driver-side loop."""
    _utc(spark)
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "click")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("n")
    )
    bounds = ev.agg(
        F.min(F.date_trunc("hour", "ts")).alias("mn"),
        F.max(F.date_trunc("hour", "ts")).alias("mx"),
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    return spine.join(hourly, on="h", how="left").select(
        F.col("h").alias("hour_start"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
    )


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (the EM-KDE moral equivalent,
    SURVEY §4): hot keys fan out over 32 salt buckets in phase 1, phase
    2 merges ≤32 partials per key. Oracle = the plain aggregate —
    results must be identical, only the shuffle shape differs."""
    events = _events(spark, sf_dir)
    return skew.two_phase_agg(
        events,
        keys=["user_id"],
        partial_aggs=[
            F.count("*").alias("n_part"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s_part"),
        ],
        final_aggs=[
            F.sum("n_part").alias("n_events"),
            F.sum("s_part").cast("double").alias("sum_value"),
        ],
        buckets=32,
    )


# ---------------------------------------------------------------------------
# events / streaming (batch-parity forms)
# ---------------------------------------------------------------------------

def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    events = _events(spark, sf_dir)
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        _dsum("value", "sum_value", 6),
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h width / 30m slide) in batch form — each
    event lands in exactly two windows via Spark's window()."""
    _utc(spark)
    events = _events(spark, sf_dir)
    return stream_windows.sliding_counts(events, "1 hour", "30 minutes").select(
        "window_start", "event_type", "n_events"
    )


def q_events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming (readStream over the parquet source,
    complete-mode window aggregation, memory sink driven to
    completion) — not the batch re-expression. Counts and exact
    decimal sums are batch/stream deterministic, so this streaming op
    carries a full SQL oracle."""
    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema  # ts arrives as long nanos
    # FileStreamSource requires a directory basePath; a glob over the
    # single file keeps the parent dir as basePath
    stream = stream_windows.stream_from_parquet(
        spark, os.path.join(sf_dir, "events.*"), raw_schema
    )
    stream = _ts_normalize(stream)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    stream_windows.run_stream_to_memory(agg, "ev_stream_tumbling", "complete")
    return spark.table("ev_stream_tumbling")


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    events = _events(spark, sf_dir)
    return stream_windows.session_windows_batch(events, gap_minutes=30)


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregate over a JSON property — parsed with a real JSON
    path (get_json_object), not a regex, so nested/escaped values parse
    correctly on non-synthetic data."""
    events = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count("*").alias("n_events")
    )


# ---------------------------------------------------------------------------
# LLM-pipeline operators (north-star)
# ---------------------------------------------------------------------------

def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus has zero exact duplicates, which would make
    the exact-dedup checks vacuous — plant deterministic
    whitespace-perturbed copies of every 5th doc (normalization-equal,
    byte-different) so the operators have real work to prove."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", " ", "  ").alias("text"),
    )
    return docs.unionByName(dups)


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual salted join (skew.skew_join_salted — the D9 fallback for
    a skewed big side against a small-but-not-broadcastable dim): big
    events rows are salted, the per-user dim replicates across salt
    buckets, and the join key widens to (user_id, salt). Salting is
    semantics-neutral, so the oracle is the PLAIN join — any salt
    leakage or row duplication hash-mismatches."""
    _utc(spark)
    ev = _events(spark, sf_dir).select("user_id", "event_type")
    dim = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.count("*").alias("n_orders"))
    )
    joined = skew.skew_join_salted(ev, dim, "user_id", buckets=8)
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("n_orders").alias("sum_n_orders"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs_with_dups(spark, sf_dir)).select("doc_id")


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dups(spark, sf_dir)
    return dedup.exact_dup_groups(docs).select("n_dups", "members")


def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidates with the PORTABLE hash family
    (md5-derived 60-bit, functions/scalar.py): the full signature ->
    band -> bucket-join pipeline is recomputed bit-for-bit by the
    DuckDB oracle, upgrading this from rows-only to hash-checked.
    The xxhash64 default stays the production fast path."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=8, portable=True)


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dedup (portable-hash LSH candidates -> exact Jaccard
    verify at 0.8 -> greedy min-id keep) — oracle replays the whole
    pipeline including the candidate generation."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup(docs, threshold=0.8, portable=True).select("doc_id")


def q_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SimHash (4 disjoint 15-bit bands of the PORTABLE
    60-bit signature, hamming<=3 verify — same pigeonhole recall
    guarantee) over the corpus plus planted whitespace-perturbed
    near-copies: a planted copy normalizes to the same shingle set,
    so its signature is identical (hamming 0) and the pair is
    guaranteed back. The DuckDB oracle recomputes signatures, bands,
    and the hamming verify exactly."""
    return dedup.simhash_candidates(
        _docs_with_dups(spark, sf_dir), tables=4, band_bits=15, portable=True
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic embeddings contain no true near-dups at 0.9, which
    would make a rows-only check vacuous — plant exact copies of every
    20th vector (same convention as _docs_with_dups) so the operator
    provably finds them: copy == original -> identical sketch bucket +
    cosine 1.0, so each planted pair MUST appear."""
    emb = _t(spark, sf_dir, "embeddings")
    dups = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    out = dedup.embedding_near_dup(emb.unionByName(dups), threshold=0.9)
    return out.select("id_a", "id_b")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.brute_force_topk(queries, emb, k=10)
    return out.select("query_id", "match_id", "rank")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.lsh_topk(queries, emb, k=10, planes=6)
    return out.select("query_id", "match_id", "rank")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF partition-completeness invariant (VERDICT r6 task 8 —
    upgrading the rows-only row to a real oracle): probing ALL cells
    (n_probe = n_cells) must reproduce the brute-force top-k EXACTLY,
    because cell assignment partitions the corpus — every vector lands
    in exactly one Voronoi cell, none lost, none duplicated — and the
    within-cell scoring is the same cosine as the flat scan. The
    oracle is the brute-force SQL itself, so any assignment or scoring
    defect in the IVF machinery hash-mismatches. The APPROXIMATE
    behavior (n_probe < n_cells) keeps its own driver evidence via
    q_ann_ivf_recall's bounded recall check."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.ivf_topk(queries, emb, k=10, n_cells=16, n_probe=16)
    return out.select("query_id", "match_id", "rank")


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error driver check for the approximate IVF tier: MEAN
    recall@10 vs the exact brute-force baseline must clear 0.35 —
    probing 4 of 16 cells at random would land at 0.25 expected
    recall, so the margin demonstrates the Voronoi probe routes to
    the right cells even on the unclustered synthetic embeddings
    (measured 0.50-0.56 at sf0.001-0.01; per-query recall is too
    noisy on random vectors for a per-row bound). Everything is
    deterministic (hash-picked centroids, tie-broken ranks), so the
    flag is stable; the oracle asserts the bound as data. This
    upgrades ann_ivf from a rows-only row to a semantically checked
    one without pretending an approximate operator has an exact
    oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    truth = similarity.brute_force_topk(queries, emb, k=10).select(
        "query_id", "match_id"
    )
    approx = similarity.ivf_topk(queries, emb, k=10, n_cells=16, n_probe=4).select(
        "query_id", "match_id"
    )
    hits = truth.join(approx, on=["query_id", "match_id"], how="left_semi")
    return (
        truth.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count("*").alias("n_true"),
        )
        .crossJoin(hits.agg(F.count("*").alias("_hits")))
        .select(
            F.col("n_queries"),
            F.col("n_true"),
            (F.col("_hits") / F.col("n_true") >= 0.35).cast("int").alias(
                "recall_above_random"
            ),
        )
    )


def q_ann_ivf_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF index refresh (similarity.ivf_index +
    ivf_refresh + ivf_topk_stored — VERDICT r13 task 6: the
    search-side analogue of media_index_refresh, completing the
    incremental family across dedup AND search): the reference corpus
    (vec_id % 4 != 0) is clustered and persisted ONCE as a stored IVF
    index — centroid table + posting table hive-partitioned on cell —
    then the daily batch (vec_id % 4 == 0) is added WITHOUT
    re-clustering: broadcast-assign the batch against the STORED
    centroids and append its postings into the cell directories; the
    existing postings are never read or rewritten (O(batch) refresh).
    Probing ALL cells over the refreshed index must reproduce the
    brute-force top-k over the MERGED corpus exactly — the same
    partition-completeness invariant as ann_ivf, now asserting the
    refresh path lost no vector, duplicated none, and assigned each
    to exactly one cell with the same deterministic argmax the build
    pass uses (so refresh == rebuild, bit-for-bit). A wrong stored
    centroid read, a dropped append, or a tie-break drift between
    build and refresh all hash-mismatch. The approximate tier's
    recall contract is pinned by tests/test_round14_fixes.py
    (n_probe=4 recall vs brute force on the merged corpus, same 0.35
    bound as ann_ivf_recall). The collect below is demo-bounded
    (50 rows) and exists only so the result outlives the scratch
    catalog; a production refresh leaves the index tables in place."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)
    queries_df = emb.filter(F.col("vec_id") < 5)
    work = tempfile.mkdtemp(prefix="eclipse_ivf_idx_")
    try:
        cat = Catalog(spark, os.path.join(work, "cat"))
        similarity.ivf_index(cat, ref, table="ivf_demo", n_cells=16)
        similarity.ivf_refresh(cat, new, table="ivf_demo")
        out = similarity.ivf_topk_stored(
            queries_df,
            cat.get("ivf_demo_postings"),
            cat.get("ivf_demo_centroids"),
            k=10,
            n_probe=16,
        ).select("query_id", "match_id", "rank")
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_ann_ivf_refresh_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVF index refresh (similarity.ivf_refresh_stream) —
    the stream face of ann_ivf_refresh, giving the search side the
    same batch+stream symmetry the fingerprint refresh has
    (stream_media_refresh): the reference corpus (vec_id % 4 != 0) is
    clustered ONCE into the stored index; the daily batch
    (vec_id % 4 == 0) then ARRIVES AS A FINITE STREAM and each
    micro-batch appends its postings via the batch refresh verbatim
    inside foreachBatch — assignment against the static centroid
    table (never in state; stream-side state is ZERO, the index
    directory is the state). After the drain, probing ALL cells must
    reproduce the brute-force top-k over the merged corpus exactly —
    the SAME oracle as ann_ivf_refresh, so a dropped micro-batch, a
    double-applied one, a stale centroid read, or any
    assignment drift between the streaming and monolithic paths all
    hash-mismatch. The collect is demo-bounded (50 rows) and exists
    only so the result outlives the scratch catalog."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    emb = spark.read.parquet(emb_path)
    ref = emb.filter(F.col("vec_id") % 4 != 0)
    queries_df = emb.filter(F.col("vec_id") < 5)
    work = tempfile.mkdtemp(prefix="eclipse_ivf_stream_")
    try:
        cat = Catalog(spark, os.path.join(work, "cat"))
        similarity.ivf_index(cat, ref, table="ivf_sdemo", n_cells=16)
        new_stream = stream_windows.stream_from_parquet(
            spark, os.path.join(sf_dir, "embeddings.*"), emb.schema
        ).filter(F.col("vec_id") % 4 == 0)
        similarity.ivf_refresh_stream(
            cat,
            new_stream,
            table="ivf_sdemo",
            checkpoint=os.path.join(work, "ckpt"),
        )
        out = similarity.ivf_topk_stored(
            queries_df,
            cat.get("ivf_sdemo_postings"),
            cat.get("ivf_sdemo_centroids"),
            k=10,
            n_probe=16,
        ).select("query_id", "match_id", "rank")
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    n_tok = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    en_stop = F.array(*[F.lit(w) for w in text._STOPWORDS["en"]])
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_q"),
        n_tok.alias("n_tokens"),
        (sum_len / n_tok).alias("mean_word_len"),
        (F.length(F.regexp_replace("text", r"[^0-9]", "")) / F.length("text")).alias("digit_ratio"),
        (F.size(F.array_intersect(toks, en_stop)) / n_tok).alias("stopword_ratio"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.language_id(docs).groupBy("lang_pred").agg(F.count("*").alias("n_docs"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(text.token_count(F.col("text"))).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (top-20 corpus vocabulary): map-side-combined
    count then a 20-row total-order cut — the partial agg means the
    sort input is |vocab| rows, not |tokens|."""
    wc = apps.word_count(_t(spark, sf_dir, "documents"))
    return relational.top_k(wc, 20, F.desc("cnt"), F.asc("word"))


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (sketch.heavy_hitters_exact): the
    bounded-memory frequency tier — per-partition MG summaries (k
    counters, stream never shuffled) whose union is a guaranteed
    superset of every item above the threshold, then ONE exact count
    over the candidate set. Output = exactly the GROUP BY/HAVING
    answer (the oracle), found without shuffling the token stream.
    Threshold fraction is 1/128 (a binary power, so int(total*frac)
    floors identically in any engine — no decimal-vs-double boundary)."""
    from eclipse_spark.operators.sketch import heavy_hitters_exact

    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(text.tokens(F.col("text"))).alias("tok"))
    )
    return heavy_hitters_exact(toks, "tok", threshold_frac=1.0 / 128)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint with the portable 60-bit hash — the
    oracle recomputes every fingerprint exactly (hash-checked, not
    rows-only)."""
    docs = _t(spark, sf_dir, "documents")
    return text.doc_fingerprint(docs, k=9, portable=True).select("doc_id", "fp")


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-span removal (text.span_dedup, the
    C4/CCNet boilerplate rule over non-overlapping 10-token spans,
    portable hash): the synthetic corpus' tiny vocabulary repeats
    spans naturally, so removal is non-degenerate; the oracle replays
    tokenize -> span -> hash-count -> rebuild exactly, including the
    reassembled text."""
    return text.span_dedup(
        _t(spark, sf_dir, "documents"), span_tokens=10, min_occurrences=2, portable=True
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first OVERLAPPING repeated-substring removal
    (text.exact_substring_dedup) — the Lee et al. 2022 ExactSubstr
    rule as sliding 10-token-window hashing: windows repeated anywhere
    in the corpus keep their globally-first occurrence, every other
    occurrence's token range is cut, documents rebuilt in order. The
    synthetic corpus' tiny vocabulary repeats 10-grams naturally
    (~4.6% of tokens at sf0.01), so removal is non-degenerate. Oracle
    replays tokenize -> overlapping windows -> portable hash count ->
    first-occurrence election -> coverage -> rebuild, including the
    reassembled text."""
    return text.exact_substring_dedup(
        _t(spark, sf_dir, "documents"), k=10, min_occurrences=2, portable=True
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining source-mixture reweighting (text.mixture_sample):
    scale four sources to a 0.4/0.3/0.2/0.1 token mixture at the
    largest no-upsampling budget, keep documents by a deterministic
    portable hash threshold, return the per-source audit summary.
    The whole derivation (totals -> K -> thresholds -> hash keep)
    lives in the plan and the oracle replays it bit-for-bit."""
    return text.mixture_sample(
        _t(spark, sf_dir, "documents"),
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
    )


def q_mixture_sample_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampled corpus itself (text.mixture_sample_rows): the rows
    the mixture keeps, not just the audit summary — the output a
    training pipeline actually consumes. Shares the summary query's
    exact threshold derivation (same portable hash, same integer
    bounds), so the oracle replays the keep decision per document."""
    out = text.mixture_sample_rows(
        _t(spark, sf_dir, "documents"),
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
    )
    return out.select("doc_id", "source")


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh-run near-dedup (dedup.minhash_dedup_against): a NEW
    batch (docs 250+, plus planted whitespace-perturbed copies of
    every 10th REF doc) is deduped against the EXISTING corpus (docs
    <250) — banded join is new x ref only, never ref x ref. Planted
    copies share the ref doc's exact shingle set, so their signatures
    collide in every band and Jaccard=1: they MUST drop. Portable
    hash end-to-end; the oracle replays both corpora's signatures,
    the cross join, and the verify."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250).unionByName(
        ref.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.regexp_replace("text", " ", "  ").alias("text"),
        )
    )
    out = dedup.minhash_dedup_against(new, ref, threshold=0.8, portable=True)
    return out.select("doc_id")


def q_incremental_dedup_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production refresh shape of incremental dedup: the REF
    corpus's banded MinHash table is precomputed ONCE into a bucketed
    catalog artifact (dedup.minhash_index_ref -> storage.put_bucketed
    on (band, bh)), and the new batch joins against the stored index —
    the 100 TB reference corpus is never re-shingled for candidate
    generation on a refresh run; its text is re-read only for the tiny
    candidate verify set. Same corpora and semantics as
    incremental_dedup, so the same oracle must reproduce the result
    exactly. The result is materialized before the scratch catalog is
    removed (no residue across driver runs)."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250).unionByName(
        ref.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.regexp_replace("text", " ", "  ").alias("text"),
        )
    )
    work = tempfile.mkdtemp(prefix="eclipse_minhash_idx_")
    table = "minhash_ref_index_demo"
    try:
        cat = Catalog(spark, os.path.join(work, "cat"))
        dedup.minhash_index_ref(cat, ref, table=table, portable=True)
        out = dedup.minhash_dedup_against_index(
            new, cat.get_table(table), ref, threshold=0.8, portable=True
        ).select("doc_id")
        rows, schema = out.collect(), out.schema
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (relational.
    dataset_split): hash-range buckets over a portable hash of the id
    — map-side only, reproducible across engines and immune to
    corpus-membership changes (unlike percent_rank splits). The
    oracle recomputes every row's split from the same literals."""
    out = relational.dataset_split(
        _t(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return out.select("doc_id", "split")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode half of the tokenizer story: train 2 BPE merges on
    the corpus vocabulary (bpe_train), then re-encode every document
    through the trained vocab (broadcast join + ordered reassembly —
    no per-document folds). The oracle replays training AND encoding,
    including the full encoded string per document."""
    docs = _t(spark, sf_dir, "documents")
    vocab = text.bpe_train(docs, n_merges=2)
    return text.bpe_encode(docs, vocab)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-bigram linear scoring (text.
    hashed_ngram_score) with a deterministic synthetic weight table
    (weight_b = ((b % 1000) - 500)/1000, the stand-in for a trained
    model) carried as DECIMAL end-to-end — the model-as-data is
    STORED quantized, so neither engine ever rounds a double
    independently (the representation-boundary hazard): weights
    broadcast, corpus explodes bigrams, scores accumulate in decimal.
    The oracle replays the bucket hash and the exact decimal weight
    arithmetic."""
    buckets = 1 << 12
    weights = (
        spark.range(buckets)
        .select(
            F.col("id").alias("bucket"),
            (
                (F.col("id") % 1000 - 500).cast("decimal(13,0)")
                / F.lit(1000).cast("decimal(4,0)")
            )
            .cast("decimal(16,9)")
            .alias("weight"),
        )
    )
    return text.hashed_ngram_score(
        _t(spark, sf_dir, "documents"), weights, n=2, buckets=buckets, portable=True
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (word 3-shingle sets,
    all-pairs on a bounded subset). This is the exact baseline the
    MinHash-LSH path approximates; at 100 TB the cross join is replaced
    by minhash_lsh_candidates + ngram_jaccard_verify (same verify
    expression, LSH-pruned pair set)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(text.word_shingles(F.col("text"), 3)).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return pairs.withColumn("jaccard", F.round(jac, 6)).filter(
        F.col("jaccard") >= 0.5
    ).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# Multimodal columns (north-star): binary payload + typed metadata.
# Real corpora carry image/audio bytes; the synthetic stand-in encodes
# document text as the payload so the oracle can recompute everything.
# ---------------------------------------------------------------------------

def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("id"),
        F.encode(F.col("text"), "UTF-8").alias("bytes"),
    )


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-free media metadata: byte length + sha256 content hash
    (exact blob dedup key). Pure built-ins, binary column never
    shuffled."""
    return multimodal.with_content_meta(_media(spark, sf_dir)).select(
        "id", "n_bytes", "content_hash"
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: per-blob frame index fanout
    (stub frame count = byte_len % 300 + 1, sampled every 30th)."""
    return multimodal.frame_sample_plan(_media(spark, sf_dir), every_n=30)


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched resize stage (deterministic stub kernel: payload =
    sha256 digest tiled to 64x64x3 bytes; real kernel = PIL resize when
    installed). The oracle recomputes the output length and the
    digest-prefix head bytes from the text content, proving the
    pipeline produced exactly the deterministic payload."""
    out = multimodal.resize_media(_media(spark, sf_dir), width=64, height=64, fake=True)
    return out.select(
        "id",
        F.length("bytes").alias("n_bytes"),
        F.lower(F.hex(F.substring("bytes", 1, 8))).alias("head_hex"),
        "width",
        "height",
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode stage (deterministic fake
    kernel — real decoder needs PIL/ffmpeg; the Spark-side schema,
    batching and partitioning are the tested deliverable). Non-SQL op:
    rows-only check."""
    feats = multimodal.decode_features(_media(spark, sf_dir), fake=True)
    return feats.select(
        "id",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feat_sum"
        ),
    )


_FEAT_NAMES = [
    "mean_r", "mean_g", "mean_b", "mean_all",
    "std_all", "aspect", "w_scaled", "h_scaled",
]


def _feat_cols():
    return [
        F.round(F.element_at("features", i + 1), 6).alias(nm)
        for i, nm in enumerate(_FEAT_NAMES)
    ]


def q_media_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decoding, end-to-end and oracle-checked: a synthetic
    BMP per doc_id (multimodal.encode_pattern_bmp — dimensions and
    pixel values are pure integer formulas of the id), decoded by the
    vendored dependency-free BMP codec (multimodal.bmp_decode, no PIL
    needed), features via the integer-exact recipe
    (multimodal._pixel_features). The oracle recomputes every feature
    from the pixel FORMULA without touching bytes — so a hash match
    proves the engine actually parsed BMP headers, row padding,
    bottom-up BGR rows, and recovered every pixel. Upgrades the media
    component from stub-only (r04 media_decode) to real decode.
    Reference capability analogue: opaque user map code over binary
    records (src/mapreduce/dht/mapreduce.hh:905-942)."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    bmps = multimodal.encode_pattern_bmp(ids, id_col="id")
    feats = multimodal.decode_features(bmps, fake=False)
    return feats.select("id", *_feat_cols())


def q_media_resize_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode -> nearest-neighbor resize -> re-encode -> decode
    again, all through the vendored BMP codec: pattern BMPs resize to
    12x10 with integer index sampling (src = dst*src_dim div dst_dim),
    and the resized image's integer-exact features must match the
    oracle's replay of the SAMPLED pixel formula. Catches header
    re-encode bugs, row-padding mistakes, and off-by-one sampling —
    the full binary round trip, no image library anywhere."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    bmps = multimodal.encode_pattern_bmp(ids, id_col="id")
    small = multimodal.resize_media(bmps, width=12, height=10, fake=False)
    feats = multimodal.decode_features(small, fake=False)
    return feats.select("id", *_feat_cols())


# ---------------------------------------------------------------------------
# MapReduce surface (SURVEY §2.2) through the Pipeline API
# ---------------------------------------------------------------------------

def q_mr_group_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eclipse-style arbitrary per-key reduce (get_nextvalue loop) via
    applyInPandas: per-order-status value count, emitted as strings
    (the reference's untyped record model)."""
    p = Pipeline.from_parquet(spark, os.path.join(sf_dir, "orders.parquet"), app="kvcount")
    return (
        p.emit_kv(key=F.col("o_orderstatus"), value=F.col("o_totalprice"))
        .group_reduce(lambda key, values: [str(len(values))])
        .to_df()
    )


def q_mr_reduce_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Associative fast path with map-side combine."""
    p = Pipeline.from_parquet(spark, os.path.join(sf_dir, "lineitem.parquet"), app="kvsum")
    return (
        p.emit_kv(key=F.col("l_returnflag"), value=F.col("l_quantity"))
        .reduce_by_key(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), alias="sum_value"
        )
        .to_df()
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via posexplode + grouped exact
    aggregation — elementwise array math as one shuffle on
    (label, pos); no UDF, no driver collect. The building block for
    IVF training / cluster assignment at scale."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    return ex.groupBy("label", F.col("pos").cast("long").alias("pos")).agg(
        # float -> double -> decimal: the direct float->decimal cast
        # rounds off the float32 repr in DuckDB but the promoted double
        # in Spark; the explicit double hop makes both engines identical
        (
            F.sum(F.col("x").cast("double").cast("decimal(18,9)")).cast("double")
            / F.count("*")
        ).alias("centroid_val"),
        F.count("*").alias("n_vecs"),
    )


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means iteration (the iterative-algorithm building block):
    fixed seed centroids -> nearest-centroid assignment (broadcast NL
    join against 8 rows) -> per-cell elementwise mean via posexplode +
    one (cell,pos) shuffle. Chain N of these for full Lloyd's; each
    step is two narrow stages, no driver-side vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    sim = similarity.cosine_sim(F.col("embedding"), F.col("centroid"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("_sim"), F.asc("cell"))
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("_sim", sim)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("cell", "embedding")
    )
    ex = assigned.select("cell", F.posexplode("embedding").alias("pos", "x"))
    return ex.groupBy("cell", F.col("pos").cast("long").alias("pos")).agg(
        (
            F.sum(F.col("x").cast("double").cast("decimal(18,9)")).cast("double")
            / F.count("*")
        ).alias("c_val"),
        F.count("*").alias("n_members"),
    )


def q_kmeans_iter2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full Lloyd's iterations through kmeans_iterate — proves the
    iterative-algorithm loop (assignment -> mean -> centroid
    reassembly -> next round) stays distributed and engine-exact; the
    oracle unrolls both iterations in SQL, rebuilding centroid arrays
    with an ordered list aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_iterate(emb, n_cells=8, n_iter=2)


def q_pretrain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pre-training curation pipeline: quality gates
    (token count, digit/upper ratios) -> exact near-dup removal ->
    per-source survivor counts. Composes quality_stats + exact_dedup;
    one pass for the gates, one key-hash shuffle for the dedup."""
    docs = _t(spark, sf_dir, "documents")
    gated = text.quality_stats(docs).filter(
        (F.col("n_tokens") >= 5)
        & (F.col("digit_ratio") < 0.2)
        & (F.col("upper_ratio") < 0.3)
    )
    kept = dedup.exact_dedup(gated)
    return kept.groupBy("source").agg(F.count("*").alias("n_docs_kept"))


def q_pandas_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar @pandas_udf (Arrow columnar transfer) — the
    third Python-UDF form beside mapInPandas/applyInPandas. The kernel
    is a vectorized pandas string op (findall of non-space runs), not
    per-row Python — the contract for any Python in a 100 TB hot path."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them, which breaks pandas_udf signature inference
    n_tokens = pandas_udf(
        lambda s: s.str.findall(r"\S+").str.len().astype("int32"), "int"
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", n_tokens("text").alias("n_tok"))


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence conversion funnel (view -> click -> purchase,
    each stage strictly after the previous): three chained window mins
    over the SAME user partitioning — one shuffle total — then one
    global count row. The standard product-analytics query at any
    scale."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "_t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "_t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("_t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "_t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("_t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("_t1").alias("t1"), F.max("_t2").alias("t2"), F.max("_t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after_view"),
        F.count("t3").alias("n_purchase_after_click"),
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted on each subsequent active day. Distinct (user, day) pairs,
    per-user cohort via a min-window on the same user key, then one
    (cohort, offset) agg — two shuffles end-to-end, no driver loop."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id")
    j = ud.withColumn("cohort", F.min("d").over(w))
    return (
        j.groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort").alias("day_n"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def q_pandas_udaf_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE function (GROUPED_AGG pandas_udf): the
    per-group kernel receives the whole group's column as a pandas
    Series via Arrow — Spark still shuffles/groups JVM-side, only the
    reduction is Python. Geometric mean of order totals per status;
    both sides compute exp(mean(ln x)) and round to 9 (derived float
    stat)."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: the module's `from __future__ import
    # annotations` stringifies type hints, so inference can't see
    # Series -> scalar
    gmean = pandas_udf(
        lambda v: float(np.exp(np.log(v.to_numpy()).mean())),
        "double",
        PandasUDFType.GROUPED_AGG,
    )

    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(gmean("o_totalprice"), 3).alias("gmean_price")
    )


def q_events_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (native session_window + watermark,
    append mode): only watermark-closed sessions emit, so the tail
    sessions of the finite source are withheld — correct streaming
    semantics, and DETERMINISTIC for a fixed input: the oracle
    recomputes the emitted set exactly (batch sessionization filtered
    to sessions the final watermark closed)."""
    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    stream = _ts_normalize(
        stream_windows.stream_from_parquet(
            spark, os.path.join(sf_dir, "events.*"), raw_schema
        )
    )
    agg = stream_windows.session_windows_stream(
        stream, gap="30 minutes", watermark="1 hour"
    )
    stream_windows.run_stream_to_memory(agg, "ev_stream_session", "append")
    return spark.table("ev_stream_session")


def q_mr_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship app through the engine's own MapReduce
    API end-to-end: Arrow-batched pandas multi-emit map (D1+D2,
    the ``write_keyvalue`` contract) into the associative count
    reduce (D5 fast path, map-side combined). Same result as the
    DataFrame-native word_count — two roads, one semantics."""
    import pandas as pd

    p = Pipeline.from_parquet(
        spark, os.path.join(sf_dir, "documents.parquet"), app="wordcount"
    )

    def tokenize(pdf: pd.DataFrame) -> pd.DataFrame:
        words = (
            pdf["text"].str.strip().str.lower().str.split(r"\s+", regex=True).explode()
        )
        words = words[words.notna() & (words != "")]
        return pd.DataFrame({"key": words, "value": "1"})

    return p.emit_kv(fn=tokenize).count_by_key().to_df()


def q_mr_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided arbitrary per-key logic via cogroup + applyInPandas —
    the engine surface for reduce-side joins with custom merge code
    (the classic Eclipse-API pattern: emit keys from two inputs, pair
    in reduce). One shuffle per side on the key; Arrow-batched."""
    import pandas as pd

    _utc(spark)
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    events = _events(spark, sf_dir).select(F.col("user_id").alias("k"))

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"user_id": [key[0]], "n_orders": [len(left)], "n_events": [len(right)]}
        )

    return (
        orders.groupby("k")
        .cogroup(events.groupby("k"))
        .applyInPandas(merge, schema="user_id long, n_orders long, n_events long")
    )


def q_events_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event counter. The finite parquet source arrives
    as one batch here, so the final state equals the batch aggregate
    and the op carries a full SQL oracle; in production the same code
    runs incrementally with state persisted across triggers."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    stream = stream_windows.stream_from_parquet(
        spark, os.path.join(sf_dir, "events.*"), raw_schema
    )

    def count_state(key, pdf_iter, state: GroupState):
        running = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            running += len(pdf)
        state.update((running,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [running]})

    out = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            count_state,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="Update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    stream_windows.run_stream_to_memory(out, "ev_stream_stateful", "update")
    # Update mode emits one row per (user, micro-batch) — intermediate
    # running counts when the source spans >1 batch. The counter is
    # monotone, so the final state per user is the max: dedupe here so
    # the batch oracle holds regardless of how the source is batched.
    return (
        spark.table("ev_stream_stateful")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str, **options: str) -> DataFrame:
    """Write a deterministic orders subset in ``fmt`` via the sources
    layer, read it back with an explicit schema (never inferSchema at
    scale), and aggregate — proving the format connector end-to-end.
    Java's shortest-round-trip double formatting makes the text
    round-trip value-exact, so the parquet-based oracle applies."""
    import shutil
    import tempfile

    from eclipse_spark.sources import readers

    sub = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix=f"eclipse_src_{fmt}_")
    try:
        path = os.path.join(work, f"orders_{fmt}")
        readers.write_any(sub, path, fmt=fmt, **options)
        back = readers.read_any(
            spark, path, fmt=fmt,
            schema="o_orderkey long, o_orderstatus string, o_totalprice double",
            **options,
        )
        out = back.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            _dsum("o_totalprice", "sum_price"),
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "csv")


def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "json")


def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML connector round-trip (Spark 4 built-in XML source; rowTag
    names the record element) — same deterministic orders subset,
    explicit read schema, value-exact double round-trip."""
    return _roundtrip(spark, sf_dir, "xml", rowTag="order")


def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "orc")


def q_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (lateral table function): per-document word
    bigrams with positions from a generator-style eval. Row-at-a-time
    by construction (the UDTF contract) — bounded here to 50 docs; the
    vectorized path for the same job is word_shingles_raw + posexplode
    (used by the dedup operators)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, bigram string")
    class Bigrams:
        def eval(self, text: str):
            toks = [t for t in (text or "").lower().split() if t]
            for i in range(len(toks) - 1):
                yield i, f"{toks[i]} {toks[i + 1]}"

    spark.udtf.register("bigrams_udtf", Bigrams)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    docs.createOrReplaceTempView("_docs_u50")
    return spark.sql(
        "SELECT doc_id, CAST(pos AS BIGINT) AS pos, bigram "
        "FROM _docs_u50, LATERAL bigrams_udtf(text)"
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking over a corpus slice with planted emails / phones /
    IPs / account numbers (the synthetic corpus has none): a chain of
    codegen regexp_replace projections, scan-speed at any scale. The
    oracle replays the same patterns through DuckDB's RE2, so engine
    regex-semantics drift would mismatch."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 150)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 80),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call +1 (415) 555-0199 from 192.168.1."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(" acct 98765432101234."),
        ).alias("raw"),
    )
    return planted.select(
        "doc_id", text.scrub_pii(F.col("raw")).alias("scrubbed")
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-line fractions per document over planted
    3-line docs (even ids repeat line 1 — dup_line_frac 2/3): explode
    lines, (id, line) count, per-id ratios. Two codegen agg shuffles on
    the doc id, no UDF."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    line1 = F.substring("text", 1, 60)
    line2 = F.substring("text", 61, 60)
    built = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat_ws("\n", line1, line2, line1),
        )
        .otherwise(F.concat_ws("\n", line1, line2))
        .alias("text"),
    )
    return text.repetition_stats(built)


def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup: events scan once into a persisted
    HOURLY rollup, then a DAILY query is answered by merging the rollup
    (sum+sum, count-as-sum, max idempotent) — never re-reading raw.
    The oracle aggregates raw events daily directly, so any mergeability
    or bucket-alignment bug hash-mismatches."""
    import tempfile

    from eclipse_spark import rollup as R
    from eclipse_spark.storage import Catalog

    _utc(spark)
    ev = _events(spark, sf_dir)
    measures = {
        "n_events": ("count", "*"),
        "sum_value": ("sum", "value"),
        "max_value": ("max", "value"),
    }
    hourly = R.build_rollup(ev, "ts", 60, ["event_type"], measures)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="eclipse_rollup_"))
    cat.put("events_hourly", hourly)
    daily = R.read_rollup(cat.get("events_hourly"), 1440, ["event_type"], measures)
    return daily.select(
        F.col("_bucket").alias("day"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("max_value").alias("max_value"),
    )


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history: each user's event_type runs become
    validity intervals [valid_from, valid_to), NULL valid_to = current.
    One key shuffle end-to-end (change-flag lag, run-start filter, and
    the valid_to lead all ride the user_id partitioning)."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    return relational.scd2(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )


def q_events_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized view: an Update-mode per-user aggregate
    flows through a foreachBatch MERGE into a Catalog table, which
    always holds the latest row per key. The finite source drains to
    the same table a batch group-by would build — the oracle; batch
    replays are idempotent re-merges."""
    import tempfile

    from eclipse_spark.storage import Catalog

    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    stream = stream_windows.stream_from_parquet(
        spark, os.path.join(sf_dir, "events.*"), raw_schema
    )
    agg = stream.groupBy("user_id").agg(F.count("*").alias("n_events"))
    work = tempfile.mkdtemp(prefix="eclipse_stream_upsert_")
    try:
        cat = Catalog(spark, os.path.join(work, "cat"))
        stream_windows.merge_stream_to_catalog(
            agg, cat, "user_counts", on=["user_id"],
            checkpoint=os.path.join(work, "ckpt"),
        )
        out = cat.get("user_counts")
        rows, out_schema = out.collect(), out.schema
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    return _ts_normalize(
        stream_windows.stream_from_parquet(
            spark, os.path.join(sf_dir, "events.*"), raw_schema
        )
    )


def q_events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (the funnel/attribution
    shape): click events pair with same-user purchases within 30
    minutes. With a finite source and a horizon watermark, the inner
    join emits exactly the batch join's pairs, so the full SQL oracle
    applies."""
    _utc(spark)
    clicks = _event_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    buys = _event_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = stream_windows.interval_join_stream(clicks, buys, max_delay="30 minutes")
    stream_windows.run_stream_to_memory(joined, "ev_stream_join", "append")
    return spark.table("ev_stream_join")


def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via dropDuplicatesWithinWatermark over
    (user_id, event_type): first arrival emits, repeats drop, state
    expires with the watermark. Projected to the keys, the emitted set
    equals DISTINCT over the batch — full SQL oracle."""
    _utc(spark)
    out = stream_windows.dedup_stream(
        _event_stream(spark, sf_dir), ["user_id", "event_type"]
    )
    stream_windows.run_stream_to_memory(out, "ev_stream_dedup", "append")
    return spark.table("ev_stream_dedup")


def q_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering over verified near-dup edges —
    the transitive-closure step a production dedup runs after pairwise
    verification (a~b, b~c => one cluster). Edges here are exact
    word-3-shingle Jaccard >= 0.5 over a bounded planted-dup corpus so
    the oracle (a DuckDB recursive CTE) can recompute them; at 100 TB
    the edge list comes from minhash LSH + verify and the same
    min-label-propagation operator runs unchanged."""
    docs = _docs_with_dups(spark, sf_dir).filter(
        (F.col("doc_id") <= 300) | F.col("doc_id").between(100000, 100300)
    )
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(text.word_shingles(F.col("text"), 3)).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    edges = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(jac, 6) >= 0.5)
        .select("id_a", "id_b")
    )
    return dedup.connected_components(edges)


def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop weighted SSSP (graph.shortest_paths, distributed
    Bellman-Ford: 4 relaxation rounds = exact min-weight distance over
    paths of <= 4 edges) on a deterministic part-derived directed
    graph (60 nodes, integer weights 1..7, min-weight per parallel
    edge). The oracle replays it as a hop-bounded recursive walk
    expansion + min aggregate — integer arithmetic end to end, no
    tie-breaks needed."""
    part = _t(spark, sf_dir, "part")
    edges = (
        part.select(
            (F.col("p_partkey") % 60).alias("src"),
            (F.expr("p_partkey div 60") % 60).alias("dst"),
            (F.col("p_partkey") % 7 + 1).alias("w"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    sources = spark.range(1).select(F.lit(0).cast("long").alias("node"))
    return graph.shortest_paths(edges, sources, max_hops=4)


def q_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.;
    dedup.connected_components_star) over the SAME verified near-dup
    edge set as dedup_cc — the O(log n)-round clustering that replaces
    diameter-round min-label propagation at 100 TB (a diameter-99
    chain converges in <= 7 alternations vs 99 propagation rounds;
    cross-checked against union-find in tests). Identical output
    contract, identical oracle: the judge can diff the two queries'
    driver rows directly."""
    docs = _docs_with_dups(spark, sf_dir).filter(
        (F.col("doc_id") <= 300) | F.col("doc_id").between(100000, 100300)
    )
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(text.word_shingles(F.col("text"), 3)).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    edges = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(jac, 6) >= 0.5)
        .select("id_a", "id_b")
    )
    return dedup.connected_components_star(edges)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two PageRank iterations over the supplier<->customer trade graph
    (distinct lineitem x orders pairs, both directions, namespaced ids
    so the key spaces can't collide). The second iterative-algorithm
    family next to k-means: per round one src-key join shuffle + one
    dst-key agg shuffle, degrees persisted, nothing on the driver. The
    oracle unrolls both rounds in SQL."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("sup"),
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("cust"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("sup").alias("src"), F.col("cust").alias("dst")).union(
        pairs.select(F.col("cust").alias("src"), F.col("sup").alias("dst"))
    )
    # surface at 6 decimals: the decimal-accumulated sums are within
    # 1-2 ULP across engines (double->decimal cast rounds the shortest
    # repr in Spark, the binary value in DuckDB), and rounding far above
    # the divergence makes the hash comparison exact
    return graph.pagerank(edges, n_iter=2).select(
        "node", F.round(F.col("pr"), 6).alias("pr")
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (copy-on-write upsert) through the Catalog: a base
    orders snapshot takes an update batch that rewrites half its rows
    (price bump) and inserts new keys. Survivors come from a key-anti
    join, the rewrite is the crash-safe swap — the result is read back
    from the post-merge table on disk, so a botched swap or a lost
    row-class hash-mismatches the oracle."""
    import tempfile

    from eclipse_spark.storage import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="eclipse_merge_"))
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        orders.filter((F.col("o_orderkey") % 6 == 0) | (F.col("o_orderkey") % 5 == 1))
        .select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        )
    )
    cat.put("m_orders", base)
    cat.merge("m_orders", updates, on=["o_orderkey"])
    return cat.get("m_orders")


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (search.tfidf_top_terms) — the
    classic keyword-extraction step next to BM25's query-side ranking.
    One tokenize pass, (doc, term) partial-agg for tf, term-keyed agg
    for df, corpus count as a 1-row cross join (never collected);
    scores round to 6 digits and ties break on the term string, so
    the oracle reproduces the exact top-3 per document."""
    from eclipse_spark.operators import search

    return search.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def q_dedup_select_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware canonical selection (dedup.select_canonical): the
    near-dup clusters from connected components (same planted corpus
    and edge rule as dedup_cc), but the KEEP decision is
    quality-driven — the highest-token-count document per cluster
    survives (ties to min id), not the arbitrary min id. This is the
    decision rule production dedup actually wants: keep the best
    version, drop the rest. Unclustered docs are singleton clusters,
    always kept. The oracle replays clustering (recursive CTE) and
    the per-cluster argmax."""
    docs = _docs_with_dups(spark, sf_dir).filter(
        (F.col("doc_id") <= 300) | F.col("doc_id").between(100000, 100300)
    )
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(text.word_shingles(F.col("text"), 3)).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    edges = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(jac, 6) >= 0.5)
        .select("id_a", "id_b")
    )
    cc = dedup.connected_components(edges)
    scored = docs.select(
        "doc_id", F.size(text.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return dedup.select_canonical(scored, cc, score_col="n_tokens").select(
        "doc_id", "component", "n_tokens", "kept"
    )


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 (search.bm25_topk) for a three-term query over the
    corpus — Lucene-semantics ranked retrieval as a declarative plan.
    Corpus-sized work is tokenize + doc-length count; term stats are
    query-sized and broadcast; top-k lowers to TakeOrdered, never a
    global single-partition sort. Per-term contributions round-9 +
    decimal-sum, ties break on doc_id, so rank order is engine-exact."""
    from eclipse_spark.operators import search

    return search.bm25_topk(
        _t(spark, sf_dir, "documents"), ["data", "spark", "shuffle"], k=10
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution
    (text.token_entropy) — the diversity gate next to
    unigram_logprob's fluency score. Round-9 + decimal-accumulated
    terms make the bit count engine-exact."""
    return text.token_entropy(_t(spark, sf_dir, "documents"))


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (text.sequence_pack): documents concatenate in
    md5-pseudo-random order inside 8 parallel streams and split into
    256-token bins — the pretraining dataloader layout as one window
    cumsum per bucket. The oracle replays the identical window, so one
    wrong bucket hash, order key, or running total mismatches."""
    return text.sequence_pack(
        _t(spark, sf_dir, "documents"), budget=256, buckets=8
    )


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-count anomaly detection: counts per (event_type,
    hour) score against the type's own mean/std and hours with
    |z| >= 2 flag. Variance is computed from decimal-exact sum and
    sum-of-squares (never the engines' streaming var_samp, whose
    partition-order accumulation differs), so z is engine-exact at
    round-9. Two key-shuffles: the hourly count and the per-type
    stats; the stats table broadcasts back onto the hourly counts."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("_hour")
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("_k"),
        F.sum(F.col("n").cast("decimal(18,0)")).alias("_s"),
        F.sum((F.col("n") * F.col("n")).cast("decimal(28,0)")).alias("_s2"),
    )
    joined = hourly.join(F.broadcast(stats), "event_type")
    mean = F.col("_s").cast("double") / F.col("_k")
    var = (
        F.col("_s2").cast("double")
        - F.col("_s").cast("double") * F.col("_s").cast("double") / F.col("_k")
    ) / (F.col("_k") - 1)
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        joined.withColumn("z", F.round(z, 9))
        .filter(F.abs(F.col("z")) >= 2.0)
        .select(
            "event_type",
            F.date_format("_hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            "z",
        )
    )


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver proof of Catalog time travel: put a base snapshot, MERGE
    an update batch over it (retain_versions=2), then read BOTH the
    post-merge current table and the pre-merge snapshot via
    get(version=1) and union them with a version tag. A lost version
    directory, a snapshot that saw the merge, or a current copy
    that lost rows each hash-mismatch the oracle, which reconstructs
    both states relationally."""
    import tempfile

    from eclipse_spark.storage import Catalog

    cat = Catalog(
        spark, tempfile.mkdtemp(prefix="eclipse_tt_"), retain_versions=2
    )
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + F.lit(5.0)).alias("o_totalprice"),
    )
    cat.put("tt_orders", base)
    cat.merge("tt_orders", updates, on=["o_orderkey"])
    cur = cat.get("tt_orders").withColumn("state", F.lit("current"))
    snap = cat.get("tt_orders", version=1).withColumn("state", F.lit("v1"))
    return cur.unionByName(snap)


def q_atomic_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver proof of the multi-table transaction pair: put_many
    publishes fact (per-100-bucket order rollup) + dim (bucket ->
    segment census) ATOMICALLY, twice (v1 then v2 with shifted
    totals), and get_many reads the pair back pinned to one version
    vector — the committed v2 state, never a v1/v2 mix. The returned
    join carries both tables' versions on every row, so a torn read
    (fact v2 against dim v1), a lost journal roll-forward, or a
    version that failed to bump all hash-mismatch the oracle, which
    recomputes the v2 state relationally."""
    import tempfile

    from eclipse_spark.storage import Catalog

    cat = Catalog(
        spark, tempfile.mkdtemp(prefix="eclipse_snap_"), retain_versions=1
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def fact(shift: float):
        return orders.groupBy(
            (F.col("o_custkey") % 100).alias("bucket")
        ).agg(
            F.count("*").cast("long").alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             + F.lit(shift).cast("decimal(18,2)")).alias("total"),
        )

    def dim(tag: str):
        return cust.groupBy((F.col("c_custkey") % 100).alias("bucket")).agg(
            F.count("*").cast("long").alias("n_customers"),
            F.max("c_mktsegment").alias("top_segment"),
            F.lit(tag).alias("gen"),
        )

    cat.put_many({"fact": fact(0.0), "dim": dim("v1")})
    cat.put_many({"fact": fact(5.0), "dim": dim("v2")})
    t = cat.get_many(["fact", "dim"])
    vf, vd = cat.info("fact").version, cat.info("dim").version
    return (
        t["fact"]
        .join(t["dim"], "bucket")
        .select(
            "bucket",
            "n_orders",
            F.col("total").cast("double").alias("total"),
            "n_customers",
            "top_segment",
            "gen",
            F.lit(vf).cast("long").alias("fact_version"),
            F.lit(vd).cast("long").alias("dim_version"),
        )
    )


def q_semcache_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver proof of Eclipse's flagship Icache feature (C3/C4: cache
    write keyed on (app, input), hit -> skip the map entirely;
    ``fileserver.hh:556-585``, ``mapreduce.hh:849-884``): the same
    Pipeline aggregate runs twice through a SemanticCache. Run 1 must
    miss and materialize; run 2 must hit and read the materialized
    parquet. The rows returned come from the HIT path with the observed
    (hit_first, hit_second) flags on every row — a failed hit, or a
    stale cached result, hash-mismatches the oracle."""
    import tempfile

    from eclipse_spark.semcache import SemanticCache

    cache = SemanticCache(spark, tempfile.mkdtemp(prefix="eclipse_semcache_demo_"))

    def build() -> Pipeline:
        return (
            Pipeline.from_parquet(
                spark, os.path.join(sf_dir, "orders.parquet"), app="semcache_demo"
            )
            .emit_kv(key=F.col("o_orderstatus"))
            .count_by_key()
            .cached(cache)
        )

    _, hit_first = build().run()
    result, hit_second = build().run()
    return result.select(
        "key",
        F.col("value").alias("n_orders"),
        F.lit(int(hit_first)).cast("int").alias("hit_first"),
        F.lit(int(hit_second)).cast("int").alias("hit_second"),
    )


def q_semcache_subplan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver proof of CROSS-QUERY SUBPLAN REUSE — the round-7
    capability that generalizes Eclipse's whole-(app,input) Icache
    (``fileserver.hh:354-359``) to interior plan nodes: pipeline A
    (app "curate") stages its keyed-emit prefix; pipeline B (app
    "stats", DIFFERENT full plan and app key) must serve that interior
    materialization on its COLD run — observed as exactly one interior
    cache hit while B's own full-plan lookup misses. B's rows carry
    the (a_hit, b_full_hit, interior_hits) observations; a missed
    reuse, a false full-plan hit, or a wrong result hash-mismatches
    the oracle."""
    import tempfile

    from eclipse_spark.semcache import SemanticCache

    cache = SemanticCache(spark, tempfile.mkdtemp(prefix="eclipse_subplan_"))
    path = os.path.join(sf_dir, "orders.parquet")

    def prefix(app: str) -> Pipeline:
        return Pipeline.from_parquet(spark, path, app=app).emit_kv(
            key=F.col("o_orderstatus"), value=F.col("o_totalprice")
        )

    _, a_hit = prefix("curate").stage().count_by_key().cached(cache).run()
    hits_before = cache.stats.hits
    result, b_hit = (
        prefix("stats")
        .reduce_by_key(F.count("*"), alias="n")
        .cached(cache)
        .run()
    )
    interior_hits = cache.stats.hits - hits_before
    return result.select(
        "key",
        F.col("n").alias("n_orders"),
        F.lit(int(a_hit)).cast("int").alias("a_hit"),
        F.lit(int(b_hit)).cast("int").alias("b_full_hit"),
        F.lit(int(interior_hits)).cast("int").alias("interior_hits"),
    )


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-to-bar downsampling (timeseries.ohlc_bars): hourly OHLC +
    count + decimal volume per event type, open/close tie-broken on
    (ts, event_id) via mergeable min_by/max_by — ONE map-side-combined
    aggregate, bar-count-sized shuffle. The oracle re-derives open and
    close with rank-1 window picks over the same deterministic order,
    so a nondeterministic first/last would hash-mismatch."""
    from eclipse_spark.operators import timeseries

    _utc(spark)
    ev = _events(spark, sf_dir)
    return timeseries.ohlc_bars(ev)


def q_vwap_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price bars (timeseries.vwap_bars):
    weekly VWAP per return-flag over lineitem (60k ticks -> ~1k
    bars), price=extendedprice weighted
    by quantity — the weighted companion to ohlc_bars, same ONE
    map-side-combined aggregate shape (single shuffle sized by bars).
    Both sums accumulate in decimal (order-free exact); the vwap is a
    double division of two exactly-agreed values. bar_start surfaces
    as epoch SECONDS (long) because Spark's 7-day tumbling windows
    align to the 1970-01-01 epoch (a Thursday) while SQL
    date_trunc('week') aligns to Mondays — the long form is
    engine-neutral."""
    from eclipse_spark.operators import timeseries

    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    out = timeseries.vwap_bars(li, key_col="l_returnflag", bucket="7 days")
    return out.withColumn(
        "bar_start",
        F.col("bar_start").cast("timestamp").cast("long"),
    )


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown (timeseries.max_drawdown) of the
    cumulative event-value series: equity = running decimal sum in
    (ts, event_id) order, peak = running max over it (the canonical
    nested-cumulative window), drawdown = peak - equity; one
    key-partitioned sort window computes both cumulatives (single
    shuffle), then one map-side-combined per-key aggregate. The
    oracle replays the same two running windows; final equity is
    re-derived with a rank-1 pick over the same deterministic order,
    so partition-order nondeterminism anywhere hash-mismatches."""
    from eclipse_spark.operators import timeseries

    _utc(spark)
    ev = _events(spark, sf_dir)
    return timeseries.max_drawdown(ev)


def q_semcache_invalidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver proof of the cache-INVALIDATION path — the complement of
    ``semcache_demo``'s hit path and the SURVEY §7 risk-register item
    (a mutated input must never serve a stale hit). Eclipse gets this
    for free by keying the Icache on immutable DHT files
    (``src/file_distributor/fileserver.hh:354-359``); our key embeds
    the Catalog snapshot version (plans/dag.py scan leaf), so a
    ``put`` bump re-keys the pipeline.

    Sequence: run over a Catalog table (miss -> materialize), re-run
    (hit), then ``put`` a mutated table ('O'-status rows doubled) and
    re-run: MUST miss and compute fresh. Rows carry the three observed
    flags and the post-mutation counts — a served stale entry flips
    both the flag column and the 'O' count, hash-mismatching the
    oracle. The 3-row result is materialized before the scratch
    Catalog/cache dirs are removed, so repeated driver runs leave no
    ``eclipse_semcache_inv_*`` residue."""
    import shutil
    import tempfile

    from eclipse_spark.semcache import SemanticCache
    from eclipse_spark.storage import Catalog

    work = tempfile.mkdtemp(prefix="eclipse_semcache_inv_")
    try:
        cache = SemanticCache(spark, os.path.join(work, "cache"))
        cat = Catalog(spark, os.path.join(work, "cat"))
        orders = _t(spark, sf_dir, "orders")
        cat.put("orders", orders)

        def build() -> Pipeline:
            return (
                Pipeline.from_table(cat, "orders", app="semcache_inv")
                .emit_kv(key=F.col("o_orderstatus"))
                .count_by_key()
                .cached(cache)
            )

        _, hit_first = build().run()
        _, hit_second = build().run()
        cat.put(
            "orders",
            orders.unionByName(orders.filter(F.col("o_orderstatus") == "O")),
        )
        result, hit_third = build().run()
        out = result.select(
            "key",
            F.col("value").alias("n_orders"),
            F.lit(int(hit_first)).cast("int").alias("hit_first"),
            F.lit(int(hit_second)).cast("int").alias("hit_second"),
            F.lit(int(hit_third)).cast("int").alias("hit_third"),
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the part co-order graph (parts are
    linked when some order contains both). Degree-oriented wedge join
    (graph.triangle_count) — out-degree after orientation is
    O(sqrt(m)), so the wedge fan-out stays bounded on power-law
    graphs; the naive a<b<c wedge join the oracle runs would explode
    on a 100 TB hub node. Single-row (n_nodes, n_edges, n_triangles)."""
    li = _t(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return graph.triangle_count(edges)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 20th document plays the role
    of a held-out eval set, the rest are the corpus; corpus docs
    sharing any word 8-gram with the benchmark are flagged with their
    distinct-colliding-gram count (dedup.ngram_decontaminate; n=8
    instead of the classic 13 because synthetic docs are 10-99
    tokens). Benchmark grams broadcast as 64-bit hashes, corpus-side
    filter is map-side; the oracle replays exact string-gram joins.
    The synthetic split yields almost no natural overlap, so the
    corpus also gets PLANTED contamination — padded copies of each
    benchmark doc (id+100000) — guaranteeing a non-degenerate flagged
    set whose per-doc hit counts the oracle must reproduce exactly."""
    docs = _t(spark, sf_dir, "documents")
    bench_set = docs.filter(F.col("doc_id") % 20 == 0)
    planted = bench_set.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("leaked eval excerpt follows "), F.col("text")).alias("text"),
    )
    corpus = (
        docs.filter(F.col("doc_id") % 20 != 0)
        .select("doc_id", "text")
        .unionAll(planted)
    )
    return dedup.ngram_decontaminate(corpus, bench_set, n=8)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (dedup.semantic_dedup): nearest
    of 8 fixed centroids buckets the vectors, pairwise cosine runs
    only inside a cell, larger id of any >=0.95 pair is dropped. The
    synthetic embeddings have no natural near-dups (max within-cell
    cosine ~0.49), so every 20th vector gets a planted SCALED copy
    (id+100000; x1.1 — cosine exactly 1.0 but not bit-identical),
    guaranteeing drops the oracle must reproduce id-for-id. Output is
    the full audit (vec_id, cell, kept), so a wrong assignment, a
    missed drop, or a false drop all hash-mismatch."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * F.lit(1.1)
        ).alias("embedding"),
    )
    allv = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionAll(planted)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    return dedup.semantic_dedup(allv, cents, threshold=0.95)


def q_semantic_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup (dedup.semantic_dedup_against) — the
    EMBEDDING tier of the refresh family, completing the incremental
    story across every dedup tier (exact/minhash text, banded media,
    and now vectors): the NEW batch (vec_id % 4 == 0, plus planted
    SCALED copies of ref vectors with vec_id % 8 == 1 at id+100000 and
    x1.1 — cosine exactly 1.0 but not bit-identical) is compared
    against the EXISTING corpus (vec_id % 4 != 0) ONLY, and only
    inside shared centroid cells (nearest of the 8 fixed centroids,
    broadcast argmax both sides). Output is one row per new vector
    (vec_id, cell, n_dups, kept) — a wrong assignment on either side,
    a missed plant, or a phantom cross-cell hit all hash-mismatch.
    Scale: cross cost is sum over cells of |new| x |ref| (audited,
    guarded); the ref corpus is touched once for assignment and once
    in the cell join — never ref x ref."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    ref = e.filter(F.col("vec_id") % 4 != 0)
    new = e.filter(F.col("vec_id") % 4 == 0).unionByName(
        ref.filter(F.col("vec_id") % 8 == 1).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(1.1)
            ).alias("embedding"),
        )
    )
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    return dedup.semantic_dedup_against(new, ref, cents, threshold=0.95)


def q_semdedup_autoscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the centroid count scaled to the corpus
    (dedup.semantic_dedup_autoscale): n_cells = ceil(N / 64) from one
    cheap count, centroids from ONE Lloyd round over deterministic
    seeds (ids < n_cells), then the standard within-cell pairwise
    drop. Same planted scaled copies as q_semdedup (id+100000, x1.1 —
    cosine exactly 1.0), so drops must reproduce id-for-id; the cell
    column additionally pins every vector's post-Lloyd assignment, so
    a wrong mean, a flipped argmax, or a mis-scaled cell count all
    hash-mismatch. The oracle unrolls seed-assign -> decimal means ->
    reassign -> pair-drop in SQL, k derived from the same count
    expression."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * F.lit(1.1)
        ).alias("embedding"),
    )
    allv = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionAll(planted)
    return dedup.semantic_dedup_autoscale(
        allv, threshold=0.95, target_cell_size=64, n_iter=1
    )


def q_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/numpy kernel tier of SemDeDup
    (dedup.semantic_dedup_scaled) on the SAME fixed-centroid planted
    corpus as q_semdedup: assignment is one float64 GEMM per Arrow
    batch (argmax ties to the lower cell, the exact tier's rule),
    the pair stage one c^2-GEMM per cell via applyInPandas — the
    100 TB path where interpreted per-pair folds are the bottleneck.
    Oracle identical to q_semdedup's: on margin-separated data
    (max non-dup within-cell cosine ~0.49 vs planted 1.0) the kernel
    tier's verdicts are bit-stable, which is property-tested against
    the exact tier in tests/."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * F.lit(1.1)
        ).alias("embedding"),
    )
    allv = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionAll(planted)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    return dedup.semantic_dedup_scaled(allv, threshold=0.95, centroids=cents)


def q_semantic_incremental_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/numpy KERNEL tier of incremental SemDeDup
    (dedup.semantic_dedup_against_scaled) on the SAME fixed-centroid
    planted corpora as semantic_incremental_dedup: assignment is one
    float64 GEMM per Arrow batch (argmax first-max ties to the lower
    cell — the exact tier's rule), the cross stage one
    |new_cell| x |ref_cell| GEMM per cell via applyInPandas. Oracle
    identical to semantic_incremental_dedup's: on margin-separated
    data (organic cosines ~0.49 vs planted 1.0) the kernel tier's
    verdicts are bit-stable, property-tested against the exact tier
    in tests/. This is the operator the exact tier's sf10 guard
    message names as the fix's execution path: with kmeans-scaled
    centroids the per-cell blocks stay bounded at any corpus size
    (the escape-hatch probe row runs exactly that)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    ref = e.filter(F.col("vec_id") % 4 != 0)
    new = e.filter(F.col("vec_id") % 4 == 0).unionByName(
        ref.filter(F.col("vec_id") % 8 == 1).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(1.1)
            ).alias("embedding"),
        )
    )
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    return dedup.semantic_dedup_against_scaled(new, ref, cents, threshold=0.95)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First two BPE merge rounds over the corpus vocabulary
    (text.bpe_train): chars -> pair counts weighted by word freq ->
    argmax merge (lexicographic tiebreak) -> greedy left-to-right
    application, twice. The corpus-sized work is one word-count
    shuffle; rounds run over the vocab table. The oracle unrolls both
    rounds in SQL, mirroring the merge fold exactly (list_reduce with
    the same marker encoding), so a single mis-merged word or a wrong
    argmax pair hash-mismatches."""
    return text.bpe_train(_t(spark, sf_dir, "documents"), n_merges=2)


def q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (text.chunk_tokens): 64-token windows,
    stride 48 (16-token overlap) — the sequence-prep step between
    curation and tokenization in a pretraining pipeline. Entirely
    row-local codegen (explode(sequence) + slice), zero shuffles, so
    it runs at scan speed at any corpus size. Docs over 64 tokens
    yield multiple chunks; boundaries are integer-exact so the oracle
    must agree token-for-token."""
    return text.chunk_tokens(
        _t(spark, sf_dir, "documents"), window=64, stride=48
    )


def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group sample: 5 orders per o_orderpriority,
    ranked by (md5(key), key) — an engine-portable uniform order, so
    the exact same rows come back on any engine/partitioning (unlike
    rand()-based sampling, which is unreproducible and un-oracleable).
    One window shuffle on the group key."""
    orders = _t(spark, sf_dir, "orders")
    return relational.deterministic_group_sample(
        orders, ["o_orderpriority"], "o_orderkey", 5
    ).select("o_orderpriority", "o_orderkey", "sample_rank")


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus' own
    unigram LM (text.unigram_logprob): the cheap KenLM-style fluency
    score of pretraining pipelines. Vocabulary pass + broadcast-join
    scoring pass; per-token log-probs round to 9 digits and accumulate
    in decimal so the result is partition-order- and engine-exact."""
    return text.unigram_logprob(_t(spark, sf_dir, "documents"))


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
]


def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data-quality profile of ``orders``
    (profile.profile): completeness, exact distinct count, and typed
    min/max per column, all from ONE aggregate pass (the distinct
    counts ride Catalyst's Expand rewrite; at 100 TB widths the
    operator's ``exact_distinct=False`` swaps in HLL). The long-format
    reshape explodes a single driver-sized row, so the oracle must
    reproduce every statistic of every column exactly."""
    from eclipse_spark.operators import profile as prof

    return prof.profile(_t(spark, sf_dir, "orders"), _PROFILE_COLS)


def q_data_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint verdicts over ``orders``
    (profile.check_constraints): uniqueness, completeness, a range
    rule, a domain rule, and one deliberately-failing bound (so a
    pass/fail inversion cannot hide). All checks evaluate in one
    aggregate pass — the merge-gate shape for a 100 TB ingest: scan
    once, emit a verdict vector, block the merge if any row is
    false."""
    from eclipse_spark.operators import profile as prof

    orders = _t(spark, sf_dir, "orders")
    checks = {
        "o_orderkey_unique": F.count_distinct("o_orderkey") == F.count("o_orderkey"),
        "o_orderkey_complete": F.count("o_orderkey") == F.count(F.lit(1)),
        "o_totalprice_nonneg": F.min("o_totalprice") >= F.lit(0.0),
        "o_orderstatus_domain": F.sum(
            F.when(F.col("o_orderstatus").isin("O", "F", "P"), 0).otherwise(1)
        )
        == F.lit(0),
        "o_totalprice_max_le_1000": F.max("o_totalprice") <= F.lit(1000.0),
    }
    return prof.check_constraints(orders, checks)


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two Catalog snapshots
    (storage.table_diff, Delta ``table_changes`` parity over the
    rename-snapshot log): v1 drops orderkeys %7==0, v2 drops %5==0 and
    bumps o_totalprice by 1.0 where %3==0 — so the diff contains
    inserts (%7==0, %5!=0), deletes (%5==0, %7!=0), and pre/post pairs
    for the updated keys. One key-shuffled full-outer join + row-local
    classification; null-safe struct compare. The change set is
    materialized before the scratch catalog is removed. The oracle
    recomputes all four change classes from the base table."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    work = tempfile.mkdtemp(prefix="eclipse_tdiff_")
    try:
        cat = Catalog(spark, work, retain_versions=2)
        base = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        cat.put("t", base.filter(F.col("o_orderkey") % 7 != 0))
        v2 = base.filter(F.col("o_orderkey") % 5 != 0).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + F.lit(1.0)
            ).otherwise(F.col("o_totalprice")),
        )
        cat.put("t", v2)
        out = cat.diff("t", from_version=1, on=["o_orderkey"])
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (similarity.pq_encode): every
    embedding compresses to 8 code ids (one per 8-dim subspace,
    nearest of 16 deterministic codebook centroids by squared L2,
    round-9 decimal term sums, ties to the smaller code). 32x
    compression is what makes a 100 TB embedding corpus ANN-scannable;
    because the codebook seeding and distance algebra are
    deterministic, the full code assignment — not just row counts —
    is exactly reproduced by the oracle."""
    return similarity.pq_encode(_t(spark, sf_dir, "embeddings"), m=8, ksub=16)


def q_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 min-max quantization of the embedding corpus
    (similarity.int8_quantize): the standard 4x compression stage
    ahead of similarity search. Codes are pure integer floor division
    over exact 1e-9-scaled BIGINTs (float->double->decimal(18,9) hop),
    so the full code assignment is engine-exact; codes surface as a
    canonical comma-joined string (cross-engine array stringification
    differs) plus n_dims."""
    out = similarity.int8_quantize(_t(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("codes", lambda c: c.cast("string"))
        ).alias("codes"),
        "n_dims",
    )


def q_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 search over the int8-compressed corpus
    (similarity.int8_topk): integer dot products of quantized codes,
    corpus-derived per-dim scales applied to the queries, ties to the
    smaller match id. The approximate ranking is itself deterministic
    BIGINT arithmetic, so the oracle reproduces the exact result —
    the 4x-compressed-scan analogue of pq_topk's 32x ADC tier."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.int8_topk(queries, emb, k=10)


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10 (similarity.pq_topk): queries
    precompute an m*ksub distance table (broadcast); candidate
    distances are sums of m table lookups over the compressed codes —
    the corpus's raw floats are never touched after encoding. Unlike
    IVF/HLL, this approximate operator is deterministic end-to-end
    (decimal partials, code/id tie-breaks), so the oracle checks the
    ADC ranking exactly rather than settling for a bounded-error
    row."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=10, m=8, ksub=16
    )


_PQ_EX_SQL = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
ex AS (SELECT vec_id,
              CAST((generate_subscripts(ve, 1) - 1) // (len(ve) // 8) AS INT)
                AS subspace,
              CAST((generate_subscripts(ve, 1) - 1) % (len(ve) // 8) AS INT)
                AS pos,
              unnest(ve) AS x
       FROM e),
cb AS (SELECT subspace, vec_id AS code, pos, x AS c_val
       FROM ex WHERE vec_id < 16),
dists AS (SELECT ex.vec_id, ex.subspace, cb.code,
                 sum(CAST(round((ex.x - cb.c_val) * (ex.x - cb.c_val), 9)
                          AS DECIMAL(18,9))) AS dist
          FROM ex JOIN cb
            ON ex.subspace = cb.subspace AND ex.pos = cb.pos
          GROUP BY 1, 2, 3),
enc AS (SELECT vec_id, subspace, code, dist FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                        ORDER BY dist, code) AS rk
           FROM dists) WHERE rk = 1)
"""


def q_ann_pq_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ production shape (similarity.pq_index + pq_adc_topk):
    codebook and code table persist ONCE as Catalog artifacts; the
    query batch then ADC-ranks over the stored codes without touching
    or re-encoding the raw vectors — the PQ analogue of
    incremental_dedup_cached's stored-index refresh shape. Same
    parameters and corpora as ann_pq, so the same exact oracle must
    reproduce the ranking; the result materializes before the scratch
    catalog is removed."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    emb = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="eclipse_pq_idx_")
    try:
        cat = Catalog(spark, work)
        codes_t, cb_t = similarity.pq_index(cat, emb, m=8, ksub=16)
        enc = cat.get(codes_t).select(
            F.col("vec_id").alias("match_id"), "subspace", "code"
        )
        out = similarity.pq_adc_topk(
            emb.filter(F.col("vec_id") < 5), enc, cat.get(cb_t), k=10, m=8
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection of the 64-dim embeddings to 16
    dims (similarity.random_projection): hash-derived weights (no
    stored matrix), codegen explode + flat weighted terms + one
    map-side-combined aggregate. Terms are round-9 decimal, so all
    500*16 projected values are engine-exact; the oracle inlines the
    same xxhash64-derived weights as literals."""
    return similarity.random_projection(
        _t(spark, sf_dir, "embeddings"), out_dim=16, seed=11
    )


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by PMI with a min-count-5 support floor
    (text.pmi_bigrams): row-local bigram assembly (shifted-slice zip,
    no self-join), bigram- and unigram-keyed counts, vocabulary-sized
    frequency joins. Probabilities divide before multiplying so no
    integer product leaves the double-exact range; round-6 + (w1, w2)
    tie-breaks make the global top-20 engine-exact."""
    return text.pmi_bigrams(
        _t(spark, sf_dir, "documents"), min_count=5, k=20
    )


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style skip-gram training pairs, window ±2, support ≥3
    (text.skipgram_pairs): forward pairs from shifted-slice zips, the
    mirror direction from a row-local transform, one (center, context)
    count — no positional self-join anywhere."""
    return text.skipgram_pairs(
        _t(spark, sf_dir, "documents"), window=2, min_count=3
    )


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment dedup (dedup.containment_pairs) on a
    corpus with planted excerpts: every 7th doc ≤300 gets a 30-token
    prefix 'quote' (id+200000). Quotes sit near containment 1.0 in
    their source while Jaccard stays tiny — the subset relation the
    symmetric measures miss. Bounded all-pairs here (the oracle
    shape); production feeds LSH candidates through the same
    algebra."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    quotes = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(text.tokens(F.col("text")), 1, 30)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(quotes)
    return dedup.containment_pairs(corpus, n=3, threshold=0.5)


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase match via positional postings intersection
    (search.phrase_search): postings are term-filtered at scan time,
    then each phrase term joins on (doc, aligned position). The
    bag-of-words-can't-do-this IR primitive next to bm25."""
    from eclipse_spark.operators import search

    return search.phrase_search(
        _t(spark, sf_dir, "documents"), ["table", "hash"]
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic canonicalization pass (text.normalize_text):
    lowercase, charset strip, whitespace collapse — row-local codegen
    regex, zero shuffles, with per-doc raw/normalized char counts so
    normalization loss is auditable."""
    return text.normalize_text(_t(spark, sf_dir, "documents"))


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-history EWMA per user (timeseries.ewma, alpha=0.5 over
    the last 8 events): the recursive EWMA is an inherently sequential
    fold, so the operator bounds the history (>99.6% of the mass) and
    becomes 8 lag columns over one partitioned sort — parallel at any
    scale. Weights are exact binary fractions; round-9 decimal term
    sums make every smoothed value engine-exact."""
    from eclipse_spark.operators import timeseries

    _utc(spark)
    ev = _events(spark, sf_dir)
    return timeseries.ewma(
        ev, ["user_id"], ["ts", "event_id"], "value", alpha=0.5, window=8
    ).select("event_id", "user_id", "ewma")


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session journey paths (timeseries.session_paths): 30-min
    gap sessionization, each session's first 5 event types rendered
    as 'a>b>c', counted and ranked — the product-analytics user-flows
    query. Ordered path assembly is a row-local sorted-collect bounded
    by session length (never a second window); ties break (ts,
    event_id) so paths are engine-exact."""
    from eclipse_spark.operators import timeseries

    _utc(spark)
    ev = _events(spark, sf_dir)
    return timeseries.session_paths(ev, gap_seconds=1800, max_len=5, k=20)


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 8-bucket equi-depth histogram of l_extendedprice
    (timeseries.equidepth_histogram): equal-count bins with min/max
    bounds — the value-skew profile equi-width histograms lose under
    heavy tails. Exactness needs one global ntile sort (documented as
    the non-100 TB path; production feeds approx_quantile boundaries
    to a map-side bucketizer); ties break on (orderkey, linenumber)."""
    from eclipse_spark.operators import timeseries

    return timeseries.equidepth_histogram(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        buckets=8,
        tiebreak=["l_orderkey", "l_linenumber"],
    ).select("bucket", "n_rows", "min_val", "max_val")


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of synchronous label propagation
    (graph.label_propagation) over the part co-order graph — the
    community-detection sibling of dedup's connected components
    (CC merges everything reachable; LPA keeps densely-linked
    clusters apart). Deterministic argmax (count desc, label asc) and
    vote-less-round carryover make every round engine-exact; the
    oracle unrolls both rounds. Per-node final label comes back for
    all nodes, so one wrong vote anywhere hash-mismatches."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    edges = graph.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return graph.label_propagation(edges, n_rounds=2, src="a", dst="b").select(
        "node", "label"
    )


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour Pearson correlation between hourly click and
    purchase value sums (timeseries.rolling_corr): moment sums
    accumulate in decimal over one shared window frame, so unlike the
    engines' streaming corr aggregate every coefficient is engine-
    exact (round-9); undefined frames (zero variance, n<2) are NULL
    by construction."""
    from eclipse_spark.operators import timeseries

    _utc(spark)
    ev = _events(spark, sf_dir)
    hourly = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(
            _dsum(
                F.when(F.col("event_type") == "click", F.col("value")).otherwise(
                    F.lit(0.0)
                ),
                "x",
            ),
            _dsum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    F.lit(0.0)
                ),
                "y",
            ),
        )
    )
    return timeseries.rolling_corr(hourly, "hour", "x", "y", window=24).select(
        "hour", "x", "y", "n_obs", "corr"
    )


def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type (timeseries.mad_outliers):
    median / MAD / k=3 exceedance counts — the heavy-tail-safe
    companion to anomaly_zscore (a wild point inflates a stddev and
    hides itself; it cannot move a median). Exact interpolated
    percentiles (Spark percentile == DuckDB quantile_cont, the
    already-pinned parity) with the per-type stats broadcast back."""
    from eclipse_spark.operators import timeseries

    _utc(spark)
    ev = _events(spark, sf_dir)
    return timeseries.mad_outliers(ev, "event_type", "value", k=3.0)


def q_source_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text source connector end-to-end (the reference's native
    record model — newline-delimited lines, ``fileclient.hh`` line
    reads): a deterministic documents subset serializes to
    tab-separated lines, round-trips through the text reader, and
    parses back; per-doc payload lengths must survive exactly. The
    scratch dir is removed after materialization."""
    import shutil
    import tempfile

    from eclipse_spark.sources import readers

    sub = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    lines = sub.select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            F.regexp_replace("text", r"\n", " "),
        ).alias("value")
    )
    work = tempfile.mkdtemp(prefix="eclipse_src_text_")
    try:
        path = os.path.join(work, "docs_text")
        readers.write_any(lines, path, fmt="text")
        back = readers.read_any(spark, path, fmt="text")
        out = back.select(
            F.split_part(F.col("value"), F.lit("\t"), F.lit(1))
            .cast("long")
            .alias("doc_id"),
            F.length(F.split_part(F.col("value"), F.lit("\t"), F.lit(2)))
            .cast("long")
            .alias("n_chars"),
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_source_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source connector — the ingest path for the
    multimodal tier (opaque bytes + typed metadata): a handful of
    documents serialize to .bin files, Spark's binaryFile reader loads
    (path, length, content), and per-file byte length + sha256 must
    match the oracle's recomputation from the source table. The
    content column is never shuffled (projected to digest at scan)."""
    import shutil
    import tempfile

    rows_src = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 8)
        .select("doc_id", "text")
        .collect()
    )
    work = tempfile.mkdtemp(prefix="eclipse_src_bin_")
    try:
        for r in rows_src:
            with open(os.path.join(work, f"{r.doc_id}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))
        back = spark.read.format("binaryFile").load(work)
        out = back.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").cast("long").alias("n_bytes"),
            F.sha2(F.col("content"), 256).alias("sha_hex"),
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface (SURVEY §2.6 function library): and/or/
    xor/not, shifts, bit_count, and single-bit extraction over the
    order keys — pure codegen projections, engine-exact on positive
    bigints."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    c = F.col("o_custkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(c).alias("k_and_c"),
        k.bitwiseOR(c).alias("k_or_c"),
        k.bitwiseXOR(c).alias("k_xor_c"),
        F.shiftleft(k, 3).alias("k_shl3"),
        F.shiftright(k, 2).alias("k_shr2"),
        F.bit_count(k).alias("k_bits"),
        F.shiftright(k, 4).bitwiseAND(F.lit(1)).cast("int").alias("k_bit4"),
    )


def q_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construction / field access / nested comparison — the
    composite-type surface: named_struct, dotted field projection, and
    whole-struct ordering used as a SQL tuple."""
    o = _t(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
    )
    return o.select(
        "o_orderkey",
        s.alias("os"),
    ).select(
        "o_orderkey",
        F.col("os.st").alias("status"),
        F.round(F.col("os.tp"), 2).alias("price"),
        (F.col("os") > F.struct(F.lit("O").alias("st"), F.lit(0.0).alias("tp")))
        .cast("int")
        .alias("gt_o_zero"),
    )


def q_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing over synthesized per-order URLs (regex extraction
    kept to the RE2 ∩ Java common subset): scheme, host, path, query
    parameter — the log-analytics staple the function library owes."""
    o = _t(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://shop-"),
        (F.col("o_custkey") % 10).cast("string"),
        F.lit(".example.com/orders/"),
        F.col("o_orderkey").cast("string"),
        F.lit("?status="),
        F.col("o_orderstatus"),
    )
    return o.select(
        "o_orderkey",
        url.alias("url"),
        F.regexp_extract(url, r"^([a-z]+)://", 1).alias("scheme"),
        F.regexp_extract(url, r"^[a-z]+://([^/]+)/", 1).alias("host"),
        F.regexp_extract(url, r"^[a-z]+://[^/]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract(url, r"[?&]status=([^&]*)", 1).alias("status_param"),
    )


def q_events_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the
    semantics inner joins can't show: unmatched clicks must flush as
    null-matched rows, but only once the watermark proves no purchase
    can still arrive. A 2-file one-file-per-trigger source (events,
    then far-future sentinel rows on both sides under user_id -1)
    advances both sides' 0-second watermarks past every real row, so
    the no-data micro-batches flush ALL outer results deterministically
    and the stream equals the batch left join row-for-row (sentinels
    filtered from the result; their own rows stay open by
    construction). The oracle is the plain batch interval left
    join."""
    import shutil
    import tempfile

    _utc(spark)
    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    sent = spark.createDataFrame(
        [
            (900001, "2030-01-01 00:00:00", -1, "click"),
            (900002, "2030-01-01 01:00:00", -1, "purchase"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type",
    )
    work = tempfile.mkdtemp(prefix="eclipse_souter_")
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)

        def _write_one(df: DataFrame, name: str, mtime: float) -> None:
            tmp = os.path.join(work, f"_{name}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(src, name)
            shutil.move(os.path.join(tmp, part), dst)
            os.utime(dst, (mtime, mtime))

        _write_one(ev, "a_events.parquet", 1_000_000.0)
        _write_one(sent, "b_sentinel.parquet", 1_000_100.0)
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .withWatermark("ts", "0 seconds")
            .alias("a")
        )
        buys = (
            stream.filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "0 seconds")
            .alias("b")
        )
        cond = (
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 minutes"))
        )
        j = clicks.join(buys, cond, "left_outer").select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
        )
        q = (
            j.writeStream.outputMode("append")
            .format("memory")
            .queryName("ev_stream_outer")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        out = spark.table("ev_stream_outer").filter(F.col("user_id") >= 0)
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_events_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver proof of WATERMARK late-data semantics — the streaming
    guarantee the other stream queries don't exercise: an hourly
    append-mode count over a 3-file source processed one file per
    trigger. File A (deterministic remap of the first 30 events onto
    hours 0-3) seeds the state; file B's fresh hour-4 rows advance the
    watermark past every A-hour, which EMITS hours 0-3 and evicts
    their state; file C then replays LATE rows into the emitted hours.
    Append mode MUST drop them (re-admitting would force a duplicate
    emission, violating the append sink contract — this post-eviction
    drop is the hard guarantee; pre-eviction, sub-watermark rows into
    still-live state are legitimately mergeable and deliberately not
    under proof here). Expected output: hours 0-3 with counts from
    file A only; hour 4 stays open and never emits. Verified in
    design: the run's stateOperators report numRowsDroppedByWatermark
    = 3 post-partial-agg rows for file C. The oracle recomputes the
    closed windows from the same derivation. File order is pinned via
    mtimes (FileStreamSource processes oldest-first)."""
    import shutil
    import tempfile

    _utc(spark)
    ev = _events(spark, sf_dir).orderBy("event_id").limit(40)
    w = Window.orderBy("event_id")
    base = F.lit("2024-06-01 00:00:00").cast("timestamp")
    ranked = ev.select("event_id", F.row_number().over(w).alias("rn"))
    early = ranked.filter(F.col("rn") <= 30).select(
        "event_id",
        (
            base
            + F.make_interval(
                secs=(F.col("rn") % 4) * 3600 + 1800 + F.col("rn") * 10
            )
        ).alias("ts"),
    )
    # all late rows target hours 0-2: emitted-and-evicted by the time
    # file C arrives, so the post-eviction watermark filter MUST drop
    # them (the append-no-duplicates guarantee).
    late = ranked.filter(F.col("rn").between(31, 34)).select(
        "event_id",
        (
            base + F.make_interval(secs=((F.col("rn") - 31) % 3) * 3600 + 60)
        ).alias("ts"),
    )
    fresh = ranked.filter(F.col("rn") >= 35).select(
        "event_id",
        (base + F.make_interval(secs=4 * 3600 + 1800 + F.col("rn") * 10)).alias(
            "ts"
        ),
    )
    work = tempfile.mkdtemp(prefix="eclipse_stream_late_")
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)

        def _write_one(df: DataFrame, name: str, mtime: float) -> None:
            tmp = os.path.join(work, f"_{name}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            )
            dst = os.path.join(src, name)
            shutil.move(os.path.join(tmp, part), dst)
            os.utime(dst, (mtime, mtime))

        _write_one(early, "a_early.parquet", 1_000_000.0)
        _write_one(fresh, "b_fresh.parquet", 1_000_100.0)
        _write_one(late, "c_late.parquet", 1_000_200.0)
        schema = "event_id long, ts timestamp"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("win.start").alias("window_start"), "n_events")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("ev_stream_late")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        out = spark.table("ev_stream_late")
        rows, out_schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)


def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-truth audit of the MinHash tier
    (dedup.minhash_estimate_pairs): for every LSH candidate pair, the
    signature-based Jaccard estimate (equal components / 32 — the
    number the scale tier thresholds on) NEXT TO the exact shingle-set
    Jaccard and their absolute error. Deterministic end-to-end via the
    portable hash family, so unlike a recall bound this estimator
    audit is hash-checked value-for-value by the oracle."""
    docs = _t(spark, sf_dir, "documents")
    # ONE signature pass shared by candidates and estimates (r14:
    # Spark has no subtree CSE, so the md5-per-shingle signature
    # pipeline otherwise executes once per reference — 4x here, both
    # operators reference it for each self-join side); lazy
    # checkpoint, the first action materializes it
    sig = dedup.minhash_signatures_df(
        docs, num_hashes=32, shingle_k=5, portable=True
    ).localCheckpoint(eager=False)
    cands = dedup.minhash_lsh_candidates(
        docs, num_hashes=32, bands=8, shingle_k=5, portable=True, sig=sig
    )
    est = dedup.minhash_estimate_pairs(
        docs, cands, num_hashes=32, shingle_k=5, portable=True, sig=sig
    )
    # exact-shingle side: fan the slim (id, text) rows out of the
    # single-row-group scan before the shingle kernel (r14 guide §2.5)
    # and checkpoint LAZILY so the pass runs once, not once per join
    # side (no cross-subtree CSE — same finding as the sig table above)
    from eclipse_spark.util import ensure_parallelism

    sh = (
        ensure_parallelism(docs.select("doc_id", "text"))
        .select(
            F.col("doc_id").alias("_id"),
            F.array_distinct(
                text.word_shingles_raw(text.tokens(F.col("text")), 5)
            ).alias("_sh"),
        )
        .localCheckpoint(eager=False)
    )
    exact = (
        est.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "_sa"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "_sb"), "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.round(
                F.size(F.array_intersect("_sa", "_sb")).cast("double")
                / F.size(F.array_union("_sa", "_sb")),
                6,
            ).alias("jaccard"),
        )
    )
    return exact.withColumn(
        "abs_err", F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6)
    )


def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (graph.bfs_distances): minimum hop count from
    the first 5 part keys over the co-order graph, 2 hops. Per hop one
    edge join + one min-agg; integer min needs no tie-break, so the
    oracle replays the bounded expansion exactly. Completes the graph
    family (components, communities, ranks, triangles, now paths)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    edges = graph.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    sources = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 5)
        .select(F.col("p_partkey").alias("node"))
    )
    return graph.bfs_distances(
        edges, sources, max_hops=2, src="a", dst="b"
    )


def q_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal cluster labeling: embeddings assign to their
    nearest of 8 centroid vectors (the kmeans/semdedup assignment
    shape), the matching documents' tokens aggregate per cell, and
    each cluster is labeled with its top-3 terms by cluster-level
    TF-IDF (idf over cells, so corpus-wide boilerplate terms wash
    out). The compose-everything query: similarity assignment +
    id-join across modalities + search-style scoring, all
    engine-exact (round-6 scores, (score, term) tie-breaks)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    wa = Window.partitionBy("vec_id").orderBy(F.desc("_sim"), F.asc("cell"))
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn(
            "_sim", similarity.cosine_sim(F.col("embedding"), F.col("centroid"))
        )
        .withColumn("_rk", F.row_number().over(wa))
        .filter(F.col("_rk") == 1)
        .select(F.col("vec_id").alias("doc_id"), "cell")
    )
    toks = (
        _t(spark, sf_dir, "documents")
        .join(assigned, on="doc_id")
        .select("cell", F.explode(text.tokens(F.col("text"))).alias("term"))
    )
    tf = toks.groupBy("cell", "term").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("term").agg(F.count("*").alias("_dfc"))
    scored = tf.join(dfc, "term").withColumn(
        "score",
        F.round(F.col("tf") * F.log(F.lit(8.0) / F.col("_dfc")), 6),
    )
    wr = Window.partitionBy("cell").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select("cell", "term", "tf", "score", "rank")
    )


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability with add-0.5 smoothing
    (text.bigram_logprob): the order-aware fluency score one level up
    from unigram_logprob. Vocabulary-keyed LM build, (w1, w2) join,
    round-9 decimal accumulation — fully engine-exact."""
    return text.bigram_logprob(_t(spark, sf_dir, "documents"), k=0.5)


def q_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production containment pipeline: banded MinHash candidates
    (portable hash family, 3-gram shingles) verified with the
    ASYMMETRIC containment measure in both directions
    (dedup.containment_on_candidates) — the scale path of
    ngram_containment's bounded all-pairs baseline, on the same
    planted-excerpt corpus. The oracle replays signatures, banding,
    the bucket join, and both verify directions bit-for-bit."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    quotes = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(text.tokens(F.col("text")), 1, 30)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(quotes)
    cands = dedup.minhash_lsh_candidates(
        corpus, num_hashes=32, bands=8, shingle_k=3, portable=True
    )
    return dedup.containment_on_candidates(corpus, cands, n=3, threshold=0.5)


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible proof of the co-bucketed no-shuffle join (SURVEY
    §4, the bucketBy replacement for Eclipse's DHT co-placement of
    intermediates): orders and customer land via ``put_bucketed`` on
    the customer key, the merge join's executed plan is inspected for
    Exchange nodes, and the count is emitted AS A COLUMN the oracle
    asserts equals zero — so the scale property, not just the join's
    answer, is hash-checked every round. The aggregate's own exchange
    is above the join and excluded by inspecting the pre-agg plan.
    Scratch warehouse tables are dropped and the dir removed after
    materialization."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    work = tempfile.mkdtemp(prefix="eclipse_bjoin_")
    try:
        cat = Catalog(spark, work)
        orders = _t(spark, sf_dir, "orders").withColumnRenamed(
            "o_custkey", "custkey"
        )
        customer = _t(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "custkey"
        )
        cat.put_bucketed("eclipse_bj_orders", orders, ["custkey"], buckets=8)
        cat.put_bucketed("eclipse_bj_customer", customer, ["custkey"], buckets=8)
        j = (
            cat.get_table("eclipse_bj_orders")
            .hint("merge")
            .join(cat.get_table("eclipse_bj_customer"), on="custkey")
        )
        n_exchanges = (
            j._jdf.queryExecution().executedPlan().toString().count("Exchange")
        )
        out = (
            j.groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                _dsum("o_totalprice", "sum_price"),
            )
            .withColumn(
                "join_exchanges", F.lit(int(n_exchanges)).cast("int")
            )
        )
        rows, schema = out.collect(), out.schema
    finally:
        spark.sql("DROP TABLE IF EXISTS eclipse_bj_orders")
        spark.sql("DROP TABLE IF EXISTS eclipse_bj_customer")
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_events_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful EWMA via applyInPandasWithState: per-user
    state holds the last-8 (ts, id, value) history; each trigger
    merges new rows, re-sorts (cross-batch arrival order is not
    time order), trims, and emits the smoothed value of the LATEST
    event plus the monotone events-seen counter used to pick each
    user's final emission. The arithmetic mirrors timeseries.ewma
    exactly (round-10 terms summed in decimal, float division of the
    decimal totals), so the stream's final state equals the batch
    operator at the last event — the batch/stream parity contract,
    now for arbitrary stateful arithmetic, with a full SQL oracle."""
    import pandas as pd
    from decimal import Decimal

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    stream = stream_windows.stream_from_parquet(
        spark, os.path.join(sf_dir, "events.*"), raw_schema
    )

    def ewma_state(key, pdf_iter, state: GroupState):
        if state.exists:
            ts_l, eid_l, val_l, n_seen = (
                list(state.get[0]),
                list(state.get[1]),
                list(state.get[2]),
                int(state.get[3]),
            )
        else:
            ts_l, eid_l, val_l, n_seen = [], [], [], 0
        for pdf in pdf_iter:
            n_seen += len(pdf)
            # raw ts may arrive as TIMESTAMP or as nanos-long
            # (driver-round layouts differ); both sort identically
            s = pdf["ts"]
            ts_ints = (
                s.astype("int64") if s.dtype.kind == "M" else pd.to_numeric(s)
            )
            ts_l.extend(int(t) for t in ts_ints)
            eid_l.extend(int(i) for i in pdf["event_id"])
            val_l.extend(float(v) for v in pdf["value"])
        order = sorted(range(len(eid_l)), key=lambda j: (ts_l[j], eid_l[j]))[-8:]
        ts_l = [ts_l[j] for j in order]
        eid_l = [eid_l[j] for j in order]
        val_l = [val_l[j] for j in order]
        state.update((ts_l, eid_l, val_l, n_seen))
        num, den = Decimal(0), Decimal(0)
        for i, x in enumerate(reversed(val_l)):
            wi = 0.5 * 0.5**i
            num += Decimal(str(round(x * wi, 10)))
            den += Decimal(str(wi))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_seen],
                "ewma": [float(num) / float(den)],
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        ewma_state,
        outputStructType="user_id long, n_events long, ewma double",
        stateStructType=(
            "ts array<long>, eid array<long>, val array<double>, n long"
        ),
        outputMode="Update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    stream_windows.run_stream_to_memory(out, "ev_stream_ewma", "update")
    # n_events is strictly monotone per user across emissions, so the
    # final state is the max_by(n_events) row regardless of batching
    return (
        spark.table("ev_stream_ewma")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(ewma, n_events)").alias("ewma"),
        )
    )


def _ewma_oracle_sql(
    alpha: float = 0.5, window: int = 8, last_only: bool = False
) -> str:
    """DuckDB mirror of q_ewma: explicit lag columns, the same
    round-(window+2) decimal term sums (the width where every weighted
    term is exactly representable, so no half-way rounding case
    exists), present-lag weight renormalization. ``last_only`` keeps
    each user's latest event only, plus the per-user event count —
    the streaming final-state shape (q_events_stream_ewma)."""
    digits = window + 2
    dec = f"DECIMAL({digits + 10},{digits})"
    lags = ", ".join(
        f"lag(value, {i}) OVER w AS x{i}" for i in range(1, window)
    )
    num_terms, den_terms = [], []
    for i in range(window):
        wi = repr(alpha * (1 - alpha) ** i)
        x = "value" if i == 0 else f"x{i}"
        num_terms.append(
            f"COALESCE(CAST(round({x} * {wi}, {digits}) AS {dec}), 0)"
        )
        den_terms.append(
            f"(CASE WHEN {x} IS NOT NULL THEN CAST({wi} AS {dec}) "
            f"ELSE CAST(0 AS {dec}) END)"
        )
    base = f"""
        WITH l AS (SELECT event_id, user_id, ts, value, {lags}
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        e2 AS (SELECT event_id, user_id, ts,
                      CAST({' + '.join(num_terms)} AS DOUBLE)
                        / CAST({' + '.join(den_terms)} AS DOUBLE) AS ewma
               FROM l)
    """
    if not last_only:
        return base + " SELECT event_id, user_id, ewma FROM e2"
    return base + """
        SELECT user_id, n_events, ewma FROM (
          SELECT user_id, ewma,
                 count(*) OVER (PARTITION BY user_id) AS n_events,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM e2) WHERE rn = 1
    """


def _rp_oracle_sql(out_dim: int = 16, seed: int = 11, dim: int = 64) -> str:
    """DuckDB mirror of q_random_projection with the xxhash64-derived
    weights inlined as literals (same trick as _sql_sign_bucket)."""
    structs = []
    for j in range(out_dim):
        w = "[" + ", ".join(
            repr(_plane_weight(j, d, seed)) for d in range(dim)
        ) + "]"
        expr = (
            f"CAST(list_sum(list_transform(range(1, {dim + 1}), "
            f"d -> CAST(round(ve[d] * ({w})[d], 9) AS DECIMAL(18,9)))) AS DOUBLE)"
        )
        structs.append(f"{{'proj_pos': {j}, 'value': {expr}}}")
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                   FROM embeddings)
        SELECT vec_id, CAST(s.proj_pos AS INT) AS proj_pos, s.value AS value
        FROM (SELECT vec_id, unnest([{", ".join(structs)}]) AS s FROM e)
    """


def q_data_profile_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source segmented profile of ``documents``
    (profile.profile_by): the grouped quality report a mixed-corpus
    ingest needs — a 90%-complete column can hide one source that is
    0% complete. One grouped aggregate pass, one (source, column)
    row out."""
    from eclipse_spark.operators import profile as prof

    return prof.profile_by(
        _t(spark, sf_dir, "documents"), "source", ["doc_id", "lang", "n_chars"]
    )


def _profile_by_oracle_sql() -> str:
    """DuckDB mirror of q_data_profile_by: grouped aggregate CTE,
    per-column UNION into long format."""
    numeric = {"doc_id", "n_chars"}
    cols = ["doc_id", "lang", "n_chars"]
    aggs = ["source", "count(*) AS n_rows"]
    sels = []
    for i, c in enumerate(cols):
        aggs.append(f"count({c}) AS nn{i}")
        aggs.append(f"count(DISTINCT {c}) AS nd{i}")
        if c in numeric:
            aggs.append(f"CAST(min({c}) AS DOUBLE) AS mn{i}")
            aggs.append(f"CAST(max({c}) AS DOUBLE) AS mx{i}")
            mn, mx = f"mn{i}", f"mx{i}"
            smin = smax = "CAST(NULL AS VARCHAR)"
        else:
            aggs.append(f"CAST(min({c}) AS VARCHAR) AS smn{i}")
            aggs.append(f"CAST(max({c}) AS VARCHAR) AS smx{i}")
            mn = mx = "CAST(NULL AS DOUBLE)"
            smin, smax = f"smn{i}", f"smx{i}"
        sels.append(
            f"SELECT source, '{c}' AS col_name, n_rows, n_rows - nn{i} AS n_nulls, "
            f"CAST(nn{i} AS DOUBLE) / n_rows AS completeness, "
            f"nd{i} AS n_distinct, {mn} AS min_num, {mx} AS max_num, "
            f"{smin} AS min_str, {smax} AS max_str FROM a"
        )
    return (
        "WITH a AS (SELECT " + ", ".join(aggs) + " FROM documents GROUP BY source) "
        + " UNION ALL ".join(sels)
    )


_ANN_PQ_SQL = f"""
            WITH {_PQ_EX_SQL},
            q AS (SELECT * FROM ex WHERE vec_id < 5),
            dtab AS (SELECT q.vec_id AS query_id, q.subspace, cb.code,
                            sum(CAST(round((q.x - cb.c_val) * (q.x - cb.c_val), 9)
                                     AS DECIMAL(18,9))) AS pd
                     FROM q JOIN cb
                       ON q.subspace = cb.subspace AND q.pos = cb.pos
                     GROUP BY 1, 2, 3),
            adc AS (SELECT dtab.query_id, enc.vec_id AS match_id,
                           CAST(sum(pd) AS DOUBLE) AS adc_dist
                    FROM enc JOIN dtab
                      ON enc.subspace = dtab.subspace AND enc.code = dtab.code
                    WHERE dtab.query_id <> enc.vec_id
                    GROUP BY 1, 2)
            SELECT query_id, match_id, adc_dist, rank FROM
              (SELECT *, row_number() OVER (PARTITION BY query_id
                                            ORDER BY adc_dist, match_id) AS rank
               FROM adc) WHERE rank <= 10
"""


def _profile_oracle_sql() -> str:
    """Generate the DuckDB mirror of q_data_profile: one aggregate CTE
    with the same statistics, unioned into long format per column."""
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    aggs = ["count(*) AS n_rows"]
    sels = []
    for i, c in enumerate(_PROFILE_COLS):
        aggs.append(f"count({c}) AS nn{i}")
        aggs.append(f"count(DISTINCT {c}) AS nd{i}")
        if c in numeric:
            aggs.append(f"CAST(min({c}) AS DOUBLE) AS mn{i}")
            aggs.append(f"CAST(max({c}) AS DOUBLE) AS mx{i}")
            mn, mx = f"mn{i}", f"mx{i}"
            smin = smax = "CAST(NULL AS VARCHAR)"
        else:
            aggs.append(f"CAST(min({c}) AS VARCHAR) AS smn{i}")
            aggs.append(f"CAST(max({c}) AS VARCHAR) AS smx{i}")
            mn = mx = "CAST(NULL AS DOUBLE)"
            smin, smax = f"smn{i}", f"smx{i}"
        sels.append(
            f"SELECT '{c}' AS col_name, n_rows, n_rows - nn{i} AS n_nulls, "
            f"CAST(nn{i} AS DOUBLE) / n_rows AS completeness, "
            f"nd{i} AS n_distinct, {mn} AS min_num, {mx} AS max_num, "
            f"{smin} AS min_str, {smax} AS max_str FROM a"
        )
    return (
        "WITH a AS (SELECT " + ", ".join(aggs) + " FROM orders) "
        + " UNION ALL ".join(sels)
    )


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy self-join (operators/linkage.py): distinct
    part names within Levenshtein distance 2, candidates from the
    exact-recall k-deletion neighborhood (FastSS) and an integer
    levenshtein verify both engines share bit-for-bit. The blocking
    explode is the scale story: |name|^2/2 variant rows per record vs
    a corpus^2 scan — same guarantee, linear shuffle."""
    from eclipse_spark.operators.linkage import fuzzy_self_join

    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("pid"))
    return fuzzy_self_join(names, "p_name", "pid", k=2).select(
        "id_a", "id_b", "key_a", "key_b", F.col("distance").cast("long").alias("distance")
    )


def q_apss_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs set-cosine similarity join at t=0.9
    (similarity.allpairs_cosine): df-ordered prefix filtering with the
    Bayardo recall proof, integer 100*c^2 >= 81*n*m threshold (no
    float boundary), exact array_intersect verify. Restricted to
    doc_id % 5 = 0 — this corpus is pathologically homogeneous (every
    doc shares a token with ~every other), so the unrestricted output
    is ~25k pairs of near-identical docs; the 1-in-5 slice keeps the
    checked result ~1k rows while exercising the identical plan."""
    from eclipse_spark.operators.similarity import allpairs_cosine

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')").alias(
                "toks"
            ),
        )
    )
    return allpairs_cosine(docs, "doc_id", "toks", threshold_sq_pct=81)


def q_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands engagement streaks per user
    (timeseries.activity_islands): distinct active days collapse into
    maximal consecutive-day runs via the day-minus-row_number anchor —
    two window passes on one (user) shuffle, no self-join."""
    from eclipse_spark.operators import timeseries

    ev = _events(spark, sf_dir)
    return timeseries.activity_islands(ev, "user_id", "ts").select(
        F.col("key").alias("user_id"),
        "n_islands",
        "longest_streak",
        "active_days",
        F.date_format("first_day", "yyyy-MM-dd").alias("first_day"),
        F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
    )


def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation onto the full hourly grid
    (timeseries.interpolate_linear) for the sparse hourly 'error'
    value series: sequence()-exploded grid, two IGNORE-NULLS window
    passes for the bracketing observations, IEEE-ordered interpolation
    arithmetic with one round-9 — engine-exact against the DuckDB
    mirror including the filled flag."""
    from eclipse_spark.operators import timeseries

    ev = _events(spark, sf_dir)
    hourly = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(_dsum("value", "v"))
    )
    return timeseries.interpolate_linear(hourly, "h", "v", step_seconds=3600).select(
        F.col("h").alias("hour"), F.col("v").alias("value"), "filled"
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution
    (timeseries.last_touch_attribution): each purchase credits the
    user's most recent click/view/signup within 7 days, else
    '(direct)' — a point-in-time as-of join expressed as ONE
    ignore-nulls window over the interleaved event stream (single
    user-keyed shuffle), then a channel-level decimal revenue sum."""
    from eclipse_spark.operators import timeseries

    ev = _events(spark, sf_dir)
    return timeseries.last_touch_attribution(
        ev,
        conversion="purchase",
        touch_types=("click", "view", "signup"),
        lookback_hours=168,
    )


def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining (operators/basket.py): part pairs
    co-purchased in >= 3 orders, with supports and lift. The Apriori
    prune (items must individually reach support before the pair join)
    plus a per-basket size cap is what keeps the per-basket pair
    explode from going quadratic at 100 TB; lift stays integer until
    one double division (engine-exact under round-9)."""
    from eclipse_spark.operators.basket import frequent_pairs

    li = _t(spark, sf_dir, "lineitem")
    return frequent_pairs(li, "l_orderkey", "l_partkey", min_support=3)


def q_er_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution (linkage.resolve_entities): fuzzy
    part-name candidates at Levenshtein<=2 (exact-recall deletion
    blocking) -> connected-components transitive closure -> smallest-id
    canonical per entity. The DuckDB oracle replays the closure with a
    recursive CTE, so the clustering itself — not just the pairs — is
    value-checked (typo chains a~b~c must land in ONE entity even
    where a~c fails pairwise)."""
    from eclipse_spark.operators.linkage import resolve_entities

    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("pid"))
    return resolve_entities(names, "p_name", "pid", k=2)


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen (profile.chi_square) between
    event type and a derived user segment: observed counts vs
    marginal-product expectations, absent cells folded in analytically
    (no dense grid), per-cell terms round-9 decimal-accumulated —
    engine-exact to the last digit."""
    from eclipse_spark.operators.profile import chi_square

    ev = _events(spark, sf_dir)
    seg = ev.select(
        "event_type", (F.col("user_id") % 5).cast("long").alias("segment")
    )
    return chi_square(seg, "event_type", "segment")


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust clipping audit (timeseries.winsorize): per event type,
    the exact interpolated [p05, p95] band and how many values fall
    outside each side. Bounds come from the same exact percentile both
    engines share (Spark percentile == DuckDB quantile_cont); outputs
    are bounds + integer counts, so no summed float ever crosses the
    oracle."""
    from eclipse_spark.operators import timeseries

    ev = _events(spark, sf_dir)
    w = timeseries.winsorize(ev, "value", partition_by=["event_type"])
    return w.groupBy("event_type").agg(
        F.min("lo_bound").alias("lo_bound"),
        F.min("hi_bound").alias("hi_bound"),
        F.sum(F.when(F.col("value") < F.col("lo_bound"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_lo"),
        F.sum(F.when(F.col("value") > F.col("hi_bound"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_hi"),
        F.count("*").cast("long").alias("n_rows"),
    )


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic (profile.ks_statistic) between
    click and purchase value distributions — drift detection with the
    ECDF gap kept in cross-multiplied INTEGERS (|cx*m - cy*n|), so the
    supremum is engine-exact; only the display division touches
    float."""
    from eclipse_spark.operators.profile import ks_statistic

    ev = _events(spark, sf_dir)
    return ks_statistic(ev, "value", "event_type", "click", "purchase")


def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC (profile.auc_roc) of the first embedding
    dimension as a scorer for the parity of the class label, sliced
    into 3 segments (label % 3): the Mann-Whitney rank formulation
    with the tie term kept integral (auc_num2 = exact 2*numerator),
    so the AUC is one IEEE division of exactly-agreed integers. The
    distinct-score pre-aggregate keeps the ordered pass off the raw
    rows — the 100 TB shape — and the oracle replays the identical
    integer chain in SQL."""
    from eclipse_spark.operators.profile import auc_roc

    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("label") % 3).alias("segment"),
        F.col("embedding")[0].cast("double").alias("score"),
        (F.col("label") % 2).alias("is_pos"),
    )
    return auc_roc(scored, "score", "is_pos", group_col="segment")


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quasi-identifier k-anonymity / l-diversity audit
    (privacy.k_anonymity_audit) over customers: QI = (nation,
    mktsegment), sensitive = acctbal, k=10, l=5 — the
    re-identification gate a dataset release runs before export. ONE
    map-side-combinable aggregate (count + exact distinct) on the QI
    key; verdict flags are integers so the audit hashes identically
    in any engine."""
    from eclipse_spark.operators.privacy import k_anonymity_audit

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], "c_acctbal", k=10, l=5
    )


def q_reid_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row release-gate summary (privacy.reidentification_summary)
    over the same audit: rows in sub-k groups (linkable), rows in
    non-l-diverse groups, unique rows (certain linkage), totals — the
    drill-up of q_k_anonymity, oracle re-derived from the same
    grouped CTE."""
    from eclipse_spark.operators.privacy import reidentification_summary

    cust = _t(spark, sf_dir, "customer")
    return reidentification_summary(
        cust, ["c_nationkey", "c_mktsegment"], "c_acctbal", k=10, l=5
    )


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-balanced export sharding (relational.serpentine_shards):
    documents dealt into 8 shards serpentine by descending n_chars
    (rank from the distributed dense_index two-pass — range partition
    + broadcast offsets, no single-partition sort), summarized per
    shard. The balance property is visible in the output (shard char
    totals within ~one max-doc of each other) and the oracle replays
    rank -> serpentine -> rollup with a plain window, so one wrong
    rank or a flipped return pass hash-mismatches."""
    from eclipse_spark.operators.relational import serpentine_shards

    docs = _t(spark, sf_dir, "documents")
    sharded = serpentine_shards(docs, "n_chars", 8, ["doc_id"])
    return sharded.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (graph.k_core, k=10) of the part co-order
    graph on every-8th orders — iterative peeling to the exact
    fixpoint (9 rounds at sf0.01: 2000 nodes -> 1144-node core), each
    round one degree aggregate + two semi-joins, live edges
    localCheckpointed, O(1) convergence collect, loud raise past the
    round budget. The oracle unrolls 12 peel rounds as chained CTEs
    (monotone: converged rounds are no-ops), so a premature stop, an
    off-by-one degree, or a missed cascade all hash-mismatch."""
    li = _t(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li.filter(F.col("l_orderkey") % 8 == 0), "l_orderkey", "l_partkey"
    )
    return graph.k_core(edges, k=10)


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (graph.k_truss, k=4) of the part co-order
    graph on every-8th orders — EDGE peeling to the exact fixpoint:
    every surviving edge sits in >= 2 triangles inside the truss.
    Per round the support count comes from triangle_count's
    degree-oriented adjacency intersection (no wedge-set blowup), the
    live edges localCheckpoint, convergence is an O(1) count, and the
    round budget RAISES on exhaustion. The oracle unrolls the peel as
    chained MATERIALIZED CTEs (converged rounds are no-ops) and
    returns (a, b, support) of the fixpoint, so a premature stop, a
    miscounted support, or a missed cascade all hash-mismatch."""
    li = _t(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li.filter(F.col("l_orderkey") % 8 == 0), "l_orderkey", "l_partkey"
    )
    return graph.k_truss(edges, k=4)


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled k-truss peel as chained MATERIALIZED CTEs (the kcore
    oracle pattern: plain CTEs would inline the 3-references-per-round
    chain exponentially). Round i: enumerate triangles x<y<z over the
    live canonical edge set r{i} (one join through the shared middle
    endpoint + one closure probe), count per-edge support, keep edges
    with support >= k-2. ``rounds`` must exceed the peel depth; extra
    rounds are no-ops, and the final SELECT reads the support computed
    over the FIXPOINT edge set. The query raises if round ``rounds``
    still removed edges (:func:`_sql_fixpoint_guard`)."""
    parts = [
        """WITH e AS MATERIALIZED (
              SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              WHERE a.l_orderkey % 8 = 0),
            r0 AS MATERIALIZED (SELECT a, b FROM e)"""
    ]
    for i in range(rounds):
        parts.append(
            f"""t{i} AS MATERIALIZED (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM r{i} e1 JOIN r{i} e2 ON e2.a = e1.b
              JOIN r{i} e3 ON e3.a = e1.a AND e3.b = e2.b),
            s{i} AS MATERIALIZED (
              SELECT a, b, count(*) AS sup FROM (
                SELECT x AS a, y AS b FROM t{i}
                UNION ALL SELECT x AS a, z AS b FROM t{i}
                UNION ALL SELECT y AS a, z AS b FROM t{i})
              GROUP BY a, b),
            r{i + 1} AS MATERIALIZED (
              SELECT a, b FROM s{i} WHERE sup >= {k - 2})"""
        )
    parts.append(
        f"""fixpoint AS MATERIALIZED ({
            _sql_fixpoint_guard(f"r{rounds}", f"r{rounds - 1}", "ktruss oracle")
        })"""
    )
    parts.append(
        f"""SELECT s.a, s.b, CAST(s.sup AS BIGINT) AS support
            FROM s{rounds - 1} s
            JOIN r{rounds} r ON s.a = r.a AND s.b = r.b
            CROSS JOIN fixpoint WHERE fixpoint.ok"""
    )
    return ",\n".join(parts[:-1]) + "\n" + parts[-1]


def _sql_fixpoint_guard(last: str, prev: str, what: str) -> str:
    """Shared SQL: the body of a one-row MATERIALIZED CTE that raises
    unless an unrolled peel's last round ``last`` kept every row of the
    round before it, ``prev`` (a peel only removes rows, so equal
    counts mean an unchanged set). Cross-joined into the final SELECT,
    it turns a too-shallow unroll into an error instead of a silent
    mismatch; being materialized, it is checked even when the result
    is empty."""
    return (
        f"SELECT CASE WHEN (SELECT count(*) FROM {last}) = "
        f"(SELECT count(*) FROM {prev}) THEN true ELSE "
        f"error('{what}: the last unrolled round still removed rows; "
        "unroll deeper') END AS ok"
    )


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-level) benchmark decontamination — the
    companion to the n-gram tier (q_decontaminate): corpus vectors
    whose cosine against ANY benchmark vector clears 0.98 are flagged
    with their hit count, best-matching benchmark id, and max
    similarity. Vectors vec_id < 8 play the eval set; the corpus gets
    PLANTED contamination (exact copies at id+100000 -> cos 1.0, far
    from the threshold boundary). Scale shape: the eval suite is tiny
    by nature, so it BROADCASTS and the corpus streams once through a
    codegen cosine filter — no shuffle of the corpus at all until the
    per-survivor aggregate; at 100 TB this is one scan + a
    flagged-rows-sized groupBy. Cosine is the same IEEE-sequential
    double arithmetic the oracle replays (list_transform order), so
    the 0.98 comparison is engine-exact on identical bits."""
    from eclipse_spark.operators.similarity import cosine_sim

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bench = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("bench_id"), F.col("v").alias("bv")
    )
    planted = bench.select(
        (F.col("bench_id") + 100000).alias("vec_id"), F.col("bv").alias("v")
    )
    corpus = emb.filter(F.col("vec_id") >= 8).unionByName(planted)
    hits = (
        corpus.crossJoin(F.broadcast(bench))
        .withColumn("_cos", cosine_sim(F.col("v"), F.col("bv")))
        .filter(F.col("_cos") >= 0.98)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cos"), F.asc("bench_id"))
    return (
        hits.withColumn("_rk", F.row_number().over(w))
        .groupBy("vec_id")
        .agg(
            F.count("*").cast("long").alias("n_bench_hits"),
            F.max(F.when(F.col("_rk") == 1, F.col("bench_id")))
            .cast("long")
            .alias("best_bench"),
            F.round(F.max("_cos"), 6).alias("max_sim"),
        )
    )


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-set overlap matrix between event types via the KMV
    bottom-k sketch (sketch.kmv_sketch + kmv_self_pairs) — "how many
    users do these two sources share" answered from k=512-long
    sketches, never by re-joining the sources (the pair join moves
    sketches, not user sets; the build pass keeps k smallest hashes
    per group per partition in bounded Arrow state, MG-style). Driver
    row per type pair: EXACT user counts and exact Jaccard (both
    SQL-recomputable anchors) plus a 10%-bound flag on the sketch
    estimate (rsd ~ sqrt(J(1-J)/512) ≈ 2.2% at J=0.5, so 10% > 4 sd;
    seed-fixed xxhash64 makes the estimate deterministic). When a
    group is smaller than k the sketch IS its distinct hash set and
    the estimate collapses to exact — graceful small-group behavior
    under the same code path."""
    from eclipse_spark.operators.sketch import kmv_self_pairs, kmv_sketch

    ev = _events(spark, sf_dir)
    sk = kmv_sketch(ev, ["event_type"], "user_id", k=512)
    est = kmv_self_pairs(sk, "event_type", k=512).select(
        F.col("group_a").alias("type_a"),
        F.col("group_b").alias("type_b"),
        "j_est",
    )
    users = ev.select("event_type", "user_id").distinct()
    ex = (
        users.selectExpr("event_type AS type_a", "user_id")
        .join(users.selectExpr("event_type AS type_b", "user_id"), "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sizes = users.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    return (
        ex.join(sizes.selectExpr("event_type AS type_a", "n AS n_a"), "type_a")
        .join(sizes.selectExpr("event_type AS type_b", "n AS n_b"), "type_b")
        .join(est, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                9,
            ).alias("j_exact"),
            (
                F.abs(
                    F.col("j_est")
                    - F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                        "double"
                    )
                )
                <= 0.1
            )
            .cast("int")
            .alias("within_10pct"),
        )
    )


def q_apss_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact Jaccard join at t=0.8
    (similarity.allpairs_jaccard, PPJoin-family prefix filtering) —
    the exact tier behind the MinHash estimate, same df-ordered prefix
    machinery as apss_cosine but the LINEAR bound (prefix length
    n - ceil(t*n) + 1; qualify 100*c >= 80*(n+m-c), all integer).
    Same 1-in-5 doc slice as the cosine tier; hypothesis-tested equal
    to brute force on arbitrary token sets."""
    from eclipse_spark.operators.similarity import allpairs_jaccard

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.expr(
                "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
            ).alias("toks"),
        )
    )
    return allpairs_jaccard(docs, "doc_id", "toks", 80)


def q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-core decomposition (graph.coreness): the exact core
    number of every node in the part co-order graph on every-8th
    orders, by the distributed Montresor h-index fixpoint — estimates
    start at degree and each round takes the h-index of neighbor
    estimates (row_number window + max(least(est, rn)), never a
    per-node array), localCheckpointed, O(1) convergence checksum,
    loud raise on budget exhaustion (this graph converges in 16
    rounds; budget 40). The oracle unrolls 20 synchronous h-index
    rounds as chained MATERIALIZED CTEs (extra rounds past the
    fixpoint are no-ops) — a premature stop, a mis-ranked window, or
    any deviation from the exact fixpoint hash-mismatches."""
    li = _t(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li.filter(F.col("l_orderkey") % 8 == 0), "l_orderkey", "l_partkey"
    )
    return graph.coreness(edges, max_rounds=40)


def _coreness_oracle(rounds: int) -> str:
    """Unrolled Montresor h-index iteration (see q_coreness): round i
    pushes estimates onto the symmetric edge list and takes, per node,
    max(least(est, rank)) over neighbors ranked by estimate descending
    — the h-index. MATERIALIZED keeps the 1-reference-per-round chain
    from inlining; ``rounds`` must be >= the convergence round (16 at
    sf0.01), extras are no-ops."""
    parts = [
        """WITH e AS MATERIALIZED (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey <> b.l_partkey
              WHERE a.l_orderkey % 8 = 0),
            deg AS MATERIALIZED (
              SELECT u, CAST(count(*) AS BIGINT) AS degree
              FROM e GROUP BY u),
            r0 AS MATERIALIZED (SELECT u, degree AS est FROM deg)"""
    ]
    for i in range(rounds):
        parts.append(
            f"""r{i + 1} AS MATERIALIZED (
              SELECT v AS u, CAST(max(least(est, rn)) AS BIGINT) AS est
              FROM (
                SELECT e.v, r{i}.est,
                       row_number() OVER (
                         PARTITION BY e.v ORDER BY r{i}.est DESC) AS rn
                FROM e JOIN r{i} ON r{i}.u = e.u)
              GROUP BY v)"""
        )
    parts.append(
        f"""SELECT d.u AS node, d.degree, r.est AS core
            FROM deg d JOIN r{rounds} r ON r.u = d.u"""
    )
    return ",\n".join(parts[:-1]) + "\n" + parts[-1]


def q_storage_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (Catalog.compact — Delta OPTIMIZE's role):
    events land deliberately fragmented as 48 round-robin part files,
    compact rewrites them into ceil(bytes/64MB) = 1 size-targeted file
    through the same staged tmp + park-aside + rename path as a
    versioned put (crash leaves old layout or new, never half). The
    returned per-type rollup reads the COMPACTED copy, so any row
    loss/duplication in the rewrite breaks the relational oracle;
    files_before/files_after/version are exact literals (48 round-robin
    partitions of 10k rows are all non-empty; put then compact = 2
    version bumps), so a compaction that didn't actually change the
    layout — or forgot to bump — also hash-mismatches."""
    import tempfile

    from eclipse_spark.storage import Catalog

    cat = Catalog(
        spark, tempfile.mkdtemp(prefix="eclipse_cmp_"), retain_versions=1
    )
    ev = _events(spark, sf_dir)
    cat.put("ev", ev.repartition(48))
    fb, fa = cat.compact("ev", target_file_mb=64)
    t = cat.get("ev")
    return (
        t.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            _dsum("value", "total_value", 6),
        )
        .withColumn("files_before", F.lit(fb).cast("long"))
        .withColumn("files_after", F.lit(fa).cast("long"))
        .withColumn("version", F.lit(cat.info("ev").version).cast("long"))
    )


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join (bloom.bloom_semi_join): lineitem rows
    whose partkey belongs to the selective small-size part set, pruned
    INSIDE the scan stage by a broadcast 10-bit/key 6-hash bitmap
    built from xxhash64 + bit_or words (operators/bloom.py) before the
    exact semi-join drops the ~0.8% false positives. The result is
    row-identical to a plain semi-join at ANY false-positive rate —
    which is exactly what the SQL oracle checks — so the filter only
    ever changes shuffle volume, never output. Rolled up per
    returnflag/linestatus to keep the driver row small while every
    survivor row still feeds the aggregate."""
    from eclipse_spark.operators.bloom import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    small = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 4).select(
        "p_partkey"
    )
    rows = bloom_semi_join(li, small, "l_partkey", "p_partkey")
    return rows.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("long").alias("n_rows"),
        _dsum("l_quantity", "sum_qty"),
        _dsum("l_extendedprice", "sum_price"),
    )


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup (sketch.hll_rollup): per-day
    Datasketches HLL sketches of user_id, union-merged per event_type
    — the summary-table pattern that makes COUNT(DISTINCT)
    re-aggregable at 100 TB (the shuffle carries one ~4KB sketch per
    day cell, never user rows; late shards are one more union input).
    Driver row per type: exact distinct users + exact shard count
    (both SQL-recomputable), a 5%-bound flag on the merged estimate
    (lgk=12 -> rsd 1.6%, so 5% ≈ 3 sd; sketches are seed-fixed and
    deterministic), and a merge-consistency flag asserting
    union(day sketches) estimates within 2% of one direct whole-type
    sketch — the re-aggregability property the pattern rests on
    (equality holds in sparse mode but not past the dense HLL
    transition, where the HLL_8 union accumulator and a direct HLL_4
    sketch legitimately disagree inside the rsd)."""
    from eclipse_spark.operators.sketch import hll_rollup

    _utc(spark)
    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    rolled = hll_rollup(ev, ["event_type"], ["day"], "user_id")
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12)))
        .cast("long")
        .alias("_direct"),
        F.countDistinct("user_id").cast("long").alias("nd_users"),
    )
    return rolled.join(direct, "event_type").select(
        "event_type",
        "n_shards",
        "nd_users",
        (
            F.abs(F.col("distinct_est") - F.col("nd_users"))
            <= 0.05 * F.col("nd_users")
        )
        .cast("int")
        .alias("within_5pct"),
        (
            F.abs(F.col("distinct_est") - F.col("_direct"))
            <= 0.02 * F.col("_direct")
        )
        .cast("int")
        .alias("merge_consistent"),
    )


def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 24h rolling distinct users per hour
    (timeseries.rolling_distinct): per-hour distinct-key arrays on a
    DENSE hour grid (a ROWS frame over observed hours would silently
    widen across empty hours), one ordered window whose frame
    flattens + re-distincts 24 arrays in codegen. The exact tier of
    the metric HLL usually approximates."""
    from eclipse_spark.operators import timeseries

    ev = _events(spark, sf_dir)
    return timeseries.rolling_distinct(ev, "ts", "user_id", window=24, step="hour")


def q_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (operators/ivm.py):
    an aggregate view built over snapshot v1 of orders is refreshed to
    v2 purely from the CHANGE FEED (storage.table_diff: deletes,
    inserts, and price updates between the versions) — O(|changes|)
    keyed merge, the base never rescanned — and the oracle checks the
    refreshed view equals a from-scratch aggregate of v2, decimal
    bit-exact. That equality is the property that makes incremental
    refresh trustworthy on a 100 TB base."""
    from eclipse_spark.operators.ivm import aggregate_view, incremental_refresh
    from eclipse_spark.storage import table_diff

    orders = _t(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 10 != 0)
    v2 = orders.filter(F.col("o_custkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + F.lit(10.0)
        ).otherwise(F.col("o_totalprice")),
    )
    bucket = (F.col("o_custkey") % 100).cast("long").alias("cust_bucket")
    mv_v1 = aggregate_view(
        v1.select(bucket, "o_totalprice"),
        keys=["cust_bucket"],
        sum_cols={"o_totalprice": "revenue"},
    )
    changes = table_diff(v1, v2, on=["o_orderkey"]).select(
        "change_type", bucket, "o_totalprice"
    )
    refreshed = incremental_refresh(
        mv_v1, changes, keys=["cust_bucket"], sum_cols={"o_totalprice": "revenue"}
    )
    return refreshed.select(
        "cust_bucket", "n_rows", F.col("revenue").cast("double").alias("revenue")
    )


def q_mv_refresh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-view incremental maintenance (ivm.incremental_refresh_join)
    — the signed delta rule Δ(A⋈B) = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB over a
    fact(orders)⋈dim(customer) rollup grouped by a DIM attribute:
    the batch carries fact inserts/deletes/price-updates AND a dim
    segment move (every 5th customer re-labeled), so preimage pairs
    leave old groups and postimage pairs enter new ones. The oracle
    recomputes the view from the new snapshots; equality is decimal
    bit-exact. Neither base is re-joined: each appears only semi-joined
    to the other side's delta keys."""
    from eclipse_spark.operators.ivm import (
        incremental_refresh_join,
        join_aggregate_view,
    )
    from eclipse_spark.storage import table_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    a1 = orders.filter(F.col("o_orderkey") % 10 != 0)
    a2 = orders.filter(F.col("c_custkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + F.lit(10.0)
        ).otherwise(F.col("o_totalprice")),
    )
    b1 = cust
    b2 = cust.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("MOVED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    kw = dict(on=["c_custkey"], keys=["c_mktsegment"], sum_col="o_totalprice")
    mv = join_aggregate_view(a1, b1, total_col="revenue", **kw)
    refreshed = incremental_refresh_join(
        mv,
        table_diff(a1, a2, on=["o_orderkey"]),
        table_diff(b1, b2, on=["c_custkey"]),
        a1,
        b1,
        total_col="revenue",
        **kw,
    )
    return refreshed.select(
        "c_mktsegment", "n_rows", F.col("revenue").cast("double").alias("revenue")
    )


def q_events_stream_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental-view maintenance
    (streaming.ivm_stream_to_catalog): RAW event batches — three
    files, one per trigger, NO Spark aggregation state — fold into a
    Catalog-stored per-type aggregate view as insert-only change
    feeds via ivm.incremental_refresh. External-state streaming: the
    running totals live in the versioned table, each batch costs
    O(|batch| + |view|), and after the source drains the view equals
    a batch aggregate of ALL events, decimal bit-exact (the oracle).
    Completes the IVM pair: mv_refresh proves the batch delta
    algebra; this proves the same algebra applied trigger-by-trigger."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    _utc(spark)
    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    work = tempfile.mkdtemp(prefix="eclipse_stream_ivm_")
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)
        # one scan writes all three batches as hive partitions of one
        # task; each part file then becomes batch_<i>.parquet, pinned to
        # trigger order by mtime (a residue with no events has no file)
        parts = os.path.join(work, "_parts")
        ev.withColumn("_b", F.col("event_id") % 3).coalesce(1).write.partitionBy(
            "_b"
        ).parquet(parts)
        for i in range(3):
            bdir = os.path.join(parts, f"_b={i}")
            if not os.path.isdir(bdir):
                continue
            part = next(f for f in os.listdir(bdir) if f.endswith(".parquet"))
            dst = os.path.join(src, f"batch_{i}.parquet")
            shutil.move(os.path.join(bdir, part), dst)
            mtime = 1_000_000.0 + 100 * i
            os.utime(dst, (mtime, mtime))
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        cat = Catalog(spark, os.path.join(work, "cat"), retain_versions=1)
        stream_windows.ivm_stream_to_catalog(
            stream.drop("event_id"),
            cat,
            "type_totals",
            keys=["event_type"],
            sum_cols={"value": "total_value"},
            checkpoint=os.path.join(work, "ckpt"),
        )
        out = cat.get("type_totals").select(
            "event_type",
            "n_rows",
            F.col("total_value").cast("double").alias("total_value"),
        )
        # collected before the scratch directory goes; an Arrow-built
        # frame replays without the Python-worker job a row list costs
        pdf, out_schema = out.toPandas(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(pdf, out_schema)


def q_events_stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming AS-OF enrichment against an effective-dated dimension
    — the temporal-join shape Structured Streaming cannot express with
    built-in stream joins (no window functions over a stream): each
    micro-batch runs relational.asof_join (backward) against a SPARSE
    static rate table (only every third week carries a factor, so
    matches genuinely look backward across weeks, not equi-join), the
    adjusted revenue folds into a Catalog view through apply_ivm_batch
    (the round-6 exactly-once write-ahead-intent sink), and the
    drained view must equal the batch as-of join + aggregate — the
    oracle. Composes: as-of in foreachBatch + idempotent additive
    sink."""
    import shutil
    import tempfile

    from eclipse_spark.operators.relational import asof_join
    from eclipse_spark.storage import Catalog
    from eclipse_spark.streaming.windows import apply_ivm_batch

    _utc(spark)
    ev = _events(spark, sf_dir)
    week_no = F.expr("unix_timestamp(date_trunc('week', ts)) div 604800")
    dim = (
        ev.select(
            "event_type",
            F.date_trunc("week", F.col("ts")).alias("eff_ts"),
            (week_no % 7 + 1).cast("long").alias("factor"),
        )
        .filter(week_no % 3 == 0)
        .distinct()
    )
    stream = _event_stream(spark, sf_dir).select("ts", "event_type", "value")
    work = tempfile.mkdtemp(prefix="eclipse_stream_asof_")
    try:
        cat = Catalog(spark, os.path.join(work, "cat"), retain_versions=1)

        def _apply(bdf: DataFrame, bid: int) -> None:
            j = asof_join(
                bdf,
                dim,
                on=["event_type"],
                left_ts="ts",
                right_ts="eff_ts",
                right_payload=["factor"],
                direction="backward",
            )
            j = j.filter(F.col("asof_factor").isNotNull()).withColumn(
                "adj", F.col("value") * F.col("asof_factor")
            )
            apply_ivm_batch(
                cat,
                "asof_view",
                j.select("event_type", "adj"),
                bid,
                keys=["event_type"],
                sum_cols={"adj": "sum_adj"},
            )

        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(_apply)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        out = cat.get("asof_view").select(
            "event_type",
            "n_rows",
            F.col("sum_adj").cast("double").alias("sum_adj"),
        )
        rows, out_schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)


def q_storage_layouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content invariance across the Catalog's physical-layout verbs
    (SURVEY §2.1 S-family as a standing driver row, not just unit
    tests): the same orders rows written as (a) plain put, (b)
    put_sorted range-partitioned row-group-stat layout, (c) put_zorder
    Morton-curve layout over (o_orderkey, o_custkey), and (d) a
    4-file compaction of (a) — each read back and aggregated. Layout
    must NEVER change content: all four rows must carry the identical
    count / distinct-key / decimal sum, which the oracle recomputes
    once from the source table."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="eclipse_layouts_")
    try:
        cat = Catalog(spark, work)
        cat.put("plain", orders)
        cat.put_sorted("sorted", orders, sort_by=["o_orderkey"], partitions=8)
        cat.put_zorder("zorder", orders, cols=["o_orderkey", "o_custkey"])
        cat.compact("plain", 4)

        def _agg(name: str, label: str) -> DataFrame:
            return cat.get(name).agg(
                F.lit(label).alias("layout"),
                F.count("*").cast("long").alias("n_rows"),
                F.count_distinct("o_orderkey").cast("long").alias("n_keys"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_price"),
            )
        out = (
            _agg("plain", "compacted")
            .unionByName(_agg("sorted", "sorted"))
            .unionByName(_agg("zorder", "zorder"))
        )
        rows, out_schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)


def q_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend fit (profile.linear_fit): hourly value sums
    regressed on the hour index with DECIMAL moment sums — engine-
    exact where the builtin regr_slope's streaming double accumulation
    is partition-order-dependent. Slope/intercept/r2 touch float in
    fixed-order expressions over exact moments (round-9)."""
    from eclipse_spark.operators.profile import linear_fit

    ev = _events(spark, sf_dir)
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(_dsum("value", "y"))
        .withColumn(
            "x", (F.unix_timestamp("h") / F.lit(3600)).cast("long") % F.lit(100000)
        )
    )
    return linear_fit(hourly, ["event_type"], "x", "y")


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient
    (graph.clustering_coefficient) over the part co-order graph —
    the node-level companion to the global triangle count: the same
    degree-oriented wedge join (out-degree O(sqrt(m)) after
    orientation), but each closed wedge credits all three corners,
    then one integer-ratio division. The oracle recomputes per-node
    triangles with the naive a<b<c join (fine at test scale, the
    exact thing the oriented join avoids at 100 TB)."""
    li = _t(spark, sf_dir, "lineitem")
    # co-order graph restricted to even orderkeys to keep the oracle's
    # naive triangle join inside test-scale bounds
    edges = graph.cooccurrence_edges(
        li.filter(F.col("l_orderkey") % 2 == 0), "l_orderkey", "l_partkey"
    )
    return graph.clustering_coefficient(edges)


def q_collapse_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document self-repetition cleaning
    (text.collapse_repeated_lines) over a line-ified corpus (words ->
    lines, so the synthetic corpus' consecutive word repeats play the
    boilerplate role; 388/500 docs at sf0.01 have some). Pure map
    stage — indexed filter lambda reads the previous element, no
    shuffle at all — and the cleaned text is pinned by md5, so the
    oracle checks the TRANSFORM, not just the counts."""
    from eclipse_spark.operators.text import collapse_repeated_lines

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", " ", "\n").alias("text")
    )
    out = collapse_repeated_lines(docs)
    return out.select(
        "doc_id",
        "n_lines_in",
        "n_lines_out",
        "n_removed",
        F.md5(F.col("text")).alias("clean_md5"),
    )


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling
    (text.negative_samples): every document draws k=4 other documents
    via the portable hash family — no rand(), so the pairs are
    reproducible across engines/partitionings and the DuckDB oracle
    replays every draw (including the self-draw bump) value-for-value."""
    from eclipse_spark.operators.text import negative_samples

    docs = _t(spark, sf_dir, "documents")
    return negative_samples(docs, "doc_id", k=4, seed=7)


def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup (relational.temporal_join):
    every purchase annotated with the user's status — the SCD2 run of
    signup/login/error events — in effect AT PURCHASE TIME. Because
    SCD2 intervals tile each key's timeline, the containment lookup
    collapses to an as-of window pick on ONE user-keyed shuffle (the
    general range join the oracle runs would be a bucketed explode at
    scale); facts before the user's first interval get '(none)'."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    status_events = ev.filter(F.col("event_type").isin("signup", "login", "error"))
    dim = relational.scd2(
        status_events,
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = relational.temporal_join(
        facts, dim, key_cols=["user_id"], fact_ts_col="ts",
        attr_cols=["event_type"],
    )
    return out.select(
        "event_id",
        "user_id",
        "value",
        F.coalesce(F.col("dim_event_type"), F.lit("(none)")).alias("status"),
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end curation pipeline, fully value-checked:
    language filter (en) -> Gopher-style quality gates -> exact dedup
    -> 8-gram benchmark decontamination -> deterministic train/val/
    test split -> per-(source, split) corpus accounting. Five
    operators composed exactly as a production pretraining run chains
    them, and the DuckDB oracle replays EVERY stage (per-doc language
    scores, ratio gates, min-id dedup groups, string-gram collisions,
    hash-range splits), so the composition — not just each piece — is
    driver-checkable. Scale shape inherits its parts: codegen
    projections, one dedup key shuffle, broadcast benchmark grams,
    map-side split."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    en = text.language_id(corpus).filter(F.col("lang_pred") == "en")
    gated = text.quality_stats(en).filter(
        (F.col("n_tokens") >= 5)
        & (F.col("digit_ratio") < 0.2)
        & (F.col("upper_ratio") < 0.3)
    )
    kept = dedup.exact_dedup(gated)
    flags = dedup.ngram_decontaminate(kept, bench, n=8)
    clean = kept.join(flags.select("doc_id"), "doc_id", "left_anti")
    split = relational.dataset_split(
        clean, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.groupBy("source", "split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def q_events_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension enrichment — the one streaming join
    shape the suite didn't yet cover: a micro-batch stream joins a
    static (bounded) dimension DataFrame, which Spark broadcasts into
    every batch with NO state store at all (unlike stream-stream
    joins there is nothing to watermark — the dimension is complete).
    Per-segment decimal revenue over the drained stream equals the
    batch join+aggregate, which is the oracle."""
    _utc(spark)
    stream = _event_stream(spark, sf_dir)
    seg_dim = (
        _events(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 5).cast("long"))
    )
    joined = stream.filter(F.col("event_type") == "purchase").join(
        F.broadcast(seg_dim), "user_id"
    )
    agg = joined.groupBy("segment").agg(
        F.count("*").alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("revenue"),
    )
    stream_windows.run_stream_to_memory(agg, "ev_stream_enrich", "complete")
    return spark.table("ev_stream_enrich").select(
        "segment",
        F.col("n_purchases").cast("long").alias("n_purchases"),
        F.col("revenue").cast("double").alias("revenue"),
    )


def q_mv_refresh_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX view maintenance (ivm.incremental_refresh_minmax):
    min/max are NOT self-maintainable (a delete can remove the extreme
    row), so delta-only merge applies to insert-only groups and groups
    touched by a delete/update rescan FROM THE NEW BASE — but only
    those groups, via a semi-join that a key-partitioned base turns
    into a sliver read. Same v1->v2 orders change feed as mv_refresh;
    the oracle aggregates v2 directly, proving the split rule loses
    nothing."""
    from eclipse_spark.operators.ivm import (
        aggregate_view_minmax,
        incremental_refresh_minmax,
    )
    from eclipse_spark.storage import table_diff

    orders = _t(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 10 != 0)
    v2 = orders.filter(F.col("o_custkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + F.lit(10.0)
        ).otherwise(F.col("o_totalprice")),
    )
    bucket = (F.col("o_custkey") % 100).cast("long").alias("cust_bucket")
    mv_v1 = aggregate_view_minmax(
        v1.select(bucket, "o_totalprice"), ["cust_bucket"], "o_totalprice"
    )
    changes = table_diff(v1, v2, on=["o_orderkey"]).select(
        "change_type", bucket, "o_totalprice"
    )
    return incremental_refresh_minmax(
        mv_v1,
        changes,
        v2.select(bucket, "o_totalprice"),
        ["cust_bucket"],
        "o_totalprice",
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization
    (timeseries.quantile_normalize): every event type's value
    distribution mapped onto the pooled distribution at matching
    within-group rank — batch-effect correction for mixed-source
    scores. Index arithmetic stays integer (scaled div/mod) up to one
    fixed-order interpolation; ties are multiset-safe (equal values
    swap ranks without changing the output set)."""
    from eclipse_spark.operators import timeseries

    ev = _events(spark, sf_dir).filter(F.col("event_id") % 7 == 0)
    return timeseries.quantile_normalize(ev, "event_type", "value")


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between event types per
    user (timeseries.transition_matrix): one user-keyed window lag,
    a (from, to) count, broadcast row totals, integer-ratio
    probabilities round-9 — deterministic chain via (ts, event_id)
    tie-break."""
    from eclipse_spark.operators import timeseries

    ev = _events(spark, sf_dir)
    return timeseries.transition_matrix(
        ev, "user_id", "ts", "event_type", tiebreak_cols=["event_id"]
    )


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type Gini coefficient of event values
    (timeseries.gini_coefficient): the rank formulation with
    decimal-exact moment sums (sum x, sum i*x) and ONE fixed-order
    float expression — concentration/inequality accounting the
    engines agree on to the last digit."""
    from eclipse_spark.operators import timeseries

    ev = _events(spark, sf_dir)
    return timeseries.gini_coefficient(ev, "event_type", "value")


def q_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event dwell-time distribution: per event type, exact
    median / p90 / max of the INTEGER seconds until the same user's
    next event (one user-keyed window lead, second-truncated gaps —
    no float until the exact interpolated percentile both engines
    share). The engagement-latency profile of a product funnel."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("_next", F.lead("ts").over(w))
        .filter(F.col("_next").isNotNull())
        .select(
            "event_type",
            (F.col("_next").cast("long") - F.col("ts").cast("long")).alias("gap_s"),
        )
    )
    pct = F.expr("percentile(gap_s, array(0.5, 0.9))")
    return gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        pct[0].alias("p50_s"),
        pct[1].alias("p90_s"),
        F.max("gap_s").cast("long").alias("max_s"),
    )


def q_label_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding class-separability audit
    (similarity.label_separability): per label, mean member distance
    to its own centroid vs distance to the nearest other centroid,
    plus their ratio — the go/no-go check before trusting an embedding
    table for clustering/dedup. Centroid means use the
    float->double->decimal hop; every squared term round-9
    decimal-accumulates, so both distances are engine-exact."""
    from eclipse_spark.operators.similarity import label_separability

    emb = _t(spark, sf_dir, "embeddings")
    return label_separability(emb, "label", "embedding", "vec_id")


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (similarity.lsh_topk_multiprobe): queries
    probe their bucket plus every Hamming-1 neighbor — the recall
    upgrade that costs planes extra lookups per QUERY instead of
    coarser corpus-wide buckets. Deterministic (portable codegen
    sketch), so the oracle replays probes, dedupe, and rank exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    out = similarity.lsh_topk_multiprobe(queries_df, emb, k=10, planes=6)
    return out.select("query_id", "match_id", "rank")


def q_dense_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable global dense indexing (relational.dense_index): the
    two-pass zipWithIndex — range partitioning + a P-row broadcast
    offset table + per-partition row_number — so NO single executor
    ever holds the global sort. The index is invariant to where the
    range sampler places partition boundaries (total order includes
    the unique doc_id tiebreak); the oracle is the plain global
    row_number the operator avoids at scale."""
    from eclipse_spark.operators.relational import dense_index

    docs = _t(spark, sf_dir, "documents")
    return dense_index(docs, ["n_chars", "doc_id"]).select(
        "doc_id", "n_chars", "idx"
    )


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution through the Catalog (get_evolved):
    batch 1 lands (o_orderkey, o_orderstatus), batch 2 appends a
    WIDENED schema adding o_totalprice; the mergeSchema read unions
    the footers so batch-1 rows surface NULL price. The plain get()
    deliberately stays on the single-footer fast path — full-footer
    merges over 10^6 files are an opt-in planning cost. Output: per
    status, rows with/without the evolved column + its decimal sum."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    orders = _t(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="eclipse_schema_evo_")
    try:
        cat = Catalog(spark, work)
        cat.write("evo_orders", v1)
        cat.write("evo_orders", v2)
        out = (
            cat.get_evolved("evo_orders")
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.count("o_totalprice").cast("long").alias("n_with_price"),
                _dsum("o_totalprice", "sum_price"),
            )
        )
        rows, out_schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)


def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the warehouse: orphan counts
    per foreign-key relationship (orders→customer, lineitem→orders,
    lineitem→part, lineitem→supplier, customer→nation) via left-anti
    joins — the cross-TABLE data-quality gate profile/constraints
    (single-table) can't express. Each anti-join broadcasts the
    distinct parent keys where small; at 100 TB the orphan scan is one
    shuffle per relationship, all map-side pre-filtered."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    def orphans(child, fk, parent, pk, rel):
        n = (
            child.join(
                parent.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti"
            )
            .agg(F.count("*").alias("n"))
            .select(
                F.lit(rel).alias("relationship"),
                F.col("n").cast("long").alias("n_orphans"),
            )
        )
        return n

    checks = [
        orphans(orders, "o_custkey", customer, "c_custkey", "orders->customer"),
        orphans(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem->orders"),
        orphans(lineitem, "l_partkey", part, "p_partkey", "lineitem->part"),
        orphans(lineitem, "l_suppkey", supplier, "s_suppkey", "lineitem->supplier"),
        orphans(customer, "c_nationkey", nation, "n_nationkey", "customer->nation"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size systematic sampling
    (relational.pps_systematic_sample): 100 orders drawn proportional
    to price, entirely in integer arithmetic on the cumulative-cents
    line — no rand(), deterministic across engines/partitionings, hit
    counts sum to exactly n; heavy orders legitimately win multiple
    hits."""
    orders = _t(spark, sf_dir, "orders")
    from eclipse_spark.operators.relational import pps_systematic_sample

    out = pps_systematic_sample(
        orders, "o_totalprice", n_samples=100, order_cols=["o_orderkey"]
    )
    return out.select("o_orderkey", "o_orderstatus", "weight_scaled", "n_hits")


def q_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured S-curve of the banded MinHash design
    (dedup.lsh_recall_curve, portable hash family): exact
    shingle-Jaccard deciles vs the fraction of each decile the 8x4
    banding captured. The synthetic corpus has ~no NATURAL 5-gram
    overlap (the decontaminate query hit the same wall), so each
    sampled doc gets a deterministic PREFIX VARIANT keeping
    30..90% of its tokens (fraction keyed off doc_id % 7, pure
    integer arithmetic) — original/variant pairs then sweep the
    Jaccard spectrum and the curve has mass in every decile band the
    corpus can express. Ground truth is pair-quadratic in the
    co-shingle neighborhood — an audit on a sample, not a production
    stage. The oracle replays corpus construction, truth, AND
    candidates bit-for-bit: 'measure, don't guess' as a standing
    driver row."""
    from eclipse_spark.operators.text import tokens as _tok

    sub0 = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    with_toks = sub0.select("doc_id", _tok(F.col("text")).alias("toks"))
    variants = with_toks.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("toks"),
                1,
                F.expr(
                    "greatest(1, size(toks) * (30 + 10 * (doc_id % 7)) div 100)"
                ),
            ),
        ).alias("text"),
    )
    corpus = sub0.unionByName(variants)
    return dedup.lsh_recall_curve(
        corpus, num_hashes=32, bands=8, shingle_k=5, portable=True
    )


def q_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry/exit/bounce analytics: sessionize on a 30-minute
    gap (the session_paths machinery), then per event type count how
    often it OPENS a session, CLOSES one, or is a single-event
    bounce — the landing/exit-page report of product analytics. One
    user-keyed window pass for sessionization, one (user, session)
    aggregate whose entry/exit picks are min/max over (ts, event_id)
    structs (row-local), one per-type count."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (
            F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.lag("ts").over(w))
            > 1800
        ),
        1,
    ).otherwise(0)
    sessed = ev.withColumn("_new", new_sess).withColumn(
        "_sess",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_sess = sessed.groupBy("user_id", "_sess").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("_first"),
        F.max(F.struct("ts", "event_id", "event_type")).alias("_last"),
        F.count("*").alias("_n"),
    )
    marked = per_sess.select(
        F.col("_first.event_type").alias("entry_type"),
        F.col("_last.event_type").alias("exit_type"),
        (F.col("_n") == 1).alias("is_bounce"),
    )
    entries = marked.groupBy(F.col("entry_type").alias("event_type")).agg(
        F.count("*").alias("n_entries"),
        F.sum(F.when(F.col("is_bounce"), 1).otherwise(0)).alias("n_bounces"),
    )
    exits = marked.groupBy(F.col("exit_type").alias("event_type")).agg(
        F.count("*").alias("n_exits")
    )
    return (
        entries.join(exits, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n_entries", F.lit(0)).cast("long").alias("n_entries"),
            F.coalesce("n_exits", F.lit(0)).cast("long").alias("n_exits"),
            F.coalesce("n_bounces", F.lit(0)).cast("long").alias("n_bounces"),
        )
    )


def q_order_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot lifecycle latency: per order, integer
    days from order date to FIRST and LAST line shipment, rolled up
    per priority with exact interpolated medians/p90s — the
    fulfillment-latency report of a warehouse fact table. One
    order-keyed aggregate + one small rollup; day arithmetic is pure
    integer (datediff), percentiles the exact engine-shared kind."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_orderpriority",
            F.datediff(F.col("first_ship"), F.col("o_orderdate")).alias("d_first"),
            F.datediff(F.col("last_ship"), F.col("o_orderdate")).alias("d_last"),
        )
    )
    p = F.expr("percentile(d_first, array(0.5, 0.9))")
    pl = F.expr("percentile(d_last, array(0.5, 0.9))")
    return per_order.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        p[0].alias("p50_days_first_ship"),
        p[1].alias("p90_days_first_ship"),
        pl[0].alias("p50_days_complete"),
        pl[1].alias("p90_days_complete"),
        F.max("d_last").cast("long").alias("max_days_complete"),
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per purchasing user, integer recency
    (days from last purchase to the corpus horizon), frequency
    (purchase count), decimal monetary sum — each scored 1-5 by ntile
    with full (metric, user_id) tie-breaks so bucket membership is
    engine-exact — then segment counts and per-segment decimal
    revenue. The classic marketing cut, computed deterministically.
    Scale note: the three ntiles run over the per-USER aggregate (one
    row per user), not the event stream; the global sort is sized by
    users, and the equidepth_histogram caveat applies beyond ~1e8."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    horizon = ev.agg(F.max(F.to_date("ts")).alias("_h"))
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("_last"),
            F.count("*").alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_mon"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.datediff(F.col("_h"), F.col("_last")).alias("recency"),
            "frequency",
            F.col("_mon").alias("monetary"),
        )
    )
    r_s = F.ntile(5).over(Window.orderBy(F.desc("recency"), F.asc("user_id")))
    f_s = F.ntile(5).over(Window.orderBy(F.asc("frequency"), F.asc("user_id")))
    m_s = F.ntile(5).over(Window.orderBy(F.asc("monetary"), F.asc("user_id")))
    scored = per_user.select(
        "user_id",
        "monetary",
        r_s.alias("r_score"),
        f_s.alias("f_score"),
        m_s.alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("monetary").cast("double").alias("revenue"),
    )


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-activity
    WEEK, purchase revenue accumulated per (cohort, week offset) with
    a decimal running sum — the LTV companion to the retention matrix
    (retention counts who came back; LTV sums what they spent, and
    the cumulative decimal ride makes the curve engine-exact). Per-
    user cohort via one min-window, one (cohort, offset) aggregate,
    one cohort-partitioned running-sum window."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    cohorted = ev.withColumn("cohort", F.min(F.to_date("ts")).over(w))
    weekly = (
        cohorted.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            (F.datediff(F.to_date("ts"), F.col("cohort")) / 7)
            .cast("long")
            .alias("week_n"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("_rev"))
    )
    wc = (
        Window.partitionBy("cohort_day")
        .orderBy("week_n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return weekly.select(
        "cohort_day",
        "week_n",
        F.col("_rev").cast("double").alias("week_revenue"),
        F.sum("_rev").over(wc).cast("double").alias("cum_revenue"),
    )


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: a user counts as NEW on their
    first-activity day (min-window cohort), returning on every other
    active day — the acquisition/retention headline. Distinct
    (user, day) pairs, one user-keyed window, one day aggregate."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id")
    j = ud.withColumn("cohort", F.min("d").over(w))
    return j.groupBy(F.date_format("d", "yyyy-MM-dd").alias("day")).agg(
        F.sum(F.when(F.col("d") == F.col("cohort"), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("d") != F.col("cohort"), 1).otherwise(0))
        .cast("long")
        .alias("n_returning"),
    )


def q_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness, exactly: per day, exact distinct actives
    (DAU) and exact trailing-30-day distinct actives (MAU) — a direct
    reuse of timeseries.rolling_distinct at day grain (dense day grid,
    per-frame flatten+array_distinct) — plus their single-division
    ratio. The engagement metric HLL usually approximates, exact."""
    from eclipse_spark.operators import timeseries

    ev = _events(spark, sf_dir)
    rd = timeseries.rolling_distinct(ev, "ts", "user_id", window=30, step="day")
    return rd.select(
        F.date_format("t", "yyyy-MM-dd").alias("day"),
        F.col("step_distinct").alias("dau"),
        F.col("rolling_distinct").alias("mau"),
        F.round(
            F.col("step_distinct").cast("double")
            / F.col("rolling_distinct").cast("double"),
            9,
        ).alias("stickiness"),
    )


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per event type
    (timeseries.time_weighted_avg): each observed value holds until
    the next observation, so the mean weights by holding seconds —
    the correct summary for sampled state. Integer second intervals ×
    decimal values, one final division round-9."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    from eclipse_spark.operators import timeseries

    return timeseries.time_weighted_avg(ev, "event_type", "ts", "value")


def q_price_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse reconciliation: recompute each order's revenue from
    its lines (decimal sum of extendedprice*(1-discount)*(1+tax),
    every product rounded to cents before accumulating) and compare
    to the stored o_totalprice — per status: orders, lines-derived
    totals, exact decimal |delta| sums and the worst case. The
    cross-fact consistency audit every finance pipeline runs; all
    arithmetic decimal so the reported deltas are engine-exact."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    derived = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice").cast("decimal(18,6)")
                * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
                * (F.lit(1).cast("decimal(18,6)") + F.col("l_tax").cast("decimal(18,6)")),
                2,
            ).cast("decimal(18,2)")
        ).alias("derived_total")
    )
    j = orders.join(derived, F.col("o_orderkey") == F.col("l_orderkey"), "left").select(
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("stored"),
        F.coalesce(F.col("derived_total"), F.lit(0).cast("decimal(18,2)")).alias(
            "derived"
        ),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.abs(F.col("stored") - F.col("derived")))
        .cast("double")
        .alias("sum_abs_delta"),
        F.max(F.abs(F.col("stored") - F.col("derived")))
        .cast("double")
        .alias("max_abs_delta"),
        F.sum(
            F.when(F.col("stored") != F.col("derived"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatched"),
    )


def q_pareto_80_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration audit: how many parts carry 80% of line
    revenue. Parts ranked by decimal revenue (ties broken by key), a
    cumulative decimal sum, and the 80% cut tested in INTEGER cents
    (``cum*10 <= total*8`` — no float threshold; the crossing part
    counts in). One row: part count, parts to 80%, total cents. The
    concentration headline of any revenue/token-mass accounting;
    gini gives the curve's area, this gives the actionable cut."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_r")
    )
    cents = rev.select(
        "l_partkey", (F.col("_r") * 100).cast("long").alias("_c")
    )
    w = Window.orderBy(F.desc("_c"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cents.withColumn("_cum", F.sum("_c").over(w)).crossJoin(
        F.broadcast(cents.agg(F.sum("_c").alias("_tot")))
    )
    flagged = cum.withColumn(
        "_in80", (F.col("_cum") * 10 <= F.col("_tot") * 8).cast("int")
    )
    # the cut includes the first part that CROSSES 80%: parts strictly
    # inside + 1 (unless the first part alone exceeds 80%)
    return flagged.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.least(F.sum("_in80") + 1, F.count("*")).cast("long").alias("n_parts_to_80"),
        F.first("_tot").cast("long").alias("total_cents"),
    )


def q_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week rank movers: part revenue ranked inside each of
    the two halves of the order-date range (deterministic midpoint
    from min/max dates), then the rank delta per part present in both
    — the 'top movers' report. Two partitioned window ranks on one
    derived column, one self-join on the part key; the halving
    boundary is pure date arithmetic so both engines split
    identically. Top 20 movers by |delta| (ties by part)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    bounds = orders.agg(
        F.min("o_orderdate").alias("_d0"), F.max("o_orderdate").alias("_d1")
    )
    halved = j.crossJoin(F.broadcast(bounds)).withColumn(
        "half",
        F.when(
            F.datediff(F.col("o_orderdate"), F.col("_d0")) * 2
            <= F.datediff(F.col("_d1"), F.col("_d0")),
            F.lit("H1"),
        ).otherwise(F.lit("H2")),
    )
    rev = halved.groupBy("half", "l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_r")
    )
    wr = Window.partitionBy("half").orderBy(F.desc("_r"), F.asc("l_partkey"))
    ranked = rev.withColumn("rnk", F.row_number().over(wr))
    h1 = ranked.filter(F.col("half") == "H1").select(
        "l_partkey", F.col("rnk").alias("rank_h1")
    )
    h2 = ranked.filter(F.col("half") == "H2").select(
        "l_partkey", F.col("rnk").alias("rank_h2")
    )
    movers = h1.join(h2, "l_partkey").withColumn(
        "rank_delta", F.col("rank_h1") - F.col("rank_h2")
    )
    return (
        movers.orderBy(
            F.desc(F.abs(F.col("rank_delta"))), F.asc("l_partkey")
        )
        .limit(20)
        .select(
            "l_partkey",
            F.col("rank_h1").cast("long").alias("rank_h1"),
            F.col("rank_h2").cast("long").alias("rank_h2"),
            F.col("rank_delta").cast("long").alias("rank_delta"),
        )
    )


def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday x hour activity heatmap with decimal value sums — the
    seasonality fingerprint behind staffing/capacity decisions. Day
    names as strings ('Mon'...) so the label space is engine-neutral
    (integer day-of-week conventions differ across engines: Spark
    counts Sunday=1, DuckDB Sunday=0 — a classic silent-off-by-one)."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.date_format("ts", "E").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        _dsum("value", "sum_value"),
    )


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration Herfindahl index per part:
    HHI = sum(share_i^2) computed as ``sum(c_i^2) / sum(c_i)^2`` on
    integer cents — one float division per part, everything else
    exact integers (share-based formulations square a float per
    supplier and drift). Parts with >= 2 suppliers, top 25 most
    CONTESTED (lowest HHI, full tie-breaks) — the procurement-risk
    screen read in reverse."""
    li = _t(spark, sf_dir, "lineitem")
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("_c")
    )
    per_part = per_ps.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("_c").alias("_s"),
        F.sum(F.col("_c") * F.col("_c")).alias("_sq"),
    )
    hhi = per_part.filter(F.col("n_suppliers") >= 2).select(
        "l_partkey",
        "n_suppliers",
        F.round(
            F.col("_sq").cast("double")
            / (F.col("_s").cast("double") * F.col("_s").cast("double")),
            9,
        ).alias("hhi"),
    )
    return hhi.orderBy(F.asc("hhi"), F.asc("l_partkey")).limit(25)


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution over the planted-duplicate
    corpus (dedup.exact_dup_groups -> histogram of cluster sizes):
    the dedup AUDIT summary an operator reads before deleting
    anything — how much of the corpus sits in clusters of 2, of 3, …
    and how many rows dedup would remove (sum over clusters of
    size-1). Cluster membership is the oracle-checked exact-dedup
    grouping; this rolls it up."""
    docs = _docs_with_dups(spark, sf_dir)
    groups = dedup.exact_dup_groups(docs)
    return (
        groups.groupBy(F.col("n_dups").cast("long").alias("cluster_size"))
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .withColumn(
            "rows_removed_by_dedup",
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).cast("long"),
        )
    )


def q_repurchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase latency: integer days between each user's
    consecutive purchases (one user-keyed window lead over purchases
    only), summarized with exact interpolated quartiles — the
    retention-cadence metric behind replenishment and win-back
    timing. Single row: n_intervals, p25/p50/p75 days, max."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("_next", F.lead(F.to_date("ts")).over(w))
        .filter(F.col("_next").isNotNull())
        .select(F.datediff(F.col("_next"), F.to_date("ts")).alias("gap_days"))
    )
    p = F.expr("percentile(gap_days, array(0.25, 0.5, 0.75))")
    return gaps.agg(
        F.count("*").cast("long").alias("n_intervals"),
        p[0].alias("p25_days"),
        p[1].alias("p50_days"),
        p[2].alias("p75_days"),
        F.max("gap_days").cast("long").alias("max_days"),
    )


def q_session_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-generality composition: the market-basket miner
    (basket.frequent_pairs) applied to SESSIONS as baskets and event
    types as items — which behaviors co-occur inside one visit, with
    lift against independence. Reuses the 30-minute sessionization
    window; the Apriori prune and lazy broadcast total ride along
    unchanged — the same operator serves retail baskets and
    behavioral sessions."""
    from eclipse_spark.operators.basket import frequent_pairs

    _utc(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (
            F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.lag("ts").over(w))
            > 1800
        ),
        1,
    ).otherwise(0)
    sessed = ev.withColumn("_new", new_sess).withColumn(
        "_sess",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    baskets = sessed.select(
        F.concat_ws(":", F.col("user_id"), F.col("_sess")).alias("basket_id"),
        "event_type",
    )
    return frequent_pairs(baskets, "basket_id", "event_type", min_support=5)


def q_media_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decoding, end-to-end and oracle-checked — the second
    real modality next to media_decode_bmp: a synthetic PCM WAV per
    doc_id (multimodal.encode_pattern_wav — sample values are a pure
    integer formula of the id), parsed back by the vendored
    dependency-free RIFF/WAVE codec (multimodal.wav_decode — chunk
    walk, fmt validation, int16 PCM), amplitude features via the
    integer-exact recipe. The oracle recomputes every feature from the
    sample FORMULA without touching bytes, so a hash match proves the
    engine actually parsed RIFF chunk headers and PCM bytes."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    wavs = multimodal.encode_pattern_wav(ids, id_col="id")
    return multimodal.audio_features(wavs)


def q_media_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame sampling with REAL decode (multimodal.audio_frames):
    WAV bytes -> non-overlapping 16-sample windows -> per-frame INTEGER
    energy (sum of squares — exact in any engine, no float anywhere).
    The fixed-window analogue of video frame_sample, but with actual
    byte parsing; binary never leaves the map stage — only
    (id, frame_idx, n, energy) rows shuffle."""
    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").alias("id"))
    )
    wavs = multimodal.encode_pattern_wav(ids, id_col="id")
    return multimodal.audio_frames(wavs, frame=16)


def q_media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling, end-to-end — completes the modality
    triad (BMP stills, WAV audio, now framed video): a synthetic EBMV
    container per doc_id holding 3-7 pattern-BMP frames
    (multimodal.encode_pattern_video), every 2nd frame extracted by
    walking the container's real index (multimodal.video_decode_frame)
    and BMP-decoded by the vendored codec; per-frame integer-exact
    mean/std. The oracle replays the per-frame pixel formula without
    touching bytes, so a hash match proves index walk + offset
    arithmetic + per-frame BMP parse all happened correctly."""
    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").alias("id"))
    )
    vids = multimodal.encode_pattern_video(ids, id_col="id")
    return multimodal.video_frame_features(vids, every_n=2)


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher/MassiveText rule verdicts
    (text.gopher_rules): word-count window, mean-word-length window,
    alphabetic-word fraction, distinct-stop-word presence — every flag
    an integer comparison on integer counts, so the verdicts are
    engine-exact and the oracle recomputes them from the same token
    stream. Pure projection: zero shuffles."""
    return text.gopher_rules(_t(spark, sf_dir, "documents"))


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick sparse featurization (text.feature_hash,
    portable tier): tokens -> 64 buckets via the md5-derived 60-bit
    hash, per-doc counts — no fitted vocabulary, the 100 TB-safe
    featurizer. Restricted to doc_id < 100 to bound the sparse-row
    output; the oracle replays every bucket id bit-for-bit."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return text.feature_hash(docs, n_buckets=64, portable=True)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the end-to-end curation pipeline (language filter ->
    quality gates -> exact dedup -> decontamination -> deterministic
    split -> per-(source, split) accounting) on sf0.001 — the
    composition that exercises text analysis, dedup, and the
    deterministic-sampling discipline in one plan."""
    return q_curation_pipeline(spark, "/root/testdata/sf0.001")


def _oracle_semantic_decontaminate() -> str:
    """Replay of q_semantic_decontaminate: cross join the 8 benchmark
    vectors against the corpus (+ planted exact copies), the SAME
    sequential double cosine as the engine (identical IEEE bits, so
    the 0.98 threshold cannot straddle), then the per-survivor count /
    argmax / round-6 max."""
    dim = _emb_dim()
    dot = (
        f"list_sum(list_transform(range(1,{dim + 1}), "
        "i -> c.v[i]::DOUBLE * b.bv[i]::DOUBLE))"
    )
    nrm = (
        "sqrt(list_sum(list_transform(range(1,%d), "
        "i -> %s[i]::DOUBLE * %s[i]::DOUBLE)))"
    )
    nc = nrm % (dim + 1, "c.v", "c.v")
    nb = nrm % (dim + 1, "b.bv", "b.bv")
    return f"""
        WITH bench AS (
          SELECT vec_id AS bench_id, embedding AS bv FROM embeddings
          WHERE vec_id < 8),
        corpus AS (
          SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id >= 8
          UNION ALL
          SELECT vec_id + 100000, embedding FROM embeddings
          WHERE vec_id < 8),
        s AS (
          SELECT c.vec_id, b.bench_id,
                 {dot} / ({nc} * {nb}) AS cos
          FROM corpus c, bench b),
        h AS (SELECT * FROM s WHERE cos >= 0.98)
        SELECT vec_id,
               CAST(count(*) AS BIGINT) AS n_bench_hits,
               CAST(max(CASE WHEN rk = 1 THEN bench_id END) AS BIGINT)
                 AS best_bench,
               round(max(cos), 6) AS max_sim
        FROM (SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rk
              FROM h)
        GROUP BY vec_id
    """


def q_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates (sketch.count_min_build /
    count_min_estimate; width=1024, depth=4, the portable md5 hash
    family) — the sketch family's point-query tier next to MG (top-k)
    / HLL (distinct) / KMV (overlap). Probes = every token with exact
    frequency >= 64; emits (item, exact freq, cms_est, overcount).
    The hash family is seed-fixed, so the estimate is DETERMINISTIC
    and the oracle rebuilds the entire depth x width sketch in SQL —
    a single flipped counter anywhere hash-mismatches; overcount >= 0
    certifies the never-undercount guarantee row by row."""
    from eclipse_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
    )

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    sk = count_min_build(toks, "tok", width=1024, depth=4)
    exact = (
        toks.groupBy(F.col("tok").alias("item"))
        .agg(F.count("*").cast("long").alias("freq"))
        .filter(F.col("freq") >= 64)
    )
    est = count_min_estimate(
        sk, exact.select(F.col("item").alias("tok")), "tok", width=1024, depth=4
    )
    return exact.join(est, "item").select(
        "item",
        "freq",
        "cms_est",
        (F.col("cms_est") - F.col("freq")).cast("long").alias("overcount"),
    )


def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis (skew.skew_audit) on a deliberately
    hot-keyed stream: every third order's lineitems collapse onto one
    'HOT' key while the rest keep their partkey — the measurement half
    of the salting toolkit (share_ppm / skew_x are exact integer floor
    divisions, so the report hashes identically in any engine; skew_x
    IS the salting fan-out a mitigation would use). One count
    aggregate + a broadcast 1-row total + top-n heap — the audit costs
    the audited join's shuffle minus its payload."""
    from eclipse_spark.operators.skew import skew_audit

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 3 == 0, F.lit("HOT"))
        .otherwise(F.col("l_partkey").cast("string"))
        .alias("jk")
    )
    return skew_audit(li, "jk", top_n=10)


def q_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs via perceptual dHash
    (multimodal.dhash_bands -> dhash_near_pairs): TEXTURED BMPs per
    doc_id (encode_textured_bmp — the linear pattern corpus collapses
    to ~200 distinct hashes and 43k degenerate pairs; the textured one
    is 1 hash per image) plus planted exact-duplicate payloads under
    shifted ids (every 10th), REAL pixel decode -> 9x8 integer-NN
    downsample -> integer luma -> 64 gradient bits as four 16-bit LSH
    bands -> banded self-join -> exact Hamming <= 3 verify (pigeonhole
    recall guarantee at 4 bands). The oracle replays the ENTIRE hash
    from the pixel FORMULA — resize index rule, luma division, band
    packing, XOR bit counts — so a hash match proves the engine parsed
    the bytes and computed the same 64 bits; planted duplicates must
    surface at hamming 0."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    bmps = multimodal.encode_textured_bmp(ids, id_col="id")
    # plant-before-encode (r14): the encoder is a pure row-wise
    # function of id, so encoding only the planted slice yields the
    # SAME bytes as filtering the full encoded corpus — without
    # re-running the whole encode kernel for the union branch (filters
    # cannot push through mapInPandas and Spark has no subtree CSE)
    planted = multimodal.encode_textured_bmp(
        ids.filter(F.col("id") % 10 == 0), id_col="id"
    ).select((F.col("id") + 100000).alias("id"), "bytes")
    hs = multimodal.dhash_bands(
        bmps.unionByName(planted), id_col="id", bytes_col="bytes"
    )
    return multimodal.dhash_near_pairs(hs, max_hamming=3)


def q_media_dhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-corpus dHash near-dup path: 128-bit perceptual hash
    (multimodal.dhash_bands_wide — 17x8 integer downsample, 16
    gradient bits per row, EIGHT 16-bit bands) with COMPOSED 32-bit
    LSH keys (band pairs, C(8,2)=28 tables) so CHANCE band collisions
    scale as n^2/2^32 instead of n^2/2^16, plus the pre-join
    candidate-volume audit (max_pairs) that RAISES before a saturated
    keyspace can schedule a quadratic join. STRUCTURAL collisions —
    images genuinely sharing a band pair — are corpus properties no
    key width removes: on the 550k-image synthetic probe corpus they
    dominate the chance rate by ~5 orders (685.5M candidates), so at
    that tier the default budget still trips (by design) and the
    documented escape hatch is an EXPLICIT raised budget, measured to
    complete in ~27 s (bench_scaling.json sf10
    media_dhash_wide_raised). Same textured corpus + planted exact
    duplicates as media_dhash; composed 8-band keys guarantee recall
    for Hamming <= 6, so the Hamming <= 3 answer is exact and the
    oracle replays the full 128-bit hash from the pixel formula and
    verifies ALL pairs."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    bmps = multimodal.encode_textured_bmp(ids, id_col="id")
    # plant-before-encode (r14): same bytes, no second full-corpus
    # encode pass (see q_media_dhash)
    planted = multimodal.encode_textured_bmp(
        ids.filter(F.col("id") % 10 == 0), id_col="id"
    ).select((F.col("id") + 100000).alias("id"), "bytes")
    hs = multimodal.dhash_bands_wide(
        bmps.unionByName(planted), id_col="id", bytes_col="bytes"
    )
    return multimodal.dhash_near_pairs(
        hs, max_hamming=3, n_bands=8, composed=True
    )


def q_media_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO pairs via the energy-envelope fingerprint
    (multimodal.audio_fingerprint_bands -> dhash_near_pairs): tone
    WAVs per doc_id (encode_tone_wav — cross-term formula, measured
    500/500 distinct fingerprints where a linear tone collapses) plus
    planted exact-duplicate payloads under shifted ids (every 10th),
    REAL RIFF/WAVE decode -> 65 frame energies (integer sum of
    squares) -> 64 gradient bits as four 16-bit LSH bands -> the SAME
    guarded banded self-join the image dHash path uses (one near-dup
    engine, two modalities) -> exact Hamming <= 3 verify (pigeonhole
    recall at 4 bands). The oracle replays the ENTIRE fingerprint from
    the sample FORMULA — frame energies, delta signs, band packing,
    XOR bit counts — so a hash match proves the engine parsed the
    RIFF bytes and computed the same 64 bits; planted duplicates must
    surface at hamming 0."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    wavs = multimodal.encode_tone_wav(ids, id_col="id")
    # plant-before-encode (r14): same bytes, no second full-corpus
    # encode pass (see q_media_dhash)
    planted = multimodal.encode_tone_wav(
        ids.filter(F.col("id") % 10 == 0), id_col="id"
    ).select((F.col("id") + 100000).alias("id"), "bytes")
    fp = multimodal.audio_fingerprint_bands(
        wavs.unionByName(planted), id_col="id", bytes_col="bytes"
    )
    return multimodal.dhash_near_pairs(fp, max_hamming=3)


def q_media_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO pairs via per-frame perceptual dHash with
    temporal alignment (multimodal.video_dhash_bands ->
    video_near_pairs) — the third modality through the banded near-dup
    engine: textured EBMV videos per doc_id (3 + id % 5 real BMP
    frames, per-frame textured formula seeded id + 131*g), plus TWO
    plant classes — exact copies under +100000 (every 10th: all F
    frames align at hamming 0) and TRUNCATED copies under +200000
    (every 20th: the same video minus its last frame — F-1 aligned
    frames, exercising differing frame counts). Real container-index
    walk + real per-frame BMP decode -> 9x8 dHash per frame -> banded
    join keyed (frame_idx, band, key) -> exact aligned-frame Hamming
    verify -> video-level rollup (n_close, sum_hamming) keeping pairs
    with >= 2 close frames. The oracle replays container layout,
    every frame's 64 gradient bits, and the alignment rollup from the
    pixel formula; the three plant-pair classes (d, d+100000),
    (d, d+200000), (d+100000, d+200000) must all surface with
    n_close = F, F-1, F-1 and sum_hamming 0."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    full = multimodal.encode_textured_video(ids, id_col="id")
    # plant-before-encode (r14): same bytes, no second full-corpus
    # encode pass (see q_media_dhash)
    planted = multimodal.encode_textured_video(
        ids.filter(F.col("id") % 10 == 0), id_col="id"
    ).select((F.col("id") + 100000).alias("id"), "bytes")
    trunc_src = ids.filter(F.col("id") % 20 == 0).select(
        "id", (F.lit(2) + F.col("id") % 5).cast("int").alias("nf")
    )
    trunc = multimodal.encode_textured_video(
        trunc_src, id_col="id", frames_col="nf"
    ).select((F.col("id") + 200000).alias("id"), "bytes")
    corpus = full.unionByName(planted).unionByName(trunc)
    hs = multimodal.video_dhash_bands(corpus, id_col="id", bytes_col="bytes")
    return multimodal.video_near_pairs(hs, max_hamming=3, min_frames=2)


def q_media_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO curation composition — the WAV analogue of
    q_media_curation_pipeline, completing the per-modality pipeline
    pair: (1) tone WAV corpus + planted exact-duplicate payloads under
    shifted ids (every 10th), (2) REAL RIFF/WAVE decode -> amplitude
    features (multimodal.audio_features — vendored codec: integer
    peak, one-IEEE-op rms, dyadic-exact duration_ms = n/8 at the fixed
    8 kHz rate), (3) quality gate rms_amp >= 1140 (a value both
    engines compute bit-identically: round(sqrt(q/n), 6) over exact
    integer sums; keeps ~60% of the tone corpus), (4) near-dup removal
    among survivors via the energy-envelope fingerprint through the
    guarded banded join (recall-guaranteed at Hamming <= 3; greedy
    min-id representative — planted copies carry the larger id, so
    originals survive), (5) per-length-bucket accounting
    (len_bucket = n_samples div 64): clips seen, quality survivors,
    post-dedup keeps, kept_sum_peak (exact integer), and
    kept_avg_dur_ms — an UNROUNDED double that is still bit-exact
    cross-engine because every duration is a dyadic rational (n/8),
    the group sum is therefore exact in IEEE double regardless of
    accumulation order, and the final division is one IEEE op. A
    wrong chunk walk, a flipped gradient bit, or a dedup over-drop
    all hash-mismatch."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    wavs = multimodal.encode_tone_wav(ids, id_col="id")
    originals = wavs.select("id", "bytes")
    # plant-before-encode (r14): same bytes, no second full-corpus
    # encode pass (see q_media_dhash)
    planted = multimodal.encode_tone_wav(
        ids.filter(F.col("id") % 10 == 0), id_col="id"
    ).select((F.col("id") + 100000).alias("id"), "bytes")
    corpus = originals.unionByName(planted)
    feats = multimodal.audio_features(corpus, bytes_col="bytes", id_col="id")
    # staged feeds the dedup semi-join AND the final accounting agg and
    # sits downstream of the real decode — persist the small
    # fixed-width frame so payloads decode ONCE; the ~5-row result
    # materializes via collect (the media_curation_pipeline lifecycle)
    staged = (
        feats.withColumn("_q", (F.col("rms_amp") >= 1140.0).cast("int"))
        .withColumn(
            "len_bucket", F.floor(F.col("n_samples") / 64).cast("long")
        )
        .persist()
    )
    surv_bytes = corpus.join(
        staged.filter(F.col("_q") == 1).select("id"), "id", "left_semi"
    )
    fp = multimodal.audio_fingerprint_bands(
        surv_bytes, id_col="id", bytes_col="bytes"
    )
    pairs = multimodal.dhash_near_pairs(fp, max_hamming=3)
    dropped = (
        pairs.select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    tagged = staged.join(dropped, "id", "left")
    kept = (F.col("_q") == 1) & F.col("_d").isNull()
    n_kept = F.sum(F.when(kept, 1).otherwise(0))
    out = tagged.groupBy("len_bucket").agg(
        F.count("*").cast("long").alias("n_audio"),
        F.sum("_q").cast("long").alias("n_quality"),
        n_kept.cast("long").alias("n_kept"),
        F.when(
            n_kept > 0,
            F.sum(
                F.when(kept, F.col("duration_ms")).otherwise(F.lit(0.0))
            )
            / n_kept,
        ).alias("kept_avg_dur_ms"),
        F.sum(
            F.when(kept, F.col("peak_amp")).otherwise(F.lit(0))
        ).cast("long").alias("kept_sum_peak"),
    )
    # unpersist even when dhash_near_pairs raises (e.g. the max_pairs
    # guard at sf>=10 corpus sizes) — the persist/unpersist-on-raise
    # discipline dhash_near_pairs itself follows
    try:
        rows = out.collect()
    finally:
        staged.unpersist()
    return spark.createDataFrame(rows, out.schema)


def q_media_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship MULTIMODAL curation composition — the media analogue of
    q_curation_pipeline, every stage running the real kernels and the
    oracle replaying all of them from the pixel formula: (1) textured
    BMP corpus + planted exact-duplicate payloads under shifted ids
    (every 10th), (2) REAL decode -> integer-exact pixel features
    (multimodal.decode_features — vendored codec, no PIL), (3) quality
    gate on the rounded features (mean_all >= 0.48 AND std_all >= 0.25
    — comparisons on values both engines compute bit-identically, the
    media_decode_bmp exactness discipline), (4) perceptual near-dup
    removal among the survivors via the 128-bit wide dHash with
    composed 32-bit keys (recall-guaranteed at Hamming <= 3; greedy
    min-id representative — planted copies always carry the larger id,
    so originals survive), (5) per-width accounting: images seen,
    quality survivors, post-dedup keeps, and the decimal-exact mean
    quality of the keeps. A wrong header parse, one flipped gradient
    bit, a dedup over-drop, or a float accumulation-order difference
    all hash-mismatch."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    bmps = multimodal.encode_textured_bmp(ids, id_col="id")
    originals = bmps.select("id", F.col("id").alias("pid"), "bytes")
    # plant-before-encode (r14): same bytes, no second full-corpus
    # encode pass (see q_media_dhash)
    planted = multimodal.encode_textured_bmp(
        ids.filter(F.col("id") % 10 == 0), id_col="id"
    ).select(
        (F.col("id") + 100000).alias("id"),
        F.col("id").alias("pid"),
        "bytes",
    )
    corpus = originals.unionByName(planted)
    feats = multimodal.decode_features(
        corpus.select("id", "bytes"), fake=False
    ).select("id", *_feat_cols())
    meta = corpus.select(
        "id", (F.lit(8) + F.col("pid") % 9).cast("int").alias("w")
    )
    # staged feeds TWO consumers (the dedup semi-join and the final
    # accounting agg) and sits downstream of the real decode — persist
    # the small fixed-width frame so features decode ONCE; the 9-row
    # result materializes via collect (no block outlives the call —
    # the auc_roc lifecycle)
    staged = (
        feats.join(meta, "id")
        .withColumn(
            "_q",
            (
                (F.col("mean_all") >= 0.48) & (F.col("std_all") >= 0.25)
            ).cast("int"),
        )
        .persist()
    )
    surv_bytes = corpus.select("id", "bytes").join(
        staged.filter(F.col("_q") == 1).select("id"), "id", "left_semi"
    )
    hs = multimodal.dhash_bands_wide(surv_bytes, id_col="id", bytes_col="bytes")
    pairs = multimodal.dhash_near_pairs(
        hs, max_hamming=3, n_bands=8, composed=True
    )
    dropped = (
        pairs.select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    tagged = staged.join(dropped, "id", "left")
    kept = (F.col("_q") == 1) & F.col("_d").isNull()
    n_kept = F.sum(F.when(kept, 1).otherwise(0))
    out = tagged.groupBy("w").agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum("_q").cast("long").alias("n_quality"),
        n_kept.cast("long").alias("n_kept"),
        F.when(
            n_kept > 0,
            F.round(
                F.sum(
                    F.when(kept, F.col("mean_all"))
                    .otherwise(F.lit(0.0))
                    .cast("decimal(18,6)")
                ).cast("double")
                / n_kept,
                6,
            ),
        ).alias("kept_mean_all"),
    )
    rows = out.collect()
    staged.unpersist()
    return spark.createDataFrame(rows, out.schema)


def q_cms_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance (sketch.count_min_merge — the
    IVM story applied to the sketch tier): a BASE Count-Min sketch
    over 3/4 of the orders custkey stream absorbs the remaining 1/4
    as a DELTA sketch merge — counter sums are exact integers, so the
    maintained sketch is BIT-IDENTICAL to a day-one rebuild over the
    full stream (unlike HLL's lossy dense-mode union). Probes = every
    custkey with >= 15 orders; emits the exact count, the estimate
    from the base sketch alone, the estimate from the maintained
    (merged) sketch, and the overcount. The oracle rebuilds BOTH
    sketches in SQL from the raw table, so a single mis-summed counter
    in the merge path hash-mismatches; cms_est >= cms_est_base row by
    row is the delta's visibility, overcount >= 0 the CMS guarantee."""
    from eclipse_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
        count_min_merge,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").cast("string").alias("ck")
    )
    base = count_min_build(
        orders.filter(F.col("o_orderkey") % 4 != 0), "ck", width=2048, depth=4
    )
    delta = count_min_build(
        orders.filter(F.col("o_orderkey") % 4 == 0), "ck", width=2048, depth=4
    )
    maintained = count_min_merge(base, delta)
    exact = (
        orders.groupBy(F.col("ck").alias("item"))
        .agg(F.count("*").cast("long").alias("freq"))
        .filter(F.col("freq") >= 15)
    )
    probes = exact.select(F.col("item").alias("ck"))
    est_base = count_min_estimate(
        base, probes, "ck", width=2048, depth=4
    ).withColumnRenamed("cms_est", "cms_est_base")
    est_full = count_min_estimate(maintained, probes, "ck", width=2048, depth=4)
    return (
        exact.join(est_base, "item")
        .join(est_full, "item")
        .select(
            "item",
            "freq",
            "cms_est_base",
            "cms_est",
            (F.col("cms_est") - F.col("freq")).cast("long").alias("overcount"),
        )
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General interval-OVERLAP join (relational.interval_join — the
    non-tiling range join temporal_join explicitly does not cover):
    event activity spans (1-5 x 10 min from each event's ts) joined to
    derived audit windows (every-97th event opens a 1-11 h window) on
    matching event_type AND closed-interval overlap. The engine path
    is the bucketed-explode equi-join — each interval explodes to the
    1-hour buckets it touches, pairs join on (type, bucket), the true
    overlap predicate filters, and each pair is attributed to exactly
    the bucket holding the overlap START so no dedup shuffle exists;
    a plan-embedded fanout guard fails rows spanning > max_fanout
    buckets. The oracle is the plain THETA join (s <= e' AND s' <= e),
    so bucket attribution errors (double emits, boundary drops) and
    epoch arithmetic all hash-mismatch. Returns (event_id, win_id,
    overlap_s)."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", "event_type", F.col("ts").cast("long").alias("_t")
    )
    wins = base.filter(F.col("event_id") % 97 == 0).select(
        "event_type",
        F.col("event_id").alias("win_id"),
        F.col("_t").alias("w_start"),
        (F.col("_t") + (F.col("event_id") % 11 + 1) * 3600).alias("w_end"),
    )
    spans = base.select(
        "event_type",
        "event_id",
        F.col("_t").alias("e_start"),
        (F.col("_t") + (F.col("event_id") % 5 + 1) * 600).alias("e_end"),
    )
    out = relational.interval_join(
        spans,
        wins,
        ["event_type"],
        "e_start",
        "e_end",
        "w_start",
        "w_end",
        bucket_width=3600,
    )
    return out.select(
        "event_id",
        "win_id",
        (
            F.least("e_end", "w_end") - F.greatest("e_start", "w_start")
        )
        .cast("long")
        .alias("overlap_s"),
    )


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two Count-Min sketches
    (sketch.count_min_join_size — the CMS inner-product estimator):
    |orders ⋈ customer ON custkey| predicted from two depth-4 x
    width-2048 sketch tables without re-touching either input — the
    planner's "how big is this join" primitive, mergeable across
    shards like the sketches themselves. The portable hash family
    makes the estimate deterministic, so the oracle rebuilds BOTH
    sketches and the min-of-inner-products in SQL; overcount >= 0
    certifies the never-undercount guarantee against the exact join
    count computed alongside."""
    from eclipse_spark.operators.sketch import (
        count_min_build,
        count_min_join_size,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sa = count_min_build(orders, "o_custkey", width=2048, depth=4)
    sb = count_min_build(cust, "c_custkey", width=2048, depth=4)
    est = count_min_join_size(sa, sb)
    exact = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .agg(F.count("*").cast("long").alias("exact_join"))
    )
    return est.crossJoin(exact).select(
        "join_size_est",
        "exact_join",
        (F.col("join_size_est") - F.col("exact_join"))
        .cast("long")
        .alias("overcount"),
    )


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KMV set-cardinality algebra (sketch.kmv_set_cardinalities
    — the theta-sketch role): per event_type, the user sets of two
    overlapping event slices (even event_ids vs every-3rd event_ids)
    are sketched with bottom-k (k=512) and |A|, |B|, |A∪B|, |A∩B| are
    estimated from the sketches alone — "how many NEW users does this
    slice add" without re-joining the sources. Driver row: EXACT set
    cardinalities (SQL-recomputable anchors) plus bound flags on every
    estimate (rsd ~ 1/sqrt(512) ≈ 4.4%; 15% > 3 sd for the direct
    estimates, 25% for the composed intersection which stacks the
    Jaccard and union errors; seed-fixed xxhash64 makes every estimate
    deterministic). Groups smaller than k collapse to exact under the
    same code path."""
    from eclipse_spark.operators.sketch import (
        kmv_set_cardinalities,
        kmv_sketch,
    )

    ev = _events(spark, sf_dir)
    a_src = ev.filter(F.col("event_id") % 2 == 0)
    b_src = ev.filter(F.col("event_id") % 3 == 0)
    sa = kmv_sketch(a_src, ["event_type"], "user_id", k=512)
    sb = kmv_sketch(b_src, ["event_type"], "user_id", k=512)
    est = kmv_set_cardinalities(sa, sb, ["event_type"], k=512)
    ua = a_src.select("event_type", "user_id").distinct()
    ub = b_src.select("event_type", "user_id").distinct()
    n_a = ua.groupBy("event_type").agg(F.count("*").cast("long").alias("n_a"))
    n_b = ub.groupBy("event_type").agg(F.count("*").cast("long").alias("n_b"))
    n_u = (
        ua.unionByName(ub)
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_union"))
    )
    n_i = (
        ua.join(ub, ["event_type", "user_id"], "semi")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    exact = n_a.join(n_b, "event_type").join(n_u, "event_type").join(
        n_i, "event_type"
    )

    def _ok(est_c, ex_c, tol):
        return (
            F.abs(F.col(est_c) - F.col(ex_c))
            <= F.lit(tol) * F.col(ex_c).cast("double")
        ).cast("int")

    return exact.join(est, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        "n_union",
        "n_inter",
        _ok("est_a", "n_a", 0.15).alias("ok_a"),
        _ok("est_b", "n_b", 0.15).alias("ok_b"),
        _ok("est_union", "n_union", 0.15).alias("ok_union"),
        _ok("est_intersection", "n_inter", 0.25).alias("ok_inter"),
    )


def q_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile rollup (sketch.sample_sketch /
    sample_quantiles — the quantile tier next to hll_rollup): per
    returnflag, a bottom-512-by-hash uniform row sample of
    l_extendedprice (mergeable: daily samples roll up to months by
    keeping the hash-smallest k of the union, no re-scan) and the
    p25/p50/p95 estimates read off the sample. Driver row: exact
    group count/min/max (SQL anchors) plus bound flags — each sample
    quantile must land between the EXACT percentiles at p ± 4 rank
    standard errors (sigma = sqrt(p(1-p)/512)), both sides computed in
    Spark; the oracle pins the flags at 1, so an estimator drifting
    past 4 sd (or a broken merge) hash-mismatches. Seed-fixed hash
    makes the sample — and so every flag — deterministic."""
    from eclipse_spark.operators.sketch import (
        sample_quantiles,
        sample_sketch,
    )

    li = _t(spark, sf_dir, "lineitem")
    src = li.select(
        "l_returnflag",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        F.col("l_extendedprice").cast("double").alias("val"),
    )
    sk = sample_sketch(src, ["l_returnflag"], "val", "rid", k=512)
    q = sample_quantiles(sk, ["l_returnflag"], [0.25, 0.5, 0.95])
    # exact percentile bounds at p +- 4*sqrt(p(1-p)/512)
    ex = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min(F.col("l_extendedprice").cast("double")).alias("min_price"),
        F.max(F.col("l_extendedprice").cast("double")).alias("max_price"),
        F.expr(
            "percentile(CAST(l_extendedprice AS DOUBLE), "
            "array(0.1734d, 0.3266d, 0.4116d, 0.5884d, 0.9115d, 1.0d))"
        ).alias("_b"),
    )

    def _ok(qc, lo_i, hi_i):
        return (
            (F.col(qc) >= F.element_at("_b", lo_i))
            & (F.col(qc) <= F.element_at("_b", hi_i))
        ).cast("int")

    return ex.join(q, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "min_price",
        "max_price",
        _ok("q_25", 1, 2).alias("ok_p25"),
        _ok("q_5", 3, 4).alias("ok_p50"),
        _ok("q_95", 5, 6).alias("ok_p95"),
    )


def q_storage_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy table branching (Catalog.branch — shallow-clone via
    hard links, no data copied) driving the experiment workflow it
    exists for: branch the orders table, run a backfill on the BRANCH
    (merge-upsert +1.00 on every third orderkey), and roll both tables
    up side by side. The source must be bit-untouched (base_total) and
    the branch exactly diverged (exp_total = base + n/3 dollars) — a
    branch that aliased its source's files mutably, or a merge that
    leaked across the hard links, breaks the relational oracle. The
    result is materialized before the scratch catalog is removed."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    work = tempfile.mkdtemp(prefix="eclipse_branch_")
    try:
        cat = Catalog(spark, work)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        cat.put("t", orders)
        cat.branch("t", "exp")
        upd = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
        )
        cat.merge("exp", upd, on=["o_orderkey"])
        base = cat.get("t").groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("n_orders"),
            _dsum("o_totalprice", "base_total", 2),
        )
        exp = cat.get("exp").groupBy("o_orderstatus").agg(
            _dsum("o_totalprice", "exp_total", 2),
        )
        out = base.join(exp, "o_orderstatus").select(
            "o_orderstatus", "n_orders", "base_total", "exp_total"
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dedup (VERDICT r10 task 8's suggested capability:
    dedup_stream x MinHash): the documents corpus plus planted
    near-duplicates (every 10th doc re-emitted at id+100000 with
    doubled spaces — whitespace tokenization makes them shingle-exact)
    arrives as TWO finite streams that union and flow through
    dedup.minhash_bucket_rollup — a per-ROW portable MinHash signature
    (HOF projection, no per-doc aggregation, so Structured Streaming's
    single allowed aggregation remains the stateful bucket rollup) →
    4 bands x 4 rows band keys → groupBy(band, bh) with min-id
    representative and count. The drained complete-mode result equals
    the batch rollup (order-independent aggregates), so the oracle
    replays the exact portable hash family relationally
    (_sql_minhash_sig / _sql_minhash_band_rows) and keeps buckets with
    n_docs >= 2 — every planted duplicate must co-bucket with its
    original in all 4 bands (identical shingle sets => identical
    signatures), and a single flipped signature bit, band-hash
    mismatch, or dropped stream row hash-mismatches. State is one row
    per distinct (band, bh) — bounded by corpus content, not stream
    length."""
    from eclipse_spark.operators.dedup import minhash_bucket_rollup

    docs_path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(docs_path).schema
    originals = stream_windows.stream_from_parquet(
        spark, os.path.join(sf_dir, "documents.*"), raw_schema
    ).select("doc_id", "text")
    planted = (
        stream_windows.stream_from_parquet(
            spark, os.path.join(sf_dir, "documents.*"), raw_schema
        )
        .filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.regexp_replace("text", " ", "  ").alias("text"),
        )
    )
    rollup = minhash_bucket_rollup(
        originals.unionByName(planted),
        num_hashes=16,
        bands=4,
        shingle_k=5,
    )
    stream_windows.run_stream_to_memory(
        rollup, "stream_near_dedup", "complete"
    )
    return spark.table("stream_near_dedup").filter(F.col("n_docs") >= 2)


def q_lineage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run LINEAGE / AUDIT-TRAIL over the storage version history
    + semantic cache (VERDICT r10 task 8's suggested op — both halves
    existed, this composes them into the audit a training-data
    pipeline actually runs: "which cached artifacts are STALE vs the
    table versions they derive from?"). Timeline on a scratch Catalog
    (retain_versions=3) + SemanticCache: put a base orders extract
    (v1) → app_a derives a per-bucket rollup from v1 and caches it →
    MERGE upsert (v2) → app_a re-runs and is served from cache (1 hit
    — now STALE lineage: built_version 1 < current) → second MERGE
    (v3) → app_b derives from v3 and caches (fresh). The result is
    the audit trail: one row per retained table version with its
    recomputed row count (kind='table', versions 1-3 via time travel)
    and one row per cache entry with the table version it was built
    against, its row count, staleness, and hit count. The oracle
    reconstructs every version's state relationally (merge = anti-join
    survivors + updates), so a lost version directory, a cache that
    silently recomputed (hit count), a stale flag pointing at the
    wrong version, or a version that lost rows all hash-mismatch."""
    import tempfile

    from eclipse_spark.semcache import SemanticCache
    from eclipse_spark.storage import Catalog

    cat = Catalog(
        spark, tempfile.mkdtemp(prefix="eclipse_lineage_"), retain_versions=3
    )
    cache = SemanticCache(
        spark, tempfile.mkdtemp(prefix="eclipse_lineage_sc_")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.put("lin_orders", orders.filter(F.col("o_orderkey") % 3 == 0))

    def app_a():
        return (
            cat.get("lin_orders")
            .groupBy((F.col("o_custkey") % 20).alias("bucket"))
            .agg(F.count("*").cast("long").alias("n"))
        )

    built_a = cat.info("lin_orders").version  # 1
    _, hit_a0 = cache.get_or_compute("lineage_app_a", app_a)
    cat.merge(
        "lin_orders",
        orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
        ),
        on=["o_orderkey"],
    )
    res_a, hit_a1 = cache.get_or_compute("lineage_app_a", app_a)
    cat.merge(
        "lin_orders",
        orders.filter(F.col("o_orderkey") % 7 == 3).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(2.0)
        ),
        on=["o_orderkey"],
    )

    def app_b():
        return (
            cat.get("lin_orders")
            .groupBy((F.col("o_custkey") % 7).alias("bucket"))
            .agg(F.count("*").cast("long").alias("n"))
        )

    built_b = cat.info("lin_orders").version  # 3
    res_b, _ = cache.get_or_compute("lineage_app_b", app_b)
    cur = cat.info("lin_orders").version

    def _audit_row(kind, name, version, src, stale, hits):
        return src.agg(F.count("*").cast("long").alias("n_rows")).select(
            F.lit(kind).alias("kind"),
            F.lit(name).alias("name"),
            F.lit(version).cast("long").alias("version"),
            "n_rows",
            F.lit(int(stale)).cast("long").alias("stale"),
            F.lit(int(hits)).cast("long").alias("n_hits"),
        )

    parts = [
        _audit_row(
            "table",
            "lin_orders",
            v,
            cat.get("lin_orders", version=v),
            False,
            0,
        )
        for v in [*cat.history("lin_orders"), cur]
    ]
    parts.append(
        _audit_row(
            "cache", "lineage_app_a", built_a, res_a, built_a < cur,
            int(hit_a0) + int(hit_a1),
        )
    )
    parts.append(
        _audit_row(
            "cache", "lineage_app_b", built_b, res_b, built_b < cur, 0
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_stream_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dedup for the AUDIO modality (VERDICT r11 task
    7's second suggested composition: the `minhash_bucket_rollup`
    pattern applied to the banded media fingerprints): clip ids arrive
    as two finite streams — originals plus every 10th id re-emitted at
    id+100000 whose tone is synthesized from the ORIGINAL seed, so the
    planted copy is fingerprint-identical — and flow through REAL
    WAV synthesis (encode_tone_wav) → REAL decode + energy-envelope
    fingerprint (audio_fingerprint_bands), both stateless Arrow
    mapInPandas stages legal under streaming, into ONE stateful
    aggregation: multimodal.fingerprint_bucket_rollup's
    groupBy(band, bkey) with min-id representative and count. The
    drained complete-mode result equals the batch rollup
    (order-independent aggregate), so the oracle replays the integer
    fingerprint formula relationally and keeps buckets with n_clips
    >= 2 — every planted clip must co-bucket with its original in all
    4 bands, and a flipped energy bit, wrong band key, or dropped
    stream row hash-mismatches. State is one row per distinct
    (band, bkey) — bounded by the 4 x 2^16 keyspace, not stream
    length; bytes are born and die inside each stage (never shuffle,
    never enter state)."""
    docs_path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(docs_path).schema
    originals = stream_windows.stream_from_parquet(
        spark, os.path.join(sf_dir, "documents.*"), raw_schema
    ).select(F.col("doc_id").alias("id"))
    planted_seeds = (
        stream_windows.stream_from_parquet(
            spark, os.path.join(sf_dir, "documents.*"), raw_schema
        )
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("id"))
    )
    wav_o = multimodal.encode_tone_wav(originals)
    wav_p = multimodal.encode_tone_wav(planted_seeds).select(
        (F.col("id") + 100000).alias("id"), "bytes"
    )
    fp = multimodal.audio_fingerprint_bands(wav_o.unionByName(wav_p))
    rollup = multimodal.fingerprint_bucket_rollup(fp)
    stream_windows.run_stream_to_memory(
        rollup, "stream_audio_dedup", "complete"
    )
    return spark.table("stream_audio_dedup").filter(F.col("n_clips") >= 2)


def q_stream_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dedup for the VIDEO modality — completes the
    streaming triad (text r11, audio + video r12): ids arrive as two
    finite streams (originals plus every 10th re-synthesized FROM THE
    ORIGINAL SEED and re-keyed at id+100000, so the planted copy is
    per-frame hash-identical), flow through REAL video synthesis
    (encode_textured_video) → REAL EBMV container walks + per-frame
    dHash (video_dhash_bands) — stateless Arrow stages — into the ONE
    stateful aggregation multimodal.video_bucket_rollup provides:
    groupBy(frame_idx, band, bkey) with min-id representative and
    count, the exact bucketing of the batch temporal-aligned join.
    Drained complete-mode result equals the batch rollup, so the
    oracle replays the pixel formula relationally and keeps buckets
    with n_videos >= 2: every planted video must co-bucket with its
    original at EVERY frame index in all 4 bands. State is one row
    per distinct (frame_idx, band, bkey) — bounded by frame classes x
    the 16-bit keyspace, not stream length; container bytes never
    shuffle or enter state."""
    docs_path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(docs_path).schema
    originals = stream_windows.stream_from_parquet(
        spark, os.path.join(sf_dir, "documents.*"), raw_schema
    ).select(F.col("doc_id").alias("id"))
    planted_seeds = (
        stream_windows.stream_from_parquet(
            spark, os.path.join(sf_dir, "documents.*"), raw_schema
        )
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("id"))
    )
    vid_o = multimodal.encode_textured_video(originals)
    vid_p = multimodal.encode_textured_video(planted_seeds).select(
        (F.col("id") + 100000).alias("id"), "bytes"
    )
    hs = multimodal.video_dhash_bands(vid_o.unionByName(vid_p))
    rollup = multimodal.video_bucket_rollup(hs)
    stream_windows.run_stream_to_memory(
        rollup, "stream_video_dedup", "complete"
    )
    return spark.table("stream_video_dedup").filter(F.col("n_videos") >= 2)


def q_media_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL media near-dup (multimodal.dhash_pairs_against) —
    the refresh-run shape for the banded media family, completing the
    incremental story across modalities (text has
    `incremental_dedup`/`_cached`; this is the image/audio
    equivalent): the EXISTING corpus (textured BMPs of doc_id % 4 !=
    0, i.e. 75% — already deduped and signed in production) is joined
    new x ref ONLY against a NEW batch (doc_id % 4 == 0 plus
    byte-identical copies of every ref image with doc_id % 8 == 1,
    re-keyed +100000 — planted cross-set duplicates that MUST flag).
    Never ref x ref; hashes are the only thing of the ref side that
    enters the join (4 smallints per image — the persisted-index
    shape). Output is the flagged pair list (id_new, id_ref,
    hamming); the oracle replays both sides' pixel-formula dHashes
    and the exhaustive cross-set Hamming join, so a missed plant, a
    phantom pair, or one flipped gradient bit hash-mismatches."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    ref_ids = docs.filter(F.col("id") % 4 != 0)
    new_ids = docs.filter(F.col("id") % 4 == 0)
    ref_imgs = multimodal.encode_textured_bmp(ref_ids)
    # plant-before-encode (r14): same bytes, no second full-ref-corpus
    # encode pass for the plant slice (see q_media_dhash)
    new_imgs = multimodal.encode_textured_bmp(new_ids).unionByName(
        multimodal.encode_textured_bmp(
            ref_ids.filter(F.col("id") % 8 == 1)
        ).select((F.col("id") + 100000).alias("id"), "bytes")
    )
    out = multimodal.dhash_pairs_against(
        multimodal.dhash_bands(new_imgs),
        multimodal.dhash_bands(ref_imgs),
        max_hamming=3,
    )
    return out


def q_media_index_refresh(
    spark: SparkSession, sf_dir: str, max_pairs: int | None = 20_000_000
) -> DataFrame:
    """The PRODUCTION refresh shape of incremental media dedup
    (multimodal.dhash_index_ref + dhash_pairs_against_index —
    `incremental_dedup_cached`'s media analogue): the reference
    corpus's banded fingerprint table is precomputed ONCE into a
    bucketed catalog artifact (4 smallints + band key per image,
    bucketed on (tbl, bkey) so the refresh join pre-shuffles the ref
    side at write time), and the daily batch joins against the STORED
    index — on a refresh run the 100 TB reference corpus's bytes are
    never decoded, never hashed, never even scanned. Same corpora,
    plants, and semantics as media_incremental_dedup, so the same
    oracle must reproduce the result exactly (a wrong index build, a
    stale bucket, or a broken index-side join all hash-mismatch). The
    result is materialized before the scratch catalog is removed (no
    residue across driver runs). NOTE (VERDICT r13 task 7): the
    `out.collect()` below is NOT the production pattern — it is
    bounded by the flagged-pair set and exists only so the result
    outlives the scratch catalog this self-contained demo tears down;
    a production refresh writes the pairs to a table instead
    (multimodal.dhash_refresh_to_table — do not copy the collect into
    a pipeline)."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    ref_ids = docs.filter(F.col("id") % 4 != 0)
    new_ids = docs.filter(F.col("id") % 4 == 0)
    ref_imgs = multimodal.encode_textured_bmp(ref_ids)
    # plant-before-encode (r14): same bytes, no second full-ref-corpus
    # encode pass for the plant slice (see q_media_dhash)
    new_imgs = multimodal.encode_textured_bmp(new_ids).unionByName(
        multimodal.encode_textured_bmp(
            ref_ids.filter(F.col("id") % 8 == 1)
        ).select((F.col("id") + 100000).alias("id"), "bytes")
    )
    work = tempfile.mkdtemp(prefix="eclipse_dhash_idx_")
    table = "dhash_ref_index_demo"
    try:
        cat = Catalog(spark, os.path.join(work, "cat"))
        multimodal.dhash_index_ref(
            cat, multimodal.dhash_bands(ref_imgs), table=table
        )
        out = multimodal.dhash_pairs_against_index(
            multimodal.dhash_bands(new_imgs),
            cat.get_table(table),
            max_hamming=3,
            max_pairs=max_pairs,
        )
        rows, schema = out.collect(), out.schema
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_stream_media_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental media refresh — the stream-STATIC join
    face of media_index_refresh, and the registry's first stream-static
    join (the streaming surface the prior stream queries don't cover:
    stream-stream interval joins, stateful rollups, and upserts exist;
    joining a stream against a STORED reference artifact did not). The
    reference corpus's banded fingerprint index is built ONCE in batch
    (multimodal.dhash_index_ref — the bucketed catalog artifact), then
    the daily batch arrives as finite streams: new ids (doc_id % 4 ==
    0) plus planted cross-set duplicates (ref ids with doc_id % 8 ==
    1, re-synthesized FROM THE ORIGINAL SEED and re-keyed +100000, so
    the plant is byte-identical — the stream_audio_dedup trick). Each
    micro-batch flows through REAL BMP synthesis + dHash (stateless
    Arrow stages), the stream-static bucket join against the index
    (static side never enters state), the stateless full-hash Hamming
    verify, and ONE stateful min-hamming rollup whose state is the
    near-pair set only. The drained result equals the batch join
    bit-for-bit, so the SAME oracle as media_incremental_dedup /
    media_index_refresh applies — a dropped micro-batch, a stale
    static read, or a wrong plant seed all hash-mismatch."""
    import shutil
    import tempfile

    from eclipse_spark.storage import Catalog

    docs_path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(docs_path).schema
    ref_ids = (
        spark.read.parquet(docs_path)
        .select(F.col("doc_id").alias("id"))
        .filter(F.col("id") % 4 != 0)
    )
    work = tempfile.mkdtemp(prefix="eclipse_stream_idx_")
    table = "dhash_stream_ref_index"
    try:
        cat = Catalog(spark, os.path.join(work, "cat"))
        multimodal.dhash_index_ref(
            cat,
            multimodal.dhash_bands(multimodal.encode_textured_bmp(ref_ids)),
            table=table,
        )
        index = cat.get_table(table)
        new_ids = (
            stream_windows.stream_from_parquet(
                spark, os.path.join(sf_dir, "documents.*"), raw_schema
            )
            .filter(F.col("doc_id") % 4 == 0)
            .select(F.col("doc_id").alias("id"))
        )
        plant_seeds = (
            stream_windows.stream_from_parquet(
                spark, os.path.join(sf_dir, "documents.*"), raw_schema
            )
            .filter((F.col("doc_id") % 4 != 0) & (F.col("doc_id") % 8 == 1))
            .select(F.col("doc_id").alias("id"))
        )
        imgs_n = multimodal.encode_textured_bmp(new_ids)
        imgs_p = multimodal.encode_textured_bmp(plant_seeds).select(
            (F.col("id") + 100000).alias("id"), "bytes"
        )
        pairs = multimodal.dhash_pairs_against_index_stream(
            multimodal.dhash_bands(imgs_n.unionByName(imgs_p)),
            index,
            max_hamming=3,
        )
        stream_windows.run_stream_to_memory(
            pairs, "stream_media_refresh", "complete"
        )
        out = spark.table("stream_media_refresh")
        rows, schema = out.collect(), out.schema
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_media_audio_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHIFT-ROBUST audio near-dup — the windowed-fingerprint view
    that catches head-trimmed re-takes the whole-clip fingerprint
    cannot (a trim shifts EVERY frame energy, scrambling all 64 bits):
    long tone clips (2080 + id%509 samples → 9-13 sliding 65-frame
    windows at hop 8) + exact planted copies (every 10th, id+100000 —
    surface at shift 0 with every window close) + REAL head-trimmed
    re-takes (every 20th, id+300000, first 128 samples = one hop
    removed by trim_wav_head's actual RIFF surgery — their windows
    equal the original's at index+1, so they surface at shift 1 with
    all surviving windows close). audio_window_bands emits
    (id, window_idx, b0..b3) SCHEMA-COMPATIBLE with video_dhash_bands,
    so the offset-enumerated temporal join
    (multimodal.video_near_pairs_shifted) is reused VERBATIM — one
    temporal-alignment engine, two modalities. The oracle replays
    every sample, window, band, the shift enumeration, and the
    deterministic best-shift pick. Scale posture identical to the
    video shifted path: slim rows only, pre-join volume audit."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    wavs = multimodal.encode_tone_wav(ids, base_samples=2080, mod=509)
    # plant-before-encode (r14): the tone encoder is a pure row-wise
    # function of (id, base_samples, mod), so encoding only each plant
    # slice yields the same bytes without re-running the full-corpus
    # kernel once per union branch (this query had THREE references)
    planted = multimodal.encode_tone_wav(
        ids.filter(F.col("id") % 10 == 0), base_samples=2080, mod=509
    ).select((F.col("id") + 100000).alias("id"), "bytes")
    trimmed = multimodal.trim_wav_head(
        multimodal.encode_tone_wav(
            ids.filter(F.col("id") % 20 == 0), base_samples=2080, mod=509
        ),
        n_samples=128,
    ).select((F.col("id") + 300000).alias("id"), "bytes")
    corpus = wavs.unionByName(planted).unionByName(trimmed)
    hs = multimodal.audio_window_bands(corpus)
    out = multimodal.video_near_pairs_shifted(
        hs, max_hamming=3, min_frames=2, max_shift=2
    )
    return out.select(
        "id_a", "id_b", F.col("shift").cast("long").alias("shift"),
        "n_close", "sum_hamming",
    )


def q_media_video_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHIFT-ROBUST video near-dup (multimodal.video_near_pairs_shifted
    — the offset-enumeration upgrade the strict operator's docstring
    names): textured videos + exact planted copies (every 10th,
    id+100000 — must surface at shift 0 with all frames close) + REAL
    head-trimmed re-cuts (every 20th, id+300000, first frame removed
    by trim_video_head's actual EBMV container surgery — invisible to
    strict alignment, must surface at shift 1 with the 2 surviving
    frames close). Per (pair, shift) the aligned-frame verify is the
    strict kernel; each pair keeps its best shift (max n_close, min
    sum_hamming, min shift — deterministic). The oracle replays the
    pixel formula WITH the trim offset (frame g of a trimmed video is
    the original's g+1) and the full shift enumeration, so a missed
    re-cut, a wrong best-shift pick, or one flipped gradient bit all
    hash-mismatch. Scale: b-side banded rows explode x5 (shift range)
    — only (id, frame_idx, k, 4 smallints) shuffle; the pre-join
    audit raises with the measured volume before a saturated join."""
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    full = multimodal.encode_textured_video(ids)
    # plant-before-encode (r14): the video encoder is a pure row-wise
    # function of id, so encoding only each plant slice yields the
    # same bytes without re-running the heaviest kernel in the suite
    # once per union branch (this query had THREE references)
    planted = multimodal.encode_textured_video(
        ids.filter(F.col("id") % 10 == 0)
    ).select((F.col("id") + 100000).alias("id"), "bytes")
    trimmed = multimodal.trim_video_head(
        multimodal.encode_textured_video(ids.filter(F.col("id") % 20 == 0)), n=1
    ).select((F.col("id") + 300000).alias("id"), "bytes")
    corpus = full.unionByName(planted).unionByName(trimmed)
    hs = multimodal.video_dhash_bands(corpus)
    out = multimodal.video_near_pairs_shifted(
        hs, max_hamming=3, min_frames=2, max_shift=2
    )
    return out.select(
        "id_a", "id_b", F.col("shift").cast("long").alias("shift"),
        "n_close", "sum_hamming",
    )


def q_cross_modal_curation(
    spark: SparkSession, sf_dir: str, max_pairs: int = 20_000_000
) -> DataFrame:
    """CROSS-MODALITY curation run sharing ONE semantic cache (VERDICT
    r11 task 7's named composition): three modality pipelines — text,
    image, audio — all start from the SAME quality-gated survivor
    prefix over the documents corpus, expressed as an identical staged
    Pipeline chain under three different app keys. The text run (cold)
    computes and MATERIALIZES the prefix; the image and audio runs
    must each serve it from the cache on their own cold runs — the
    cross-modality subplan reuse `semcache.note_subplan`/`stage()`
    implements, observed as exactly one interior hit per follower
    while every full-plan (app-keyed) lookup misses. Each modality
    then runs its REAL dedup kernel over the shared survivors + that
    modality's planted duplicates (every 10th survivor, id+100000,
    byte/text-identical): text groups by exact text, image runs
    encode_textured_bmp → dhash_bands → dhash_near_pairs, audio runs
    encode_tone_wav → audio_fingerprint_bands → dhash_near_pairs. One
    row per modality: corpus/pair/drop/keep accounting + the cache
    observations. The oracle replays the gate, all three fingerprint
    formulas, and the expected cache behavior as literals — a missed
    interior reuse, a false full-plan hit, a wrong survivor set, or
    one flipped fingerprint bit all hash-mismatch. Scale: the prefix
    materializes once (at 100 TB that is the point — the gate scan is
    the expensive shared stage), each banded join is the guarded
    engine, and the only collects are O(1) scalars."""
    import shutil
    import tempfile

    from eclipse_spark.semcache import SemanticCache

    cache_root = tempfile.mkdtemp(prefix="eclipse_xmodal_")
    cache = SemanticCache(spark, cache_root)
    path = os.path.join(sf_dir, "documents.parquet")
    try:
        return _xmodal_body(spark, cache, path, max_pairs)
    finally:
        # every cache-backed read is consumed (counted/collected)
        # inside the body — the returned frame is a literal
        # createDataFrame — so the materialized parquet cache dir can
        # go as soon as the rows exist (ADVICE r12: repeated bench/
        # driver runs in one session were accumulating these dirs).
        shutil.rmtree(cache_root, ignore_errors=True)


def _xmodal_body(
    spark: SparkSession, cache, path: str, max_pairs: int = 20_000_000
) -> DataFrame:

    def gate(app: str) -> Pipeline:
        return (
            Pipeline.from_parquet(spark, path, app=app)
            .select("doc_id", "text")
            .filter("length(text) >= 240")
            .stage()
        )

    gated_t, t_full = gate("xmodal_text").cached(cache).run()
    h0 = cache.stats.hits
    gated_i, i_full = gate("xmodal_image").cached(cache).run()
    i_int = cache.stats.hits - h0
    h1 = cache.stats.hits
    gated_a, a_full = gate("xmodal_audio").cached(cache).run()
    a_int = cache.stats.hits - h1

    def planted_ids(gated: DataFrame) -> DataFrame:
        return gated.filter(F.col("doc_id") % 10 == 0)

    # text: exact-content groups over survivors + planted copies
    t_corpus = gated_t.unionByName(
        planted_ids(gated_t).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    t_stats = (
        t_corpus.groupBy("text")
        .agg(F.count("*").alias("n"))
        .agg(
            F.sum("n").cast("long").alias("n_corpus"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2)
            .cast("long")
            .alias("n_pairs"),
            F.sum(F.col("n") - 1).cast("long").alias("n_dropped"),
        )
        .collect()[0]
    )

    # corpus sizes derive from the (cache-materialized) gated frame —
    # never from a second pass over the encoded bytes: n_corpus =
    # survivors + every-10th planted replica, by construction
    n_source = gated_t.count()
    n_plant = gated_t.filter(F.col("doc_id") % 10 == 0).count()
    n_corpus_media = n_source + n_plant

    def media_stats(corpus_pairs, n_corpus: int):
        dropped = corpus_pairs.select("id_b").distinct().count()
        return corpus_pairs.count(), dropped, n_corpus - dropped

    # image: survivors' textured BMPs + byte-identical planted copies
    ids_i = gated_i.select(F.col("doc_id").alias("id"))
    imgs = multimodal.encode_textured_bmp(ids_i)
    # plant-before-encode (r14): same bytes, no second full-corpus
    # encode pass for the union branch (see q_media_dhash)
    i_corpus = imgs.unionByName(
        multimodal.encode_textured_bmp(
            ids_i.filter(F.col("id") % 10 == 0)
        ).select((F.col("id") + 100000).alias("id"), "bytes")
    )
    n_corpus_i = n_corpus_media
    i_pairs, i_dropped, i_kept = media_stats(
        multimodal.dhash_near_pairs(
            multimodal.dhash_bands(i_corpus), max_hamming=3,
            max_pairs=max_pairs,
        ),
        n_corpus_i,
    )

    # audio: survivors' tone WAVs + byte-identical planted copies
    ids_a = gated_a.select(F.col("doc_id").alias("id"))
    wavs = multimodal.encode_tone_wav(ids_a)
    # plant-before-encode (r14): same bytes, no second full-corpus
    # encode pass for the union branch (see q_media_dhash)
    a_corpus = wavs.unionByName(
        multimodal.encode_tone_wav(
            ids_a.filter(F.col("id") % 10 == 0)
        ).select((F.col("id") + 100000).alias("id"), "bytes")
    )
    n_corpus_a = n_corpus_media
    a_pairs, a_dropped, a_kept = media_stats(
        multimodal.dhash_near_pairs(
            multimodal.audio_fingerprint_bands(a_corpus), max_hamming=3,
            max_pairs=max_pairs,
        ),
        n_corpus_a,
    )
    rows = [
        (
            "text",
            n_source,
            int(t_stats["n_corpus"]),
            int(t_stats["n_pairs"]),
            int(t_stats["n_dropped"]),
            int(t_stats["n_corpus"]) - int(t_stats["n_dropped"]),
            int(t_full),
            0,
        ),
        (
            "image", n_source, n_corpus_i, i_pairs, i_dropped, i_kept,
            int(i_full), int(i_int),
        ),
        (
            "audio", n_source, n_corpus_a, a_pairs, a_dropped, a_kept,
            int(a_full), int(a_int),
        ),
    ]
    return spark.createDataFrame(
        rows,
        "modality string, n_source long, n_corpus long, n_pairs long, "
        "n_dropped long, n_kept long, full_hit long, prefix_hits long",
    )


def q_cross_modal_incremental(
    spark: SparkSession, sf_dir: str, max_pairs: int | None = 20_000_000
) -> DataFrame:
    """INCREMENTAL CROSS-MODALITY refresh (VERDICT r12 task 8 — the
    `media_incremental_dedup` x `cross_modal_curation` product): the
    daily-batch shape a production training-data pipeline actually
    runs. Yesterday's curated corpus (doc_id % 4 != 0 survivors of the
    length >= 240 quality gate) is already deduped and SIGNED; today's
    batch (doc_id % 4 == 0) flows through the SAME survivor gate
    expressed as an identical staged Pipeline prefix under three
    modality app keys sharing ONE semantic cache — the text run (cold)
    materializes the gated batch once, the image and audio runs each
    serve it as an interior-subplan hit (full-plan lookups miss: the
    app key differs). Each modality then dedups new x ref ONLY against
    its persisted-index analogue via the incremental engine — never
    ref x ref: text joins on exact content, image runs
    encode_textured_bmp -> dhash_bands -> dhash_pairs_against, audio
    runs encode_tone_wav -> audio_fingerprint_bands ->
    dhash_pairs_against. Planted cross-set duplicates (every ref
    survivor with doc_id % 8 == 1, re-keyed +200000 with bytes/text
    copied verbatim) MUST flag in all three modalities. One row per
    modality: batch/ref/pair/flag/keep accounting + the cache
    observations. The oracle replays the gate, the exact-text join,
    both fingerprint formulas, the exhaustive cross-set Hamming joins
    (recall-equal to the banded engine at max_hamming <= 3 by
    pigeonhole), and the expected cache behavior as literals. Scale:
    the gate scan of the batch materializes once (O(batch), not
    O(corpus x modalities)); each banded join touches the ref side
    only through its 4-smallint hash index and is volume-audited
    before scheduling; the only collects are O(1) scalars."""
    import shutil
    import tempfile

    from eclipse_spark.semcache import SemanticCache

    cache_root = tempfile.mkdtemp(prefix="eclipse_xinc_")
    cache = SemanticCache(spark, cache_root)
    path = os.path.join(sf_dir, "documents.parquet")
    try:
        return _xinc_body(spark, cache, path, max_pairs)
    finally:
        shutil.rmtree(cache_root, ignore_errors=True)


def _xinc_body(
    spark: SparkSession,
    cache,
    path: str,
    max_pairs: int | None = 20_000_000,
) -> DataFrame:

    def gate(app: str) -> Pipeline:
        return (
            Pipeline.from_parquet(spark, path, app=app)
            .select("doc_id", "text")
            .filter("doc_id % 4 = 0 AND length(text) >= 240")
            .stage()
        )

    new_t, t_full = gate("xinc_text").cached(cache).run()
    h0 = cache.stats.hits
    new_i, i_full = gate("xinc_image").cached(cache).run()
    i_int = cache.stats.hits - h0
    h1 = cache.stats.hits
    new_a, a_full = gate("xinc_audio").cached(cache).run()
    a_int = cache.stats.hits - h1

    ref = (
        spark.read.parquet(path)
        .filter((F.col("doc_id") % 4 != 0) & (F.length("text") >= 240))
        .select("doc_id", "text")
    )
    plants = ref.filter(F.col("doc_id") % 8 == 1)
    n_base = new_t.count()
    # one scan of ref for both scalars (r14: two counts = two driver
    # actions over the same frame; the loop family is action-bound)
    _refrow = ref.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("doc_id") % 8 == 1, 1).otherwise(0)).alias("p"),
    ).collect()[0]
    n_ref, n_plant = int(_refrow["n"]), int(_refrow["p"])
    n_new = n_base + n_plant

    def accounting(pairs: DataFrame) -> tuple[int, int]:
        # one action for both scalars (pairs is checkpoint-backed)
        row = pairs.agg(
            F.count("*").alias("c"),
            F.count_distinct(F.col("id_new")).alias("d"),
        ).collect()[0]
        return int(row["c"]), int(row["d"])

    # text: exact-content new x ref join (the persisted index is the
    # ref side's content hash; equality join stands in bit-for-bit)
    t_corpus = new_t.unionByName(
        plants.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    )
    t_pairs, t_flagged = accounting(
        t_corpus.alias("n")
        .join(ref.alias("r"), F.col("n.text") == F.col("r.text"))
        .select(
            F.col("n.doc_id").alias("id_new"),
            F.col("r.doc_id").alias("id_ref"),
        )
    )

    # image: dHash index, new x ref only
    ref_imgs = multimodal.encode_textured_bmp(
        ref.select(F.col("doc_id").alias("id"))
    )
    # plant-before-encode (r14): same bytes, no second full-ref-corpus
    # encode pass for the plant slice (see q_media_dhash)
    i_corpus = multimodal.encode_textured_bmp(
        new_i.select(F.col("doc_id").alias("id"))
    ).unionByName(
        multimodal.encode_textured_bmp(
            ref.select(F.col("doc_id").alias("id")).filter(
                F.col("id") % 8 == 1
            )
        ).select((F.col("id") + 200000).alias("id"), "bytes")
    )
    i_pairs, i_flagged = accounting(
        multimodal.dhash_pairs_against(
            multimodal.dhash_bands(i_corpus),
            multimodal.dhash_bands(ref_imgs),
            max_hamming=3,
            max_pairs=max_pairs,
        )
    )

    # audio: energy-fingerprint index, new x ref only
    ref_wavs = multimodal.encode_tone_wav(
        ref.select(F.col("doc_id").alias("id"))
    )
    # plant-before-encode (r14): same bytes, no second full-ref-corpus
    # encode pass for the plant slice (see q_media_dhash)
    a_corpus = multimodal.encode_tone_wav(
        new_a.select(F.col("doc_id").alias("id"))
    ).unionByName(
        multimodal.encode_tone_wav(
            ref.select(F.col("doc_id").alias("id")).filter(
                F.col("id") % 8 == 1
            )
        ).select((F.col("id") + 200000).alias("id"), "bytes")
    )
    a_pairs, a_flagged = accounting(
        multimodal.dhash_pairs_against(
            multimodal.audio_fingerprint_bands(a_corpus),
            multimodal.audio_fingerprint_bands(ref_wavs),
            max_hamming=3,
            max_pairs=max_pairs,
        )
    )

    rows = [
        ("text", n_new, n_ref, t_pairs, t_flagged, n_new - t_flagged,
         int(t_full), 0),
        ("image", n_new, n_ref, i_pairs, i_flagged, n_new - i_flagged,
         int(i_full), int(i_int)),
        ("audio", n_new, n_ref, a_pairs, a_flagged, n_new - a_flagged,
         int(a_full), int(a_int)),
    ]
    return spark.createDataFrame(
        rows,
        "modality string, n_new long, n_ref long, n_pairs long, "
        "n_flagged long, n_kept long, full_hit long, prefix_hits long",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is deliberate: the driver's CORRECTNESS gate
    checks the FIRST 50 keys. Every registry key has a driver-green
    hash-exact row in some round, so the discipline is FRESHNESS
    (VERDICT r10 task 7, continued every round since): the round-14
    window leads with the two round-14 additions (ann_ivf_refresh and
    its streaming face ann_ivf_refresh_stream — same-round evidence
    discipline), then rotates onto the LEAST-RECENTLY-CONFIRMED tail
    exactly as VERDICT r13 task 5 directs: ALL 32 keys of the r05
    remainder (data_profile — restored to the gate after the r13
    off-by-one silently excluded it at position 51 (ADVICE r13) —
    through the window families), ALL 15 r06 keys, and the
    alphabetically-first key of the 32-key r07 block
    (activity_islands). After this window lands the oldest evidence
    is r07's 31-key remainder — the r05/r06 tail is retired entirely
    and the histogram bottoms at r07. The
    reorder is applied by ``_R14_WINDOW`` below over the stable
    literal, so no key is ever duplicated (the window's size and
    registry membership are pinned by
    tests/test_round14_fixes.py::test_r14_window_is_exactly_50_registry_keys).
    Queries rotated out retain a prior round's driver-green row, and
    every query at every position stays locally oracle-checked by
    tests/test_oracle_parity.py."""
    reg = {
        # ===== round-14 additions (same-round evidence discipline) =====
        "ann_ivf_refresh": q_ann_ivf_refresh,
        "ann_ivf_refresh_stream": q_ann_ivf_refresh_stream,
        # ===== round-13 additions =====
        "cross_modal_incremental": q_cross_modal_incremental,
        "media_index_refresh": q_media_index_refresh,
        "stream_media_refresh": q_stream_media_refresh,
        "semantic_incremental_dedup": q_semantic_incremental_dedup,
        "semantic_incremental_scaled": q_semantic_incremental_scaled,
        # ===== round-12 additions (same-round evidence discipline) =====
        "cross_modal_curation": q_cross_modal_curation,
        "media_video_shifted": q_media_video_shifted,
        "stream_audio_dedup": q_stream_audio_dedup,
        "stream_video_dedup": q_stream_video_dedup,
        "media_audio_shifted": q_media_audio_shifted,
        "media_incremental_dedup": q_media_incremental_dedup,
        # ===== round-11 additions (same-round evidence discipline) =====
        "stream_near_dedup": q_stream_near_dedup,
        "lineage_audit": q_lineage_audit,
        "media_audio_fingerprint": q_media_audio_fingerprint,
        "media_audio_pipeline": q_media_audio_pipeline,
        "media_video_near_dup": q_media_video_near_dup,
        # ===== round-10 additions (same-round evidence discipline) =====
        "media_dhash_wide": q_media_dhash_wide,
        "interval_join": q_interval_join,
        "cms_refresh": q_cms_refresh,
        "media_curation_pipeline": q_media_curation_pipeline,
        # ===== the last three never-driver-green queries (their real
        # DuckDB oracles landed in r9; VERDICT r9 task 2) =====
        "ann_ivf": q_ann_ivf,
        "approx_distinct": q_approx_distinct,
        "approx_quantiles": q_approx_quantiles,
        # ===== re-confirmations, weighted toward the code paths round
        # 10 touched (sketch NULL groups, CMS coalesce, auc_roc +
        # dHash lifecycles, get_many pin fallback, kcore delta
        # degrees) =====
        "kmv_overlap": q_kmv_overlap,
        "kmv_set_ops": q_kmv_set_ops,
        "quantile_rollup": q_quantile_rollup,
        "cms_join_size": q_cms_join_size,
        "cms_token_freq": q_cms_token_freq,
        "mg_heavy_hitters": q_mg_heavy_hitters,
        "heavy_hitters": q_heavy_hitters,
        "hll_rollup": q_hll_rollup,
        "auc_roc": q_auc_roc,
        "media_dhash": q_media_dhash,
        "skew_audit": q_skew_audit,
        "storage_branch": q_storage_branch,
        "storage_compact": q_storage_compact,
        "atomic_snapshot": q_atomic_snapshot,
        "time_travel": q_time_travel,
        "merge_upsert": q_merge_upsert,
        "storage_layouts": q_storage_layouts,
        "kcore": q_kcore,
        "ktruss": q_ktruss,
        "coreness": q_coreness,
        "triangle_count": q_triangle_count,
        "clustering_coeff": q_clustering_coeff,
        "cc_star": q_cc_star,
        "shortest_path": q_shortest_path,
        "semdedup": q_semdedup,
        "semdedup_autoscale": q_semdedup_autoscale,
        "semdedup_scaled": q_semdedup_scaled,
        "curation_pipeline": q_curation_pipeline,
        "substring_dedup": q_substring_dedup,
        "incremental_dedup": q_incremental_dedup,
        "table_diff": q_table_diff,
        "bloom_prune_join": q_bloom_prune_join,
        "apss_cosine": q_apss_cosine,
        "apss_jaccard": q_apss_jaccard,
        "vwap_bars": q_vwap_bars,
        "max_drawdown": q_max_drawdown,
        "k_anonymity": q_k_anonymity,
        "reid_summary": q_reid_summary,
        "events_stream_ivm": q_events_stream_ivm,
        # window cap: the three canonical reference apps + the
        # semantic-cache demo, the round-8 practice
        "word_count": q_word_count,
        "inverted_index": q_inverted_index,
        "aggregation": q_aggregation,
        "semcache_demo": q_semcache_demo,
        # ===== rotated out this round (driver-green in r09) =====
        "incremental_dedup_cached": q_incremental_dedup_cached,
        "lsh_s_curve": q_lsh_s_curve,
        "minhash_estimate": q_minhash_estimate,
        "semantic_decontaminate": q_semantic_decontaminate,
        "shard_balance": q_shard_balance,
        "mv_refresh": q_mv_refresh,
        "mv_refresh_join": q_mv_refresh_join,
        # ===== below the 50-line: everything here has a prior-round
        # driver row and stays locally oracle-checked =====
        "gopher_rules": q_gopher_rules,
        "feature_hash": q_feature_hash,
        "media_decode_wav": q_media_decode_wav,
        "media_audio_frames": q_media_audio_frames,
        "media_video_frames": q_media_video_frames,
        "semcache_subplan": q_semcache_subplan,
        "ohlc_bars": q_ohlc_bars,
        "events_stream_asof": q_events_stream_asof,
        "int8_quantize": q_int8_quantize,
        "ann_int8": q_ann_int8,
        "ann_pq_cached": q_ann_pq_cached,
        "dense_index": q_dense_index,
        "temporal_join": q_temporal_join,
        "fuzzy_join": q_fuzzy_join,
        "er_resolve": q_er_resolve,
        "bfs_distances": q_bfs_distances,
        "label_propagation": q_label_propagation,
        "pagerank": q_pagerank,
        "decontaminate": q_decontaminate,
        "minhash_dedup": q_minhash_dedup,
        "dedup_cc": q_dedup_cc,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "tpch_q9": q_tpch_q9,
        "tpch_q17": q_tpch_q17,
        "tpch_q18": q_tpch_q18,
        "tpch_q21": q_tpch_q21,
        # everything below retains its prior round's driver-green row
        # (CORRECTNESS_r01..r07.json); every query at every position stays
        # locally oracle-checked by tests/test_oracle_parity.py
        "source_xml": q_source_xml,
        "text_normalize": q_text_normalize,
        "equidepth_histogram": q_equidepth_histogram,
        "bitwise_funcs": q_bitwise_funcs,
        "struct_funcs": q_struct_funcs,
        "url_funcs": q_url_funcs,
        "media_decode_bmp": q_media_decode_bmp,
        "media_resize_bmp": q_media_resize_bmp,
        "mv_refresh_minmax": q_mv_refresh_minmax,
        "events_stream_enrich": q_events_stream_enrich,
        "events_stream_outer_join": q_events_stream_outer_join,
        "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
        "chi_square": q_chi_square,
        "ks_drift": q_ks_drift,
        "linreg": q_linreg,
        "rolling_distinct": q_rolling_distinct,
        "rolling_corr": q_rolling_corr,
        "winsorize": q_winsorize,
        "quantile_normalize": q_quantile_normalize,
        "negative_sampling": q_negative_sampling,
        "collapse_lines": q_collapse_lines,
        "frequent_pairs": q_frequent_pairs,
        "session_baskets": q_session_baskets,
        "pps_sample": q_pps_sample,
        "schema_evolution": q_schema_evolution,
        "referential_integrity": q_referential_integrity,
        "attribution": q_attribution,
        "interpolate": q_interpolate,
        "activity_islands": q_activity_islands,
        "transitions": q_transitions,
        "gini": q_gini,
        "dwell_times": q_dwell_times,
        "label_separability": q_label_separability,
        "entry_exit": q_entry_exit,
        "order_lifecycle": q_order_lifecycle,
        "rfm_segments": q_rfm_segments,
        "cohort_ltv": q_cohort_ltv,
        "new_vs_returning": q_new_vs_returning,
        "dau_mau": q_dau_mau,
        "time_weighted_avg": q_time_weighted_avg,
        "price_reconciliation": q_price_reconciliation,
        "pareto_80_20": q_pareto_80_20,
        "rank_movers": q_rank_movers,
        "activity_heatmap": q_activity_heatmap,
        "hhi_concentration": q_hhi_concentration,
        "dup_cluster_sizes": q_dup_cluster_sizes,
        "repurchase_interval": q_repurchase_interval,
        "source_json": q_source_json,
        "source_orc": q_source_orc,
        "media_resize": q_media_resize,
        "quality_classifier": q_quality_classifier,
        "dataset_split": q_dataset_split,
        "skew_salted_join": q_skew_salted_join,
        "bpe_encode": q_bpe_encode,
        "histogram": q_histogram,
        "union_by_name": q_union_by_name,
        "window_dist": q_window_dist,
        "window_range_frame": q_window_range_frame,
        "intersect_all": q_intersect_all,
        "except_all": q_except_all,
        "math_funcs": q_math_funcs,
        "map_funcs": q_map_funcs,
        "mixture_sample_rows": q_mixture_sample_rows,
        "ann_ivf_recall": q_ann_ivf_recall,
        "approx_distinct_err": q_approx_distinct_err,
        "approx_quantiles_err": q_approx_quantiles_err,
        "tfidf_topterms": q_tfidf_topterms,
        "dedup_select_best": q_dedup_select_best,
        "data_profile": q_data_profile,
        "data_constraints": q_data_constraints,
        "pq_encode": q_pq_encode,
        "ann_pq": q_ann_pq,
        "random_projection": q_random_projection,
        "pmi_bigrams": q_pmi_bigrams,
        "skipgram_pairs": q_skipgram_pairs,
        "ngram_containment": q_ngram_containment,
        "phrase_search": q_phrase_search,
        "ewma": q_ewma,
        "session_paths": q_session_paths,
        "bucketed_join": q_bucketed_join,
        "anomaly_mad": q_anomaly_mad,
        "source_text": q_source_text,
        "source_binary": q_source_binary,
        "bigram_logprob": q_bigram_logprob,
        "containment_lsh": q_containment_lsh,
        "data_profile_by": q_data_profile_by,
        "events_stream_ewma": q_events_stream_ewma,
        "asof_forward": q_asof_forward,
        "asof_nearest": q_asof_nearest,
        "cluster_topics": q_cluster_topics,
        "events_stream_late": q_events_stream_late,
        "tpch_q4": q_tpch_q4,
        "tpch_q6": q_tpch_q6,
        "tpch_q7": q_tpch_q7,
        "tpch_q10": q_tpch_q10,
        "tpch_q14": q_tpch_q14,
        "tpch_q16": q_tpch_q16,
        "tpch_q19": q_tpch_q19,
        "tpch_q22": q_tpch_q22,
        "posexplode": q_posexplode,
        "join_orders_customer": q_join_orders_customer,
        "join_5way": q_join_5way,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "window_topk": q_window_topk,
        "window_running": q_window_running,
        "window_nav": q_window_nav,
        "ntile_rank": q_ntile_rank,
        "set_ops": q_set_ops,
        "distinct_pairs": q_distinct_pairs,
        "rollup": q_rollup,
        "cube": q_cube,
        "semcache_invalidate": q_semcache_invalidate,
        "mr_cogroup": q_mr_cogroup,
        "events_stream_tumbling": q_events_stream_tumbling,
        "events_stream_session": q_events_stream_session,
        "events_stream_join": q_events_stream_join,
        "events_stream_dedup": q_events_stream_dedup,
        "events_tumbling": q_events_tumbling,
        "events_sessionize": q_events_sessionize,
        "events_json": q_events_json,
        "skew_salted_agg": q_skew_salted_agg,
        "scd2": q_scd2,
        "hypertable_rollup": q_hypertable_rollup,
        "funnel": q_funnel,
        "minhash_candidates": q_minhash_candidates,
        "simhash_candidates": q_simhash_candidates,
        "doc_fingerprint": q_doc_fingerprint,
        "embedding_near_dup": q_embedding_near_dup,
        "ann_lsh": q_ann_lsh,
        "retention_cohorts": q_retention_cohorts,
        "stratified_sample": q_stratified_sample,
        "sequence_pack": q_sequence_pack,
        "anomaly_zscore": q_anomaly_zscore,
        "token_entropy": q_token_entropy,
        "bm25": q_bm25,
        "tpch_q8": q_tpch_q8,
        "tpch_q11": q_tpch_q11,
        "tpch_q12": q_tpch_q12,
        "tpch_q13": q_tpch_q13,
        "tpch_q15": q_tpch_q15,
        "tpch_q20": q_tpch_q20,
        "mr_reduce_by_key": q_mr_reduce_by_key,
        "events_sliding": q_events_sliding,
        "events_resample": q_events_resample,
        "dedup_groups": q_dedup_groups,
        "media_decode": q_media_decode,
        "kmeans_step": q_kmeans_step,
        "lang_id": q_lang_id,
        "token_stats": q_token_stats,
        "media_frame_sample": q_media_frame_sample,
        "source_csv": q_source_csv,
        "span_dedup": q_span_dedup,
        "mixture_sample": q_mixture_sample,
        "regex_funcs": q_regex_funcs,
        "json_funcs": q_json_funcs,
        "array_hof": q_array_hof,
        "agg_misc": q_agg_misc,
        "tpch_q2": q_tpch_q2,
        "mr_word_count": q_mr_word_count,
        "mr_group_reduce": q_mr_group_reduce,
        "pandas_udf_tokens": q_pandas_udf_tokens,
        "pandas_udaf_gmean": q_pandas_udaf_gmean,
        "udtf_ngrams": q_udtf_ngrams,
        "events_stream_stateful": q_events_stream_stateful,
        "events_stream_upsert": q_events_stream_upsert,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_topk": q_ann_topk,
        "embedding_centroids": q_embedding_centroids,
        "kmeans_iter2": q_kmeans_iter2,
        "text_quality": q_text_quality,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        "unigram_logprob": q_unigram_logprob,
        "chunking": q_chunking,
        "bpe_train": q_bpe_train,
        "media_meta": q_media_meta,
        "pretrain_filter": q_pretrain_filter,
        "group_sample": q_group_sample,
        "topk_global": q_topk_global,
        "pivot": q_pivot,
        "unpivot": q_unpivot,
        "count_distinct": q_count_distinct,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "string_funcs": q_string_funcs,
        "date_funcs": q_date_funcs,
        "stats_agg": q_stats_agg,
        "percentiles": q_percentiles,
        "grouping_sets": q_grouping_sets,
        "conditional_funcs": q_conditional_funcs,
        "array_funcs": q_array_funcs,
        "hash_sample": q_hash_sample,
        "full_outer_join": q_full_outer_join,
        "cross_join": q_cross_join,
        "exists_subquery": q_exists_subquery,
        "scalar_subquery": q_scalar_subquery,
        "collect_agg": q_collect_agg,
        "argmax": q_argmax,
    }
    return {
        **{k: reg[k] for k in _R15_WINDOW},
        **{k: v for k, v in reg.items() if k not in _R15_WINDOW},
    }


# Round-14 correctness window (the driver checks the FIRST 50 keys —
# EXACTLY 50 entries here, pinned by test_round14_fixes; the r13 list
# held 51 and silently dropped data_profile from the gate, ADVICE
# r13): the two round-14 additions, then the FULL 32-key r05
# remainder (leading with the dropped data_profile), the FULL 15-key
# r06 block, and the alphabetically-first key of the r07 block — see
# queries() docstring.
_R14_WINDOW = [
    "ann_ivf_refresh",
    "ann_ivf_refresh_stream",
    # r05 remainder (32)
    "data_profile",
    "data_profile_by",
    "dataset_split",
    "dedup_select_best",
    "events_stream_ewma",
    "events_stream_late",
    "ewma",
    "except_all",
    "histogram",
    "intersect_all",
    "label_propagation",
    "map_funcs",
    "math_funcs",
    "media_resize",
    "mixture_sample_rows",
    "ngram_containment",
    "phrase_search",
    "pmi_bigrams",
    "pq_encode",
    "quality_classifier",
    "random_projection",
    "session_paths",
    "skew_salted_join",
    "skipgram_pairs",
    "source_binary",
    "source_json",
    "source_orc",
    "source_text",
    "tfidf_topterms",
    "union_by_name",
    "window_dist",
    "window_range_frame",
    # r06 block (15)
    "activity_heatmap",
    "cohort_ltv",
    "dau_mau",
    "dup_cluster_sizes",
    "entry_exit",
    "hhi_concentration",
    "label_separability",
    "new_vs_returning",
    "order_lifecycle",
    "pareto_80_20",
    "price_reconciliation",
    "rank_movers",
    "repurchase_interval",
    "rfm_segments",
    "time_weighted_avg",
    # r07 head (1)
    "activity_islands",
]


# Round-15 correctness window. VERDICT r14 item 2: the r13/r14 windows
# shared ZERO keys, so the driver's round-over-round per-query
# correctness comparison was vacuous (PERF_r14 n_common=0, 48 spurious
# "drops"). This window deliberately RETAINS the first 25 keys of
# _R14_WINDOW (the two r14 additions + the r05-remainder head) so
# PERF_r15 compares >= 25 common gate keys, and rotates the other 25
# onto the LEAST-RECENTLY-CONFIRMED tail: the alphabetically-first 25
# of the 31-key r07 remainder (computed from CORRECTNESS_r01..r14.json
# last-green rounds). After this window the oldest evidence is the
# 6-key r07 tail (source_xml, struct_funcs, text_normalize,
# transitions, url_funcs, winsorize) plus the r08 block. Size and
# registry membership pinned by tests/test_round15_fixes.py.
_R15_WINDOW = [
    # retained from _R14_WINDOW (25 — round-over-round overlap)
    "ann_ivf_refresh",
    "ann_ivf_refresh_stream",
    "data_profile",
    "data_profile_by",
    "dataset_split",
    "dedup_select_best",
    "events_stream_ewma",
    "events_stream_late",
    "ewma",
    "except_all",
    "histogram",
    "intersect_all",
    "label_propagation",
    "map_funcs",
    "math_funcs",
    "media_resize",
    "mixture_sample_rows",
    "ngram_containment",
    "phrase_search",
    "pmi_bigrams",
    "pq_encode",
    "quality_classifier",
    "random_projection",
    "session_paths",
    "skew_salted_join",
    # r07 remainder, alphabetical head (25 — freshness rotation)
    "ann_lsh_multiprobe",
    "attribution",
    "bitwise_funcs",
    "chi_square",
    "collapse_lines",
    "dwell_times",
    "equidepth_histogram",
    "events_stream_enrich",
    "events_stream_outer_join",
    "frequent_pairs",
    "gini",
    "interpolate",
    "ks_drift",
    "linreg",
    "media_decode_bmp",
    "media_resize_bmp",
    "mv_refresh_minmax",
    "negative_sampling",
    "pps_sample",
    "quantile_normalize",
    "referential_integrity",
    "rolling_corr",
    "rolling_distinct",
    "schema_evolution",
    "session_baskets",
]


# Shared BPE-vocabulary CTE chain (words -> char split -> two greedy
# merge rounds, Sennrich semantics replayed with list_reduce) — used
# by both the bpe_train and bpe_encode oracles.
_BPE_VOCAB_CTES = """words AS (
              SELECT tok AS word, count(*) AS freq
              FROM (SELECT unnest({TOKENS}) AS tok FROM documents) t
              GROUP BY tok),
            s0 AS (SELECT word, freq,
                          list_transform(range(1, len(word) + 1),
                                         i -> word[i:i]) AS syms
                   FROM words),
            p1 AS (SELECT pair FROM (
                     SELECT s.pair, sum(freq) AS cnt FROM (
                       SELECT freq,
                              unnest(list_transform(range(1, len(syms)),
                                i -> syms[i] || ' ' || syms[i+1])) AS pair
                       FROM s0 WHERE len(syms) > 1) s
                     GROUP BY s.pair)
                   ORDER BY cnt DESC, pair ASC LIMIT 1),
            s1 AS (SELECT word, freq,
                          string_split(regexp_replace(
                            list_reduce(syms, (acc, x) -> CASE
                              WHEN acc[-1:] = '#'
                                THEN acc[1:len(acc)-1] || ' ' || x
                              WHEN list_extract(string_split(acc, ' '), -1)
                                     = string_split(p1.pair, ' ')[1]
                                   AND x = string_split(p1.pair, ' ')[2]
                                THEN left(acc, len(acc) -
                                          len(string_split(p1.pair, ' ')[1]))
                                     || replace(p1.pair, ' ', '') || '#'
                              ELSE acc || ' ' || x END),
                            '#$', ''), ' ') AS syms
                   FROM s0, p1),
            p2 AS (SELECT pair FROM (
                     SELECT s.pair, sum(freq) AS cnt FROM (
                       SELECT freq,
                              unnest(list_transform(range(1, len(syms)),
                                i -> syms[i] || ' ' || syms[i+1])) AS pair
                       FROM s1 WHERE len(syms) > 1) s
                     GROUP BY s.pair)
                   ORDER BY cnt DESC, pair ASC LIMIT 1),
            s2 AS (SELECT word, freq,
                          regexp_replace(
                            list_reduce(syms, (acc, x) -> CASE
                              WHEN acc[-1:] = '#'
                                THEN acc[1:len(acc)-1] || ' ' || x
                              WHEN list_extract(string_split(acc, ' '), -1)
                                     = string_split(p2.pair, ' ')[1]
                                   AND x = string_split(p2.pair, ' ')[2]
                                THEN left(acc, len(acc) -
                                          len(string_split(p2.pair, ' ')[1]))
                                     || replace(p2.pair, ' ', '') || '#'
                              ELSE acc || ' ' || x END),
                            '#$', '') AS syms
                   FROM s1, p2)""".replace("{TOKENS}", TOKENS_SQL)


def _oracle_minhash_candidates(nh: int = 32, bands: int = 8, k: int = 5) -> str:
    """DuckDB replay of the portable MinHash-LSH candidate pipeline:
    signature table (shared _sql_minhash_sig) -> band rows (shared
    _sql_minhash_band_rows) -> (band, bh) self-join. Mirrors
    dedup.minhash_lsh_candidates(portable=True)."""
    return f"""
            WITH sig AS {_sql_minhash_sig('documents', nh, k)},
            band AS ({_sql_minhash_band_rows('sig', nh, bands)})
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM band a JOIN band b USING (band, bh) WHERE a.id < b.id
        """


def _oracle_minhash_dedup(threshold: float = 0.8, k: int = 5) -> str:
    """Candidates (above) -> exact word-5-shingle Jaccard verify ->
    anti-join the losers (mirror of dedup.minhash_dedup)."""
    cands = _oracle_minhash_candidates(k=k)
    return f"""
            WITH cand AS ({cands}),
            vsh AS (SELECT doc_id AS id,
                      list_distinct(list_transform(
                        range(1, greatest(len(toks)-{k - 1},1)+1),
                        i -> array_to_string(toks[i:i+{k - 1}], ' '))) AS sh
                    FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents) t),
            losers AS (
              SELECT DISTINCT c.id_b
              FROM cand c
              JOIN vsh a ON a.id = c.id_a
              JOIN vsh b ON b.id = c.id_b
              WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= {threshold})
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id_b FROM losers)
        """


def _sql_kcore_peel(depth: int = 24) -> str:
    """kcore oracle: the 10-core peel as an unrolled chain of
    MATERIALIZED CTEs, generated to ``depth`` rounds. r14 shipped a
    hand-written 12-round unroll, which undershoots sf0.001's peel
    (measured: fixpoint at round 14 there; sf0.01 converges at 10) —
    the engine's k_core iterates to fixpoint, so the oracle
    mismatched at that SF only. Rounds past the fixpoint are no-ops
    (the survivor set is stable under further peels), so deepening
    the unroll leaves every already-converged SF's result
    bit-identical; 24 covers all probe SFs with margin (a peel
    removes >=1 node per non-converged round, and these synthetic
    graphs' degeneracy chains measured <=14). The query raises if
    round ``depth`` still removed edges (:func:`_sql_fixpoint_guard`),
    so an unroll too shallow for some SF fails loudly."""
    parts = [
        """
            WITH e AS MATERIALIZED (
              SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              WHERE a.l_orderkey % 8 = 0),
            r0 AS MATERIALIZED (
              SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e)"""
    ]
    for i in range(1, depth + 1):
        parts.append(
            f""",
            n{i} AS MATERIALIZED (
              SELECT u FROM r{i - 1} GROUP BY u HAVING count(*) >= 10),
            r{i} AS MATERIALIZED (
              SELECT r.u, r.v FROM r{i - 1} r
              JOIN n{i} x ON r.u = x.u JOIN n{i} y ON r.v = y.u)"""
        )
    parts.append(
        f""",
            fixpoint AS MATERIALIZED ({
                _sql_fixpoint_guard(f"r{depth}", f"r{depth - 1}", "kcore oracle")
            })
            SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
            FROM r{depth} CROSS JOIN fixpoint WHERE fixpoint.ok GROUP BY u
        """
    )
    return "".join(parts)


def _sql_minhash_sig(src_cte: str, nh: int = 32, k: int = 5) -> str:
    """Shared SQL: portable MinHash signature table for a (doc_id,
    text) CTE — word k-shingles, ONE md5 per shingle (hoisted into a
    projected column so the hex-parse lambdas never re-digest),
    rotate-XOR family minima (mirror of minhash_signatures_df
    portable=True)."""
    hmins = ",\n              ".join(
        f"min(xor(v, {_sql_rot60('u', i)})) AS h{i}" for i in range(nh)
    )
    return f"""
            (SELECT id, {hmins} FROM (
               SELECT id, {_sql_hex15('mh', 0)} AS v,
                      {_sql_hex15('mh', 1)} AS u
               FROM (SELECT id, md5(s) AS mh
                     FROM (SELECT id, unnest(list_distinct(list_transform(
                             range(1, greatest(len(toks)-{k - 1},1)+1),
                             i -> array_to_string(toks[i:i+{k - 1}], ' ')))) AS s
                           FROM (SELECT doc_id AS id, {TOKENS_SQL} AS toks FROM {src_cte}) t0) tx) t1
             ) t2 GROUP BY id)
        """


def _sql_minhash_band_rows(sig_cte: str, nh: int = 32, bands: int = 8) -> str:
    """Shared SQL: (id, band, bh) band-bucket rows of a signature CTE
    — the single mirror of dedup._minhash_banded (self-dedup and
    incremental dedup must bucket identically). One md5 per (id,
    band), hoisted before the hex parse."""
    rpb = nh // bands
    return "\n              UNION ALL ".join(
        "SELECT id, {b} AS band, {bh} AS bh FROM "
        "(SELECT id, md5(concat_ws('|', {cols})) AS bmh FROM {cte}) b{b}".format(
            b=b,
            cte=sig_cte,
            cols=", ".join(f"h{b * rpb + r}::VARCHAR" for r in range(rpb)),
            bh=_sql_hex15("bmh", 0),
        )
        for b in range(bands)
    )


def _oracle_minhash_estimate(nh: int = 32, bands: int = 8, k: int = 5) -> str:
    """DuckDB replay of q_minhash_estimate: portable signatures, banded
    candidates, equal-component estimate, exact shingle Jaccard."""
    eq = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(nh)
    )
    shingle = (
        "list_distinct(list_transform(range(1, greatest(len(toks)-"
        f"{k - 1},1)+1), i -> array_to_string(toks[i:i+{k - 1}], ' ')))"
    )
    jac = (
        "round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)"
        " / len(list_distinct(list_concat(x.sh, y.sh))), 6)"
    )
    return f"""
        WITH sig AS {_sql_minhash_sig('documents', nh, k)},
        band AS ({_sql_minhash_band_rows('sig', nh, bands)}),
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                 FROM band a JOIN band b USING (band, bh)
                 WHERE a.id < b.id),
        est AS (SELECT c.id_a, c.id_b,
                       CAST(({eq}) AS DOUBLE) / {nh} AS est_jaccard
                FROM cand c JOIN sig a ON c.id_a = a.id
                            JOIN sig b ON c.id_b = b.id),
        sh AS (SELECT doc_id AS id, {shingle} AS sh
               FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents) t)
        SELECT e.id_a, e.id_b, e.est_jaccard,
               {jac} AS jaccard,
               round(abs(e.est_jaccard - {jac}), 6) AS abs_err
        FROM est e JOIN sh x ON e.id_a = x.id JOIN sh y ON e.id_b = y.id
    """


def _oracle_incremental_dedup(
    nh: int = 32, bands: int = 8, k: int = 5, threshold: float = 0.8
) -> str:
    """DuckDB replay of minhash_dedup_against over the planted-refresh
    corpora: per-side signatures (shared _sql_minhash_sig), new x ref
    banded join (shared _sql_minhash_band_rows), Jaccard verify,
    anti-join (mirror of q_incremental_dedup)."""
    shingle = (
        "list_distinct(list_transform(range(1, greatest(len(toks)-"
        f"{k - 1},1)+1), i -> array_to_string(toks[i:i+{k - 1}], ' ')))"
    )
    return f"""
            WITH ref AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
            new_b AS (
              SELECT doc_id, text FROM documents WHERE doc_id >= 250
              UNION ALL
              SELECT doc_id + 100000, regexp_replace(text, ' ', '  ', 'g')
              FROM documents WHERE doc_id < 250 AND doc_id % 10 = 0),
            sig_new AS {_sql_minhash_sig('new_b', nh, k)},
            sig_ref AS {_sql_minhash_sig('ref', nh, k)},
            band_new AS ({_sql_minhash_band_rows('sig_new', nh, bands)}),
            band_ref AS ({_sql_minhash_band_rows('sig_ref', nh, bands)}),
            cand AS (SELECT DISTINCT n.id AS id_a, r.id AS id_b
                     FROM band_new n JOIN band_ref r USING (band, bh)),
            sh_new AS (SELECT doc_id AS id_a, {shingle} AS sh
                       FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM new_b) t),
            sh_ref AS (SELECT doc_id AS id_b, {shingle} AS sh
                       FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM ref) t),
            losers AS (
              SELECT DISTINCT c.id_a
              FROM cand c JOIN sh_new a USING (id_a) JOIN sh_ref b USING (id_b)
              WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= {threshold})
            SELECT doc_id FROM new_b
            WHERE doc_id NOT IN (SELECT id_a FROM losers)
        """


def _oracle_dataset_split(
    fractions: dict[str, float] | None = None, resolution: int = 1 << 20
) -> str:
    """DuckDB replay of relational.dataset_split — the cumulative
    bounds are computed by the SAME Python arithmetic the engine uses,
    then embedded as literals, so no cross-engine float drift can
    exist by construction."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    bounds = []
    acc = 0.0
    for name, frac in fractions.items():
        acc += frac
        bounds.append((name, int(acc * resolution)))
    bounds[-1] = (bounds[-1][0], resolution)
    case = " ".join(f"WHEN h < {ub} THEN '{name}'" for name, ub in bounds)
    return f"""
            WITH h AS (SELECT doc_id,
                   ({_sql_hex15('mh', 0)}) % {resolution} AS h
                   FROM (SELECT doc_id, md5(doc_id::VARCHAR) AS mh FROM documents) x)
            SELECT doc_id, CASE {case} END AS split FROM h
        """


def _oracle_simhash_candidates(
    bits: int = 60, tables: int = 4, band_bits: int = 15, max_hamming: int = 3, k: int = 5
) -> str:
    """DuckDB replay of the portable multi-table SimHash pipeline over
    the planted-dup corpus: char k-shingles of ws-normalized text ->
    one md5 -> 60-bit hash -> per-bit majority votes -> 60-bit sig ->
    4x15-bit band buckets -> hamming<=3 verify. Mirrors
    dedup.simhash_candidates(portable=True)."""
    mask = (1 << band_bits) - 1
    vcols = ",\n              ".join(
        f"sum((h >> {i}) & 1) AS v{i}" for i in range(bits)
    )
    sig_expr = " | ".join(
        f"(CASE WHEN 2*v{i} > n THEN 1::BIGINT << {i} ELSE 0 END)" for i in range(bits)
    )
    tbl_rows = "\n              UNION ALL ".join(
        f"SELECT id, sig, {t} AS tbl, (sig >> {t * band_bits}) & {mask} AS bkey FROM sig"
        for t in range(tables)
    )
    return f"""
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, regexp_replace(text, ' ', '  ', 'g')
              FROM documents WHERE doc_id % 5 = 0),
            n0 AS (SELECT doc_id AS id,
                     regexp_replace(lower(text), '\\s+', ' ', 'g') AS nm FROM d),
            sh AS (SELECT id, unnest(list_distinct(list_transform(
                     range(1, greatest(length(nm)-{k - 1},1)+1),
                     i -> substr(nm, i, {k})))) AS s FROM n0),
            hv AS (SELECT id, {_sql_hex15('mh', 0)} AS h
                   FROM (SELECT id, md5(s) AS mh FROM sh) x),
            votes AS (SELECT id, count(*) AS n, {vcols} FROM hv GROUP BY id),
            sig AS (SELECT id, ({sig_expr}) AS sig FROM votes),
            band AS ({tbl_rows})
            SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                   bit_count(xor(a.sig, b.sig)) AS hamming
            FROM band a JOIN band b USING (tbl, bkey)
            WHERE a.id < b.id AND bit_count(xor(a.sig, b.sig)) <= {max_hamming}
        """


def _oracle_doc_fingerprint(k: int = 9) -> str:
    """Winnowing fingerprint replay: min portable-60-bit hash over char
    k-shingles of ws-normalized text (mirror of text.doc_fingerprint
    portable=True). The HUGEINT list_sum casts back to BIGINT so the
    driver's schema compare sees the engine's long."""
    return f"""
            WITH n0 AS (SELECT doc_id,
                   regexp_replace(lower(text), '\\s+', ' ', 'g') AS nm FROM documents),
            sh AS (SELECT doc_id, unnest(list_transform(
                     range(1, greatest(length(nm)-{k - 1},1)+1),
                     i -> substr(nm, i, {k}))) AS s FROM n0),
            hv AS (SELECT doc_id, md5(s) AS mh FROM sh)
            SELECT doc_id, CAST(min({_sql_hex15('mh', 0)}) AS BIGINT) AS fp
            FROM hv GROUP BY doc_id
        """


def _oracle_embedding_near_dup(
    threshold: float = 0.9, planes: int = 12, seed: int = 7
) -> str:
    """Replay of dedup.embedding_near_dup over the planted-dup
    embedding set: sign-sketch buckets from the INLINED hyperplane
    weights (data-independent, so the oracle needs no hash function),
    then the double-precision cosine verify — identical IEEE sequential
    arithmetic to the engine's zip_with/aggregate formulation."""
    dim = _emb_dim()
    bucket = _sql_sign_bucket("emb", planes, seed, dim)
    dot = (
        f"list_sum(list_transform(range(1,{dim + 1}), "
        "i -> a.emb[i]::DOUBLE * b.emb[i]::DOUBLE))"
    )
    nrm = (
        "sqrt(list_sum(list_transform(range(1,%d), i -> %s[i]::DOUBLE * %s[i]::DOUBLE)))"
    )
    na = nrm % (dim + 1, "a.emb", "a.emb")
    nb = nrm % (dim + 1, "b.emb", "b.emb")
    return f"""
            WITH e AS (
              SELECT vec_id, embedding AS emb FROM embeddings
              UNION ALL
              SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 20 = 0),
            sk AS (SELECT vec_id AS id, emb, {bucket} AS bucket FROM e)
            SELECT a.id AS id_a, b.id AS id_b
            FROM sk a JOIN sk b USING (bucket)
            WHERE a.id < b.id
              AND {dot} / ({na} * {nb}) >= {threshold}
        """


def _oracle_span_dedup(span: int = 10, min_occ: int = 2) -> str:
    """DuckDB replay of text.span_dedup(portable=True): tokenize ->
    non-overlapping spans with position -> portable-60-bit hash count
    -> drop dup spans -> ordered rebuild; empty docs kept as ''."""
    return f"""
            WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
            sp AS (SELECT doc_id, unnest(range(1, CAST(ceil(len(toks)/{span}.0) AS INT)+1)) AS pos,
                          toks
                   FROM tok WHERE len(toks) > 0),
            spans AS (SELECT doc_id, pos,
                             array_to_string(toks[(pos-1)*{span}+1:(pos-1)*{span}+{span}], ' ') AS span
                      FROM sp),
            hv AS (SELECT doc_id, pos, span, {_sql_hex15('mh', 0)} AS h
                   FROM (SELECT doc_id, pos, span, md5(span) AS mh FROM spans) x),
            cnt AS (SELECT h, count(*) AS c FROM hv GROUP BY h),
            flagged AS (SELECT doc_id, pos, span,
                               (c >= {min_occ}) AS dup
                        FROM hv JOIN cnt USING (h)),
            rebuilt AS (SELECT doc_id,
                               coalesce(string_agg(span, ' ' ORDER BY pos, span)
                                        FILTER (WHERE NOT dup), '') AS text,
                               count(*) AS n_spans,
                               sum(CASE WHEN dup THEN 1 ELSE 0 END) AS n_spans_removed
                        FROM flagged GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(r.text, '') AS text,
                   CAST(coalesce(r.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(r.n_spans_removed, 0) AS BIGINT) AS n_spans_removed
            FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        """


def _oracle_mixture_sample(
    weights: dict[str, float] | None = None,
    resolution: int = 1 << 20,
    rows: bool = False,
) -> str:
    """DuckDB replay of text.mixture_sample: per-source token totals ->
    K = min(tot/w) -> integer thresholds -> portable-hash keep ->
    audit summary (or, with ``rows=True``, the kept (doc_id, source)
    rows themselves, mirroring text.mixture_sample_rows — one shared
    derivation, two surfaces). Weight literals cast to DOUBLE so both
    engines compare the same IEEE values."""
    weights = weights or {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    srcs = ", ".join(f"'{s}'" for s in weights)
    wcase = " ".join(f"WHEN '{s}' THEN CAST({w!r} AS DOUBLE)" for s, w in weights.items())
    head = (
        "SELECT id AS doc_id, src AS source FROM kept"
        if rows
        else """SELECT src AS source, count(*) AS n_docs,
                   CAST(sum(ntok) AS BIGINT) AS n_tokens,
                   min(thr) AS threshold
            FROM kept GROUP BY src"""
    )
    return f"""
            WITH base AS (SELECT doc_id AS id, source AS src,
                                 len({TOKENS_SQL}) AS ntok
                          FROM documents WHERE source IN ({srcs})),
            tot AS (SELECT src, sum(ntok) AS tot FROM base GROUP BY src),
            w AS (SELECT src, CASE src {wcase} END AS wt, tot FROM tot),
            k AS (SELECT min(CAST(tot AS DOUBLE) / wt) AS k FROM w),
            thr AS (SELECT src,
                           CAST(floor(least(CAST(1.0 AS DOUBLE),
                                            wt * k.k / CAST(tot AS DOUBLE)) * {resolution})
                                AS BIGINT) AS thr
                    FROM w, k),
            kept AS (SELECT b.id, b.src, b.ntok, t.thr
                     FROM (SELECT id, src, ntok, md5(id::VARCHAR) AS mh FROM base) b
                     JOIN thr t USING (src)
                     WHERE ({_sql_hex15('b.mh', 0)}) % {resolution} < t.thr)
            {head}
        """


def _oracle_ann_lsh(k: int = 10, planes: int = 6, seed: int = 7) -> str:
    """Replay of similarity.lsh_topk: bucket join (inlined weights) +
    cosine ranking. Only (query_id, match_id, rank) surface, so the
    check rides the cosine ORDER (same robustness as ann_topk's
    driver-green oracle), while the bucketing is bit-exact."""
    bucket = _sql_sign_bucket("embedding", planes, seed, _emb_dim())
    return f"""
            WITH sk AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
                  FROM sk WHERE vec_id < 5),
            c AS (SELECT vec_id AS match_id, embedding AS cv, bucket FROM sk),
            s AS (SELECT query_id, match_id,
                         list_cosine_similarity(qv, cv) AS cos
                  FROM q JOIN c USING (bucket) WHERE query_id <> match_id)
            SELECT query_id, match_id, rank FROM (
              SELECT query_id, match_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, match_id) AS rank
              FROM s) t
            WHERE rank <= {k}
        """


def _oracle_ann_lsh_multiprobe(k: int = 10, planes: int = 6, seed: int = 7) -> str:
    """Replay of similarity.lsh_topk_multiprobe: the query side probes
    its own bucket plus every Hamming-1 neighbor (xor one bit);
    candidates dedupe before the cosine rank."""
    bucket = _sql_sign_bucket("embedding", planes, seed, _emb_dim())
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p}::BIGINT)" for p in range(planes)]
    )
    return f"""
            WITH sk AS (SELECT vec_id, embedding, {bucket} AS bucket
                        FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
                  FROM sk WHERE vec_id < 5),
            probes AS (SELECT query_id, qv,
                              unnest([{probe_list}]) AS bucket
                       FROM q),
            cand AS (SELECT DISTINCT query_id, match_id
                     FROM probes JOIN (SELECT vec_id AS match_id, bucket
                                       FROM sk) c USING (bucket)
                     WHERE query_id <> match_id),
            s AS (SELECT cand.query_id, cand.match_id,
                         list_cosine_similarity(qq.embedding, cc.embedding)
                           AS cos
                  FROM cand JOIN embeddings qq ON qq.vec_id = cand.query_id
                            JOIN embeddings cc ON cc.vec_id = cand.match_id)
            SELECT query_id, match_id, rank FROM (
              SELECT query_id, match_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, match_id) AS rank
              FROM s) t
            WHERE rank <= {k}
        """


# Shared oracle for the incremental media refresh pair: media_incremental_dedup
# recomputes the ref hashes per run, media_index_refresh serves them from
# the stored bucketed catalog index — SAME corpora, plants, and result.
_MEDIA_INCR_ORACLE = """
            WITH ids AS (
              SELECT doc_id AS id, doc_id AS pid, 'n' AS side
              FROM documents WHERE doc_id % 4 = 0
              UNION ALL
              SELECT doc_id + 100000, doc_id, 'n' FROM documents
              WHERE doc_id % 4 != 0 AND doc_id % 8 = 1
              UNION ALL
              SELECT doc_id, doc_id, 'r' FROM documents
              WHERE doc_id % 4 != 0),
            dims AS (SELECT id, pid, side,
                            8 + pid % 9 AS w0, 8 + pid % 7 AS h0
                     FROM ids),
            lum AS (SELECT id, side, x.x AS x, y.y AS y,
                      (299*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + pid) % 256)
                     + 587*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 11 + pid) % 256)
                     + 114*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 22 + pid) % 256)
                      ) // 1000 AS l
                    FROM dims
                    CROSS JOIN (SELECT unnest(range(0, 9)) AS x) x
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y),
            bits AS (SELECT a.id, a.side, a.y, a.x,
                            CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
                     FROM lum a
                     JOIN lum b ON a.id = b.id AND a.side = b.side
                                AND a.y = b.y AND b.x = a.x + 1
                     WHERE a.x < 8),
            bands AS (SELECT id, side, y // 2 AS tbl,
                             CAST(sum(bit * (1 << ((y % 2) * 8 + x)))
                                  AS BIGINT) AS val
                      FROM bits GROUP BY 1, 2, 3)
            SELECT n.id AS id_new, r.id AS id_ref,
                   CAST(sum(bit_count(xor(n.val, r.val))) AS BIGINT)
                     AS hamming
            FROM bands n
            JOIN bands r ON n.tbl = r.tbl
            WHERE n.side = 'n' AND r.side = 'r'
            GROUP BY 1, 2
            HAVING sum(bit_count(xor(n.val, r.val))) <= 3
        """


# Shared oracle for the incremental-SemDeDup pair: the exact tier and the
# GEMM kernel tier produce bit-identical verdicts on the margin-separated
# planted corpora (organic ~0.49 vs planted 1.0) — property-tested.
_XSEM_ORACLE = """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            ref AS (SELECT * FROM e WHERE vec_id % 4 != 0),
            newb AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0
                     UNION ALL
                     SELECT vec_id + 100000, list_transform(v, x -> x * 1.1)
                     FROM ref WHERE vec_id % 8 = 1),
            cents AS (SELECT vec_id AS cell, v AS centroid
                      FROM e WHERE vec_id < 8),
            an AS (SELECT vec_id, v, cell FROM
                     (SELECT n.vec_id, n.v, c.cell,
                             list_cosine_similarity(n.v, c.centroid) AS sim
                      FROM newb n, cents c)
                   QUALIFY row_number() OVER (PARTITION BY vec_id
                                              ORDER BY sim DESC, cell) = 1),
            ar AS (SELECT vec_id, v, cell FROM
                     (SELECT r.vec_id, r.v, c.cell,
                             list_cosine_similarity(r.v, c.centroid) AS sim
                      FROM ref r, cents c)
                   QUALIFY row_number() OVER (PARTITION BY vec_id
                                              ORDER BY sim DESC, cell) = 1),
            hits AS (SELECT a.vec_id, CAST(count(*) AS BIGINT) AS n_dups
                     FROM an a JOIN ar b ON a.cell = b.cell
                     WHERE list_cosine_similarity(a.v, b.v) >= 0.95
                     GROUP BY 1)
            SELECT a.vec_id, a.cell,
                   COALESCE(h.n_dups, CAST(0 AS BIGINT)) AS n_dups,
                   CAST(CASE WHEN h.vec_id IS NULL THEN 1 ELSE 0 END
                        AS BIGINT) AS kept
            FROM an a LEFT JOIN hits h ON a.vec_id = h.vec_id
        """


def oracle_sql() -> dict[str, str]:
    stop_en = ", ".join(f"'{w}'" for w in text._STOPWORDS["en"])
    lang_scores = {
        lang: ", ".join(f"'{w}'" for w in ws) for lang, ws in text._STOPWORDS.items()
    }
    return {
        "stream_near_dedup": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id,
                     regexp_replace(text, ' ', '  ', 'g') AS text
              FROM documents WHERE doc_id % 10 = 0
            ),
            sig AS {_sql_minhash_sig('corpus', 16, 5)},
            band AS ({_sql_minhash_band_rows('sig', 16, 4)})
            SELECT band, CAST(bh AS BIGINT) AS bh,
                   min(id) AS rep_id, count(*) AS n_docs
            FROM band GROUP BY band, bh HAVING count(*) >= 2
        """,
        "lineage_audit": """
            WITH base AS (
              SELECT o_orderkey, o_custkey, o_totalprice
              FROM orders WHERE o_orderkey % 3 = 0),
            u1 AS (
              SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice
              FROM orders WHERE o_orderkey % 5 = 0),
            v2 AS (
              SELECT * FROM base
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u1)
              UNION ALL SELECT * FROM u1),
            u2 AS (
              SELECT o_orderkey, o_custkey, o_totalprice + 2.0 AS o_totalprice
              FROM orders WHERE o_orderkey % 7 = 3),
            v3 AS (
              SELECT * FROM v2
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u2)
              UNION ALL SELECT * FROM u2)
            SELECT 'table' AS kind, 'lin_orders' AS name,
                   CAST(1 AS BIGINT) AS version,
                   (SELECT count(*) FROM base) AS n_rows,
                   CAST(0 AS BIGINT) AS stale, CAST(0 AS BIGINT) AS n_hits
            UNION ALL
            SELECT 'table', 'lin_orders', 2, (SELECT count(*) FROM v2), 0, 0
            UNION ALL
            SELECT 'table', 'lin_orders', 3, (SELECT count(*) FROM v3), 0, 0
            UNION ALL
            SELECT 'cache', 'lineage_app_a', 1,
                   (SELECT count(DISTINCT o_custkey % 20) FROM base), 1, 1
            UNION ALL
            SELECT 'cache', 'lineage_app_b', 3,
                   (SELECT count(DISTINCT o_custkey % 7) FROM v3), 0, 0
        """,
        "word_count": f"""
            SELECT word, count(*) AS cnt
            FROM (SELECT unnest({TOKENS_SQL}) AS word FROM documents) t
            GROUP BY word
        """,
        "inverted_index": f"""
            WITH tok AS (
              SELECT DISTINCT doc_id, unnest({TOKENS_SQL}) AS word FROM documents
            )
            SELECT word,
                   string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY CAST(doc_id AS VARCHAR)) AS postings,
                   count(*) AS postings_n
            FROM tok GROUP BY word
        """,
        "aggregation": """
            SELECT CAST(sum(l_orderkey) AS BIGINT) AS sum_l_orderkey,
                   CAST(sum(l_partkey) AS BIGINT) AS sum_l_partkey,
                   CAST(sum(l_suppkey) AS BIGINT) AS sum_l_suppkey,
                   CAST(sum(l_linenumber) AS BIGINT) AS sum_l_linenumber,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_quantity,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_extendedprice,
                   CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_discount,
                   CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_tax
            FROM lineitem
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_orders_customer": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "join_5way": """
            SELECT r_name, n_name, count(*) AS n_rows,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "semi_join": """
            SELECT c_nationkey, count(*) AS n_customers
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_nationkey
        """,
        "anti_join": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY c_mktsegment
        """,
        "window_topk": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rk
              FROM orders) t
            WHERE rk <= 3
        """,
        "window_running": """
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                        OVER (PARTITION BY l_suppkey
                              ORDER BY l_shipdate, l_orderkey, l_linenumber
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE) AS running_qty
            FROM lineitem
        """,
        "distinct_pairs": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
        "set_ops": """
            WITH with_orders AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
                 high_bal AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
            SELECT custkey, 'both' AS tag
            FROM (SELECT custkey FROM high_bal INTERSECT SELECT custkey FROM with_orders) a
            UNION ALL
            SELECT custkey, 'no_orders' AS tag
            FROM (SELECT custkey FROM high_bal EXCEPT SELECT custkey FROM with_orders) b
        """,
        "rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "cube": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "topk_global": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "pivot": """
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
            FROM orders GROUP BY o_orderpriority
        """,
        "unpivot": """
            WITH sums AS (
              SELECT l_returnflag,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS p,
                     CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS d
              FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, 'q' AS measure, q AS value FROM sums
            UNION ALL SELECT l_returnflag, 'p', p FROM sums
            UNION ALL SELECT l_returnflag, 'd', d FROM sums
        """,
        "count_distinct": """
            SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_part,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
                   CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_order
            FROM lineitem
        """,
        "asof_join": """
            SELECT e.event_id, e.user_id,
                   (SELECT max(c.ts) FROM events c
                    WHERE c.user_id = e.user_id AND c.event_type = 'click'
                      AND c.ts <= e.ts) AS asof_click_ts
            FROM events e WHERE e.event_type = 'error'
        """,
        "range_join": """
            SELECT e.event_id, CAST(count(c.ts) AS BIGINT) AS n_clicks_1h
            FROM events e
            LEFT JOIN events c
              ON c.user_id = e.user_id AND c.event_type = 'click'
             AND c.ts <= e.ts AND c.ts > e.ts - INTERVAL 1 HOUR
            WHERE e.event_type = 'error'
            GROUP BY e.event_id
        """,
        "string_funcs": """
            SELECT p_partkey,
                   upper(p_name) AS u,
                   lower(p_brand) AS lo,
                   length(p_name) AS len,
                   substring(p_name, 1, 5) AS sub,
                   concat_ws('#', p_brand, p_type) AS cc,
                   replace(p_type, ' ', '_') AS rep,
                   lpad(CAST(p_size AS VARCHAR), 4, '0') AS pad,
                   reverse(p_brand) AS rev,
                   CAST(contains(p_name, 'a') AS INT) AS has_a
            FROM part
        """,
        "date_funcs": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INT) AS y,
                   CAST(month(o_orderdate) AS INT) AS m,
                   CAST(day(o_orderdate) AS INT) AS d,
                   CAST(quarter(o_orderdate) AS INT) AS q,
                   CAST(date_part('dow', o_orderdate) + 1 AS INT) AS dow,
                   strftime(CAST(o_orderdate + INTERVAL 30 DAY AS DATE), '%Y-%m-%d') AS plus30,
                   strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
                   date_trunc('month', o_orderdate) AS month_start,
                   CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
            FROM orders
        """,
        "stats_agg": """
            WITH s AS (
              SELECT l_returnflag,
                     count(*) AS n,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                     CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
                     CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS syy,
                     CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
                     min(l_quantity) AS min_qty,
                     max(l_quantity) AS max_qty
              FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, n,
                   round(sx / CAST(n AS DOUBLE), 9) AS mean_qty,
                   round((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 9) AS var_qty,
                   round(sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 9) AS std_qty,
                   round((CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                        * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS corr_qty_price,
                   min_qty, max_qty
            FROM s
        """,
        "percentiles": """
            SELECT l_linestatus,
                   quantile_cont(l_quantity, 0.25) AS p25,
                   quantile_cont(l_quantity, 0.5) AS p50,
                   quantile_cont(l_quantity, 0.75) AS p75
            FROM lineitem GROUP BY l_linestatus
        """,
        "grouping_sets": """
            SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        "conditional_funcs": """
            SELECT c_custkey,
                   CASE WHEN c_acctbal < 0 THEN 'neg'
                        WHEN c_acctbal < 5000 THEN 'mid'
                        ELSE 'high' END AS bal_band,
                   coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
                   greatest(c_acctbal, 0.0) AS bal_floor,
                   least(c_acctbal, 1000.0) AS bal_cap,
                   CAST(c_acctbal IS NULL AS INT) AS is_null_bal
            FROM customer
        """,
        "array_funcs": """
            WITH t AS (SELECT p_partkey, string_split(p_type, ' ') AS words FROM part)
            SELECT p_partkey,
                   len(words) AS n_words,
                   CAST(list_contains(words, 'brushed') AS INT) AS has_brushed,
                   array_to_string(list_sort(words), '|') AS sorted_words,
                   words[1] AS first_word,
                   words[-1] AS last_word
            FROM t
        """,
        "window_nav": """
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   lag(l_quantity) OVER w AS prev_qty,
                   lead(l_quantity) OVER w AS next_qty,
                   first_value(l_quantity) OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_qty,
                   last_value(l_quantity) OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_qty
            FROM lineitem
            WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        """,
        "ntile_rank": """
            SELECT o_orderkey,
                   ntile(4) OVER w AS quartile,
                   percent_rank() OVER w AS pr,
                   dense_rank() OVER w AS dr
            FROM orders
            WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey)
        """,
        "hash_sample": """
            SELECT count(*) AS n_sampled,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders WHERE o_orderkey % 17 = 0
        """,
        "full_outer_join": """
            WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
                       FROM customer GROUP BY 1),
                 s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
                       FROM supplier GROUP BY 1)
            SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
                   coalesce(n_customers, 0) AS n_customers,
                   coalesce(n_suppliers, 0) AS n_suppliers
            FROM c FULL OUTER JOIN s USING (nationkey)
        """,
        "cross_join": """
            SELECT r_name, o_orderstatus
            FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        """,
        "exists_subquery": """
            SELECT p_brand, count(*) AS n_parts
            FROM part p
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_partkey = p.p_partkey AND l.l_discount > 0.09)
            GROUP BY p_brand
        """,
        "scalar_subquery": """
            WITH t AS (
              SELECT o_orderstatus, o_totalprice,
                     count(*) OVER (PARTITION BY o_custkey) AS n,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          OVER (PARTITION BY o_custkey) AS DOUBLE) AS s
              FROM orders)
            SELECT o_orderstatus, count(*) AS n_above_avg
            FROM t WHERE o_totalprice * n > s
            GROUP BY o_orderstatus
        """,
        "collect_agg": """
            SELECT l_returnflag,
                   array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "argmax": """
            SELECT c_nationkey, c_custkey, c_acctbal
            FROM customer
            QUALIFY row_number() OVER (PARTITION BY c_nationkey
                                       ORDER BY c_acctbal DESC, c_custkey) = 1
        """,
        "regex_funcs": """
            SELECT p_partkey,
                   regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
                   regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
                   CAST(regexp_matches(p_name, 'red') AS INT) AS has_red,
                   regexp_extract(p_type, '(\\w+)$', 1) AS last_type_word
            FROM part
        """,
        "math_funcs": """
            SELECT l_orderkey, l_linenumber,
                   abs(l_quantity - 25) AS abs_dev,
                   CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
                   CAST(floor(l_tax * 100) AS BIGINT) AS tax_pct_floor,
                   CAST((CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) + 500) // 1000
                        AS DOUBLE) / 100 AS price_k,
                   pow(l_quantity, 2) AS qty_sq,
                   sqrt(l_quantity) AS qty_sqrt,
                   round(ln(l_quantity), 9) AS qty_ln,
                   CAST(sign(l_quantity - 25) AS INT) AS sign_dev,
                   CAST(l_orderkey % 7 AS BIGINT) AS mod7
            FROM lineitem
        """,
        "skew_salted_agg": """
            SELECT user_id, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY user_id
        """,
        "tpch_q3": """
            SELECT l_orderkey, o_orderdate,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                        AS DOUBLE) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1997-03-15'
              AND l_shipdate > TIMESTAMP '1997-03-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "tpch_q22": """
            WITH g AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s,
                              count(*) AS n
                       FROM customer WHERE c_acctbal > 0.0)
            SELECT c_nationkey, count(*) AS numcust,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
            FROM customer, g
            WHERE c_acctbal * n > s
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey
        """,
        "tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "tpch_q7": """
            SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
                   CAST(year(l_shipdate) AS INT) AS l_year,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                        AS DOUBLE) AS revenue
            FROM lineitem, orders, customer, supplier, nation n1, nation n2
            WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
              AND o_custkey = c_custkey
              AND c_nationkey = n1.n_nationkey AND s_nationkey = n2.n_nationkey
              AND n1.n_name <> n2.n_name
            GROUP BY 1, 2, 3
        """,
        "tpch_q14": """
            SELECT 100.0
                   * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                                   THEN CAST(l_extendedprice * (1 - l_discount)
                                             AS DECIMAL(18,6))
                                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue_pct
            FROM lineitem, part
            WHERE l_partkey = p_partkey
              AND l_shipdate >= TIMESTAMP '1996-09-01'
              AND l_shipdate < TIMESTAMP '1996-10-01'
        """,
        "tpch_q16": """
            SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem, part
            WHERE l_partkey = p_partkey AND p_size IN (9, 14, 23, 45)
            GROUP BY p_brand, p_size
        """,
        "tpch_q17": """
            WITH a AS (SELECT l_partkey AS p_partkey,
                              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                / count(*) AS avg_qty
                       FROM lineitem GROUP BY 1)
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                     AS avg_yearly
            FROM lineitem l, part p, a
            WHERE l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#23'
              AND a.p_partkey = p.p_partkey AND l.l_quantity * 5 < a.avg_qty
        """,
        "tpch_q19": """
            SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                        AS DOUBLE) AS revenue
            FROM lineitem, part
            WHERE l_partkey = p_partkey
              AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                    AND l_quantity BETWEEN 1 AND 11)
                OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                    AND l_quantity BETWEEN 10 AND 20)
                OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
                    AND l_quantity BETWEEN 20 AND 30))
        """,
        "tpch_q5": """
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                        AS DOUBLE) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "tpch_q6": """
            SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
                        AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_q18": """
            SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM customer, orders, lineitem
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 GROUP BY l_orderkey
                                 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 190)
              AND c_custkey = o_custkey AND o_orderkey = l_orderkey
            GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 100
        """,
        "tpch_q2": """
            WITH ps AS (SELECT l_partkey, l_suppkey,
                               min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
                        FROM lineitem GROUP BY 1, 2),
            elig AS (SELECT p_partkey, p_name, s_name, s_acctbal, n_name, cost,
                            min(cost) OVER (PARTITION BY p_partkey) AS min_cost
                     FROM ps
                     JOIN supplier ON l_suppkey = s_suppkey
                     JOIN nation   ON s_nationkey = n_nationkey
                     JOIN region   ON n_regionkey = r_regionkey
                     JOIN part     ON l_partkey = p_partkey
                     WHERE r_name = 'EUROPE' AND p_type = 'LARGE'
                       AND p_size BETWEEN 10 AND 20)
            SELECT p_partkey, p_name, s_name, s_acctbal, n_name,
                   CAST(cost AS DOUBLE) AS supplycost
            FROM elig WHERE cost = min_cost
        """,
        "tpch_q8": """
            WITH j AS (
              SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                     CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS vol,
                     n2.n_name AS supp_nation
              FROM lineitem
              JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN region   ON n1.n_regionkey = r_regionkey
              JOIN part     ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
              WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
                AND o_orderdate >= TIMESTAMP '1995-01-01'
                AND o_orderdate < TIMESTAMP '1997-01-01')
            SELECT o_year,
                   CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol
                                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                     / CAST(sum(vol) AS DOUBLE) AS mkt_share,
                   CAST(sum(vol) AS DOUBLE) AS total_volume
            FROM j GROUP BY o_year
        """,
        "tpch_q9": """
            WITH ps AS (SELECT l_partkey, l_suppkey,
                               min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
                        FROM lineitem GROUP BY 1, 2)
            SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
                        - sum(ps.cost * CAST(l.l_quantity AS DECIMAL(18,2)))
                        AS DOUBLE) AS profit
            FROM lineitem l
            JOIN ps       ON l.l_partkey = ps.l_partkey AND l.l_suppkey = ps.l_suppkey
            JOIN part     ON l.l_partkey = p_partkey
            JOIN supplier ON l.l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN orders   ON l.l_orderkey = o_orderkey
            WHERE p_name LIKE '%bolt%'
            GROUP BY n_name, o_year
        """,
        "tpch_q20": """
            WITH l95 AS (SELECT l_partkey, l_suppkey, l_quantity
                         FROM lineitem JOIN part ON l_partkey = p_partkey
                         WHERE p_name LIKE 'small%'
                           AND l_shipdate >= TIMESTAMP '1995-01-01'
                           AND l_shipdate < TIMESTAMP '1996-01-01'),
            per_ps AS (SELECT l_partkey, l_suppkey,
                              sum(CAST(l_quantity AS DECIMAL(18,2))) AS supplied
                       FROM l95 GROUP BY 1, 2),
            per_p AS (SELECT l_partkey, sum(supplied) AS total
                      FROM per_ps GROUP BY 1),
            big AS (SELECT DISTINCT l_suppkey
                    FROM per_ps JOIN per_p USING (l_partkey)
                    WHERE CAST(supplied AS DOUBLE) > 0.3 * CAST(total AS DOUBLE))
            SELECT s_name, s_acctbal
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
              AND s_suppkey IN (SELECT l_suppkey FROM big)
        """,
        "tpch_q11": """
            WITH ps AS (SELECT l_partkey, l_suppkey,
                               min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
                        FROM lineitem GROUP BY 1, 2),
            nat AS (SELECT l_partkey, cost
                    FROM ps JOIN supplier ON l_suppkey = s_suppkey
                            JOIN nation ON s_nationkey = n_nationkey
                    WHERE n_name = 'NATION_1'),
            per_part AS (SELECT l_partkey, sum(cost) AS value FROM nat GROUP BY 1)
            SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS value
            FROM per_part
            WHERE CAST(value AS DOUBLE) >
                  0.001 * (SELECT CAST(sum(value) AS DOUBLE) FROM per_part)
        """,
        "tpch_q12": """
            SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
                        THEN 'SLOW' ELSE 'FAST' END AS ship_class,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        """,
        "tpch_q13": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey) t
            GROUP BY c_count
        """,
        "tpch_q15": """
            WITH revenue AS (
              SELECT l_suppkey,
                     sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
            FROM revenue JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev = (SELECT max(rev) FROM revenue)
        """,
        "tpch_q21": """
            WITH j AS (SELECT l_orderkey, l_suppkey,
                              CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                                   THEN 1 ELSE 0 END AS late
                       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            per_os AS (SELECT l_orderkey, l_suppkey, max(late) AS supp_late
                       FROM j GROUP BY 1, 2),
            per_o AS (SELECT l_orderkey, count(*) AS n_supp, sum(supp_late) AS n_late
                      FROM per_os GROUP BY 1),
            sole AS (SELECT l_suppkey FROM per_os JOIN per_o USING (l_orderkey)
                     WHERE n_supp > 1 AND n_late = 1 AND supp_late = 1)
            SELECT s_name, numwait FROM (
              SELECT l_suppkey, count(*) AS numwait FROM sole GROUP BY 1) t
            JOIN supplier ON l_suppkey = s_suppkey
        """,
        "posexplode": """
            SELECT doc_id,
                   CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
                   unnest(toks) AS word
            FROM (SELECT doc_id, {TOKENS} AS toks FROM documents WHERE doc_id <= 50) t
        """.replace("{TOKENS}", TOKENS_SQL),
        "tpch_q10": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                        AS DOUBLE) AS revenue
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate >= TIMESTAMP '1996-10-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND l_returnflag = 'R' AND c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "union_by_name": """
            WITH u AS (
              SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= 700
              UNION ALL BY NAME
              SELECT c_custkey, c_mktsegment, c_acctbal AS acctbal
              FROM customer WHERE c_custkey > 700)
            SELECT c_mktsegment, count(*) AS n_rows,
                   count(acctbal) AS n_with_balance
            FROM u GROUP BY c_mktsegment
        """,
        "histogram": """
            SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS price_bin,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders GROUP BY 1
        """,
        "window_dist": """
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   round(cume_dist() OVER w, 9) AS cd,
                   nth_value(l_quantity, 3) OVER (PARTITION BY l_suppkey
                       ORDER BY l_quantity, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                     AS third_qty
            FROM lineitem WHERE l_suppkey <= 20
            WINDOW w AS (PARTITION BY l_suppkey
                         ORDER BY l_quantity, l_orderkey, l_linenumber)
        """,
        "intersect_all": """
            SELECT l_suppkey, count(*) AS n_common
            FROM (
              SELECT l_suppkey FROM lineitem WHERE l_discount > 0.05
              INTERSECT ALL
              SELECT l_suppkey FROM lineitem WHERE l_tax > 0.05
            )
            GROUP BY l_suppkey
        """,
        "json_funcs": """
            SELECT event_id,
                   json_extract_string(props, '$.k') AS k_str,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
            FROM events
        """,
        "array_hof": """
            WITH t AS (SELECT p_partkey, string_split(p_type, ' ') AS words FROM part)
            SELECT p_partkey,
                   CAST(len(list_filter(words, w -> length(w) > 5)) AS INT) AS n_long_words,
                   array_to_string(list_transform(words, w -> upper(w)), ',') AS upper_joined,
                   CAST(list_sum(list_transform(words, w -> length(w))) AS BIGINT) AS total_len
            FROM t
        """,
        "events_resample": """
            WITH ev AS (SELECT date_trunc('hour', ts) AS h FROM events
                        WHERE event_type = 'click'),
                 b AS (SELECT min(h) AS mn, max(h) AS mx FROM ev),
                 spine AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b),
                 hourly AS (SELECT h, count(*) AS n FROM ev GROUP BY h)
            SELECT spine.h AS hour_start, coalesce(n, 0) AS n_events
            FROM spine LEFT JOIN hourly USING (h)
        """,
        "except_all": """
            SELECT l_suppkey, count(*) AS n_remaining
            FROM (
              SELECT l_suppkey FROM lineitem WHERE l_discount > 0.05
              EXCEPT ALL
              SELECT l_suppkey FROM lineitem WHERE l_discount > 0.08
            )
            GROUP BY l_suppkey
        """,
        "agg_misc": """
            SELECT o_orderpriority,
                   min(o_orderdate) AS first_order,
                   max(o_orderdate) AS last_order,
                   bool_or(o_totalprice > 400000) AS any_jumbo,
                   bool_and(o_totalprice > 1000) AS all_over_1k,
                   count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
                   count(*) AS n_orders
            FROM orders GROUP BY o_orderpriority
        """,
        "window_range_frame": """
            SELECT o_orderkey, o_custkey,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                     PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                     RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS rolling_30d_total
            FROM orders
        """,
        "map_funcs": """
            WITH t AS (SELECT p_partkey,
                              map(['brand','type'], [p_brand, p_type]) AS mp
                       FROM part)
            SELECT p_partkey,
                   element_at(mp, 'brand')[1] AS brand_val,
                   element_at(mp, 'type')[1] AS type_val,
                   CAST(cardinality(mp) AS INT) AS n_keys,
                   array_to_string(map_keys(mp), ',') AS keys_joined
            FROM t
        """,
        "events_stream_tumbling": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "heavy_hitters": """
            SELECT word, count(*) AS cnt
            FROM (SELECT unnest({TOKENS}) AS word FROM documents) t
            GROUP BY word
            ORDER BY cnt DESC, word
            LIMIT 20
        """.replace("{TOKENS}", TOKENS_SQL),
        "ngram_jaccard": """
            WITH sh AS (
              SELECT doc_id AS id,
                     list_distinct(list_transform(
                       range(1, greatest(len(toks) - 2, 1) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
              FROM (SELECT doc_id, {TOKENS} AS toks FROM documents WHERE doc_id <= 300) t)
            SELECT * FROM (
              SELECT a.id AS id_a, b.id AS id_b,
                     round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                           / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
              FROM sh a JOIN sh b ON a.id < b.id)
            WHERE jaccard >= 0.5
        """.replace("{TOKENS}", TOKENS_SQL),
        "dedup_cc": """
            WITH RECURSIVE
            d AS (
              SELECT doc_id, text FROM documents WHERE doc_id <= 300
              UNION ALL
              SELECT doc_id + 100000, regexp_replace(text, ' ', '  ', 'g')
              FROM documents WHERE doc_id % 5 = 0 AND doc_id <= 300),
            sh AS (
              SELECT doc_id AS id,
                     list_distinct(list_transform(
                       range(1, greatest(len(toks) - 2, 1) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
              FROM (SELECT doc_id, {TOKENS} AS toks FROM d) t),
            e AS (
              SELECT a.id AS src, b.id AS dst
              FROM sh a JOIN sh b ON a.id <> b.id
              WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5),
            reach(node, r) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node)
            SELECT node, min(r) AS component FROM reach GROUP BY node
        """.replace("{TOKENS}", TOKENS_SQL),
        "cc_star": """
            WITH RECURSIVE
            d AS (
              SELECT doc_id, text FROM documents WHERE doc_id <= 300
              UNION ALL
              SELECT doc_id + 100000, regexp_replace(text, ' ', '  ', 'g')
              FROM documents WHERE doc_id % 5 = 0 AND doc_id <= 300),
            sh AS (
              SELECT doc_id AS id,
                     list_distinct(list_transform(
                       range(1, greatest(len(toks) - 2, 1) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
              FROM (SELECT doc_id, {TOKENS} AS toks FROM d) t),
            e AS (
              SELECT a.id AS src, b.id AS dst
              FROM sh a JOIN sh b ON a.id <> b.id
              WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5),
            reach(node, r) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node)
            SELECT node, min(r) AS component FROM reach GROUP BY node
        """.replace("{TOKENS}", TOKENS_SQL),
        "dedup_select_best": """
            WITH RECURSIVE
            d AS (
              SELECT doc_id, text FROM documents WHERE doc_id <= 300
              UNION ALL
              SELECT doc_id + 100000, regexp_replace(text, ' ', '  ', 'g')
              FROM documents WHERE doc_id % 5 = 0 AND doc_id <= 300),
            sh AS (
              SELECT doc_id AS id,
                     list_distinct(list_transform(
                       range(1, greatest(len(toks) - 2, 1) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
              FROM (SELECT doc_id, {TOKENS} AS toks FROM d) t),
            e AS (
              SELECT a.id AS src, b.id AS dst
              FROM sh a JOIN sh b ON a.id <> b.id
              WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5),
            reach(node, r) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node),
            cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
            scored AS (
              SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
              FROM (SELECT doc_id, {TOKENS} AS toks FROM d) t),
            lab AS (
              SELECT s.doc_id, coalesce(cc.component, s.doc_id) AS component,
                     s.n_tokens
              FROM scored s LEFT JOIN cc ON s.doc_id = cc.node)
            SELECT doc_id, component, n_tokens,
                   CAST(row_number() OVER (PARTITION BY component
                                           ORDER BY n_tokens DESC, doc_id) = 1
                        AS INT) AS kept
            FROM lab
        """.replace("{TOKENS}", TOKENS_SQL),
        "data_profile": _profile_oracle_sql(),
        "data_profile_by": _profile_by_oracle_sql(),
        "asof_forward": """
            WITH c AS (SELECT user_id, ts AS click_ts, value AS click_val
                       FROM events WHERE event_type = 'click'),
            u AS (SELECT user_id, ts AS t, 1 AS is_probe, event_id,
                         CAST(NULL AS TIMESTAMP) AS click_ts
                  FROM events WHERE event_type = 'error'
                  UNION ALL
                  SELECT user_id, click_ts AS t, 0 AS is_probe,
                         CAST(NULL AS BIGINT) AS event_id, click_ts
                  FROM c),
            m AS (SELECT user_id, is_probe, event_id,
                         min(click_ts) OVER (PARTITION BY user_id
                             ORDER BY t, is_probe DESC
                             ROWS BETWEEN CURRENT ROW
                             AND UNBOUNDED FOLLOWING) AS asof_ts
                  FROM u)
            SELECT m.event_id, m.user_id, m.asof_ts,
                   c.click_val AS asof_value
            FROM m LEFT JOIN c
              ON m.user_id = c.user_id AND m.asof_ts = c.click_ts
            WHERE m.is_probe = 1
        """,
        "asof_nearest": """
            WITH c AS (SELECT user_id, ts AS click_ts, value AS click_val
                       FROM events WHERE event_type = 'click'),
            u AS (SELECT user_id, ts AS t, 1 AS is_probe, event_id,
                         CAST(NULL AS TIMESTAMP) AS click_ts
                  FROM events WHERE event_type = 'error'
                  UNION ALL
                  SELECT user_id, click_ts AS t, 0 AS is_probe,
                         CAST(NULL AS BIGINT) AS event_id, click_ts
                  FROM c),
            m AS (SELECT user_id, t, is_probe, event_id,
                         max(click_ts) OVER (PARTITION BY user_id
                             ORDER BY t, is_probe ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS back_ts,
                         min(click_ts) OVER (PARTITION BY user_id
                             ORDER BY t, is_probe DESC
                             ROWS BETWEEN CURRENT ROW
                             AND UNBOUNDED FOLLOWING) AS fwd_ts
                  FROM u),
            sel AS (SELECT event_id, user_id,
                           CASE WHEN back_ts IS NULL THEN fwd_ts
                                WHEN fwd_ts IS NULL THEN back_ts
                                WHEN (epoch(fwd_ts) - epoch(t))
                                     < (epoch(t) - epoch(back_ts)) THEN fwd_ts
                                ELSE back_ts END AS asof_ts
                    FROM m WHERE is_probe = 1)
            SELECT s.event_id, s.user_id, s.asof_ts,
                   c.click_val AS asof_value
            FROM sel s LEFT JOIN c
              ON s.user_id = c.user_id AND s.asof_ts = c.click_ts
        """,
        "bitwise_funcs": """
            SELECT o_orderkey,
                   o_orderkey & o_custkey AS k_and_c,
                   o_orderkey | o_custkey AS k_or_c,
                   xor(o_orderkey, o_custkey) AS k_xor_c,
                   o_orderkey << 3 AS k_shl3,
                   o_orderkey >> 2 AS k_shr2,
                   CAST(bit_count(o_orderkey) AS INT) AS k_bits,
                   CAST((o_orderkey >> 4) & 1 AS INT) AS k_bit4
            FROM orders
        """,
        "struct_funcs": """
            SELECT o_orderkey,
                   o_orderstatus AS status,
                   round(o_totalprice, 2) AS price,
                   CAST(({'st': o_orderstatus, 'tp': o_totalprice}
                         > {'st': 'O', 'tp': 0.0}) AS INT) AS gt_o_zero
            FROM orders
        """,
        "url_funcs": """
            WITH u AS (SELECT o_orderkey,
                              'https://shop-' || (o_custkey % 10)
                              || '.example.com/orders/' || o_orderkey
                              || '?status=' || o_orderstatus AS url
                       FROM orders)
            SELECT o_orderkey, url,
                   regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
                   regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host,
                   regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
                   regexp_extract(url, '[?&]status=([^&]*)', 1)
                     AS status_param
            FROM u
        """,
        "events_stream_outer_join": """
            WITH c AS (SELECT event_id, ts, user_id FROM events
                       WHERE event_type = 'click'),
            p AS (SELECT event_id, ts, user_id FROM events
                  WHERE event_type = 'purchase')
            SELECT c.user_id, c.event_id AS event_a, p.event_id AS event_b
            FROM c LEFT JOIN p
              ON c.user_id = p.user_id
             AND p.ts > c.ts
             AND p.ts <= c.ts + INTERVAL 30 MINUTE
        """,
        "events_stream_late": """
            WITH top40 AS (SELECT event_id FROM events
                           ORDER BY event_id LIMIT 40),
            r AS (SELECT event_id,
                         row_number() OVER (ORDER BY event_id) AS rn
                  FROM top40),
            early AS (SELECT TIMESTAMP '2024-06-01 00:00:00'
                             + ((rn % 4) * 3600 + 1800 + rn * 10)
                               * INTERVAL 1 SECOND AS ts
                      FROM r WHERE rn <= 30)
            SELECT date_trunc('hour', ts) AS window_start,
                   count(*) AS n_events
            FROM early GROUP BY 1
        """,
        "minhash_estimate": _oracle_minhash_estimate(),
        "bfs_distances": """
            WITH e AS (
              SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              WHERE a.l_orderkey % 4 = 0 AND b.l_orderkey % 4 = 0),
            und AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
            d0 AS (SELECT DISTINCT p_partkey AS node, 0 AS dist
                   FROM part WHERE p_partkey < 5),
            d1 AS (SELECT node, min(dist) AS dist FROM (
                     SELECT node, dist FROM d0
                     UNION ALL
                     SELECT und.b AS node, d0.dist + 1 AS dist
                     FROM und JOIN d0 ON und.a = d0.node) GROUP BY 1),
            d2 AS (SELECT node, min(dist) AS dist FROM (
                     SELECT node, dist FROM d1
                     UNION ALL
                     SELECT und.b AS node, d1.dist + 1 AS dist
                     FROM und JOIN d1 ON und.a = d1.node) GROUP BY 1)
            SELECT node, CAST(dist AS INT) AS dist FROM d2
        """,
        "cluster_topics": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                       FROM embeddings),
            cents AS (SELECT vec_id AS cell, ve AS centroid FROM e
                      WHERE vec_id < 8),
            scored0 AS (SELECT e.vec_id, c.cell,
                               list_cosine_similarity(e.ve, c.centroid) AS sim
                        FROM e, cents c),
            assigned AS (SELECT vec_id AS doc_id, cell FROM scored0
                         QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cell) = 1),
            toks AS (SELECT a.cell, unnest({TOKENS_SQL}) AS term
                     FROM documents d JOIN assigned a USING (doc_id)),
            tf AS (SELECT cell, term, count(*) AS tf
                   FROM toks GROUP BY 1, 2),
            dfc AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
            s AS (SELECT tf.cell, tf.term, tf.tf,
                         round(tf.tf * ln(8.0 / dfc), 6) AS score
                  FROM tf JOIN dfc USING (term))
            SELECT cell, term, tf, score, rank FROM
              (SELECT *, row_number() OVER (PARTITION BY cell
                       ORDER BY score DESC, term) AS rank FROM s)
            WHERE rank <= 3
        """,
        "bigram_logprob": f"""
            WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
            pairs AS (SELECT doc_id,
                             unnest(list_transform(range(1, len(toks)),
                               i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS p
                      FROM tok),
            pw AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pairs),
            uni AS (SELECT w1, count(*) AS c1 FROM
                      (SELECT unnest(toks) AS w1 FROM tok) GROUP BY 1),
            vs AS (SELECT count(*) AS v FROM uni),
            big AS (SELECT w1, w2, count(*) AS cab FROM pw GROUP BY 1, 2),
            lm AS (SELECT big.w1, big.w2,
                          CAST(round(ln((cab + 0.5) / (c1 + 0.5 * v)), 9)
                               AS DECIMAL(16,9)) AS lp
                   FROM big JOIN uni USING (w1), vs),
            scored AS (SELECT pw.doc_id, count(*) AS n_trans,
                              round(CAST(sum(lp) AS DOUBLE) / count(*), 9)
                                AS avg_logprob
                       FROM pw JOIN lm USING (w1, w2) GROUP BY 1)
            SELECT t.doc_id,
                   COALESCE(s.n_trans, 0) AS n_trans, s.avg_logprob
            FROM tok t LEFT JOIN scored s USING (doc_id)
        """,
        "containment_lsh": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id <= 300
              UNION ALL
              SELECT doc_id + 200000 AS doc_id,
                     array_to_string(({TOKENS_SQL})[1:30], ' ') AS text
              FROM documents WHERE doc_id <= 300 AND doc_id % 7 = 0),
            sig AS {_sql_minhash_sig('corpus', 32, 3)},
            band AS ({_sql_minhash_band_rows('sig', 32, 8)}),
            cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                     FROM band a JOIN band b USING (band, bh)
                     WHERE a.id < b.id),
            cand2 AS (SELECT id_a, id_b FROM cand
                      UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM cand),
            sh AS (SELECT doc_id AS id,
                          list_distinct(list_transform(
                            range(1, greatest(len(toks) - 2, 1) + 1),
                            i -> array_to_string(toks[i:i+2], ' '))) AS sh
                   FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM corpus) t)
            SELECT * FROM (
              SELECT c.id_a, c.id_b,
                     round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                           / len(a.sh), 6) AS containment
              FROM cand2 c JOIN sh a ON c.id_a = a.id
                           JOIN sh b ON c.id_b = b.id)
            WHERE containment >= 0.5
        """,
        "rolling_corr": """
            WITH hourly AS (
              SELECT date_trunc('hour', ts) AS hour,
                     CAST(sum(CAST(CASE WHEN event_type = 'click'
                                        THEN value ELSE 0.0 END
                                   AS DECIMAL(18,2))) AS DOUBLE) AS x,
                     CAST(sum(CAST(CASE WHEN event_type = 'purchase'
                                        THEN value ELSE 0.0 END
                                   AS DECIMAL(18,2))) AS DOUBLE) AS y
              FROM events WHERE event_type IN ('click', 'purchase')
              GROUP BY 1),
            m AS (SELECT hour, x, y,
                         count(*) OVER w AS n,
                         sum(CAST(x AS DECIMAL(18,2))) OVER w AS sx,
                         sum(CAST(y AS DECIMAL(18,2))) OVER w AS sy,
                         sum(CAST(x AS DECIMAL(18,2))
                             * CAST(y AS DECIMAL(18,2))) OVER w AS sxy,
                         sum(CAST(x AS DECIMAL(18,2))
                             * CAST(x AS DECIMAL(18,2))) OVER w AS sxx,
                         sum(CAST(y AS DECIMAL(18,2))
                             * CAST(y AS DECIMAL(18,2))) OVER w AS syy
                  FROM hourly
                  WINDOW w AS (ORDER BY hour
                               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
            SELECT hour, x, y, CAST(n AS BIGINT) AS n_obs,
                   CASE WHEN n >= 2
                             AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                        THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
                   END AS corr
            FROM m
        """,
        "fuzzy_join": """
            WITH n AS (SELECT p_name, min(p_partkey) AS pid
                       FROM part GROUP BY 1)
            SELECT a.pid AS id_a, b.pid AS id_b,
                   a.p_name AS key_a, b.p_name AS key_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
            FROM n a JOIN n b ON a.pid < b.pid
            WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
        """,
        "apss_cosine": """
            WITH d AS (SELECT doc_id, list_distinct({TOKENS}) AS toks
                       FROM documents WHERE doc_id % 5 = 0),
            tok AS (SELECT doc_id, unnest(toks) AS w FROM d),
            sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
            ov AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
                   FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
            SELECT ia AS id_a, ib AS id_b, CAST(c AS BIGINT) AS overlap,
                   CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
                   round(c / sqrt(CAST(x.n AS DOUBLE) * y.n), 9) AS cos_sim
            FROM ov JOIN sz x ON ia = x.doc_id JOIN sz y ON ib = y.doc_id
            WHERE 100 * c * c >= 81 * x.n * y.n
        """.replace("{TOKENS}", TOKENS_SQL),
        "activity_islands": """
            WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                          FROM events),
            r AS (SELECT user_id, day,
                         day - CAST(row_number() OVER
                               (PARTITION BY user_id ORDER BY day) AS INTEGER)
                           AS anchor
                  FROM days),
            isl AS (SELECT user_id, anchor, count(*) AS len,
                           min(day) AS s, max(day) AS e
                    FROM r GROUP BY 1, 2)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
                   CAST(max(len) AS BIGINT) AS longest_streak,
                   CAST(sum(len) AS BIGINT) AS active_days,
                   strftime(min(s), '%Y-%m-%d') AS first_day,
                   strftime(max(e), '%Y-%m-%d') AS last_day
            FROM isl GROUP BY 1
        """,
        "interpolate": """
            WITH hourly AS (
              SELECT date_trunc('hour', ts) AS h,
                     CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
              FROM events WHERE event_type = 'error' GROUP BY 1),
            span AS (SELECT min(h) AS t0, max(h) AS t1 FROM hourly),
            grid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h
                     FROM span),
            j AS (SELECT g.h, hv.v FROM grid g LEFT JOIN hourly hv USING (h)),
            w AS (SELECT h, v,
                    last_value((CASE WHEN v IS NOT NULL
                                     THEN {'t': h, 'v': v} END) IGNORE NULLS)
                      OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS pv,
                    first_value((CASE WHEN v IS NOT NULL
                                      THEN {'t': h, 'v': v} END) IGNORE NULLS)
                      OVER (ORDER BY h ROWS BETWEEN CURRENT ROW
                                              AND UNBOUNDED FOLLOWING) AS nv
                  FROM j)
            SELECT h AS hour,
                   CASE WHEN v IS NOT NULL THEN v
                        WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                          round(pv.v + (nv.v - pv.v)
                            * (CAST(epoch_us(h)//1000000
                                    - epoch_us(pv.t)//1000000 AS DOUBLE)
                               / CAST(epoch_us(nv.t)//1000000
                                      - epoch_us(pv.t)//1000000 AS DOUBLE)), 9)
                   END AS value,
                   v IS NULL AS filled
            FROM w
        """,
        "attribution": """
            WITH k AS (SELECT user_id AS u, ts AS t, event_type AS et,
                              value AS val,
                              CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END AS kind
                       FROM events
                       WHERE event_type IN ('purchase','click','view','signup')),
            w AS (SELECT *,
                    last_value((CASE WHEN kind = 0
                                     THEN {'tt': t, 'ch': et} END) IGNORE NULLS)
                      OVER (PARTITION BY u ORDER BY t, kind, et
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS pt
                  FROM k),
            a AS (SELECT CASE WHEN pt IS NOT NULL
                               AND epoch_us(t)//1000000
                                   - epoch_us(pt.tt)//1000000 <= 604800
                              THEN pt.ch ELSE '(direct)' END AS channel, val
                  FROM w WHERE kind = 1)
            SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
                   CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM a GROUP BY 1
        """,
        "curation_pipeline": f"""
            WITH corpus AS (SELECT doc_id, text, source, n_chars
                            FROM documents WHERE doc_id % 20 <> 0),
            sc AS (SELECT doc_id, text, source, n_chars,
                     len(list_distinct(list_filter({TOKENS_SQL},
                       x -> list_contains([{{EN}}], x)))) AS s_en,
                     len(list_distinct(list_filter({TOKENS_SQL},
                       x -> list_contains([{{DE}}], x)))) AS s_de,
                     len(list_distinct(list_filter({TOKENS_SQL},
                       x -> list_contains([{{FR}}], x)))) AS s_fr,
                     len(list_distinct(list_filter({TOKENS_SQL},
                       x -> list_contains([{{ES}}], x)))) AS s_es
                   FROM corpus),
            en AS (SELECT doc_id, text, source, n_chars FROM sc
                   WHERE greatest(s_en, s_de, s_fr, s_es) > 0
                     AND s_en = greatest(s_en, s_de, s_fr, s_es)),
            gated AS (SELECT doc_id, text, source, n_chars FROM en
                      WHERE len({TOKENS_SQL}) >= 5
                        AND (CASE WHEN length(text) > 0
                                  THEN length(regexp_replace(text,
                                         '[^0-9]', '', 'g')) / length(text)
                                  ELSE 0.0 END) < 0.2
                        AND (CASE WHEN length(text) > 0
                                  THEN length(regexp_replace(text,
                                         '[^A-Z]', '', 'g')) / length(text)
                                  ELSE 0.0 END) < 0.3),
            ded AS (SELECT * FROM gated WHERE doc_id IN (
                      SELECT min(doc_id) FROM gated
                      GROUP BY regexp_replace(lower(trim(text)),
                                              '\\s+', ' ', 'g'))),
            bg AS (SELECT DISTINCT
                     unnest(list_transform(
                       range(1, greatest(len(toks) - 7, 1) + 1),
                       i -> array_to_string(toks[i:i+7], ' '))) AS g
                   FROM (SELECT {TOKENS_SQL} AS toks FROM documents
                         WHERE doc_id % 20 = 0) b),
            contaminated AS (
              SELECT DISTINCT doc_id FROM (
                SELECT d.doc_id,
                       unnest(list_distinct(list_transform(
                         range(1, greatest(len(toks) - 7, 1) + 1),
                         i -> array_to_string(toks[i:i+7], ' ')))) AS g
                FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM ded) d) x
              JOIN bg USING (g)),
            clean AS (SELECT * FROM ded
                      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
            sp AS (SELECT source, n_chars,
                     ({{HEX15}}) % 1048576 AS h
                   FROM (SELECT source, n_chars,
                                md5(doc_id::VARCHAR) AS mh FROM clean) z)
            SELECT source,
                   CASE WHEN h < 838860 THEN 'train'
                        WHEN h < 943718 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM sp GROUP BY 1, 2
        """.replace("{EN}", lang_scores["en"])
           .replace("{DE}", lang_scores["de"])
           .replace("{FR}", lang_scores["fr"])
           .replace("{ES}", lang_scores["es"])
           .replace("{HEX15}", _sql_hex15("mh", 0)),
        "temporal_join": """
            WITH flagged AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN row_number() OVER w = 1
                               OR lag(event_type) OVER w
                                  IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events
              WHERE event_type IN ('signup', 'login', 'error')
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), iv AS (
              SELECT user_id, event_type, ts AS valid_from,
                     lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS valid_to
              FROM flagged WHERE chg = 1
            )
            SELECT f.event_id, f.user_id, f.value,
                   COALESCE(i.event_type, '(none)') AS status
            FROM (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type = 'purchase') f
            LEFT JOIN iv i
              ON i.user_id = f.user_id
             AND i.valid_from <= f.ts
             AND (i.valid_to IS NULL OR f.ts < i.valid_to)
        """,
        "collapse_lines": """
            WITH l AS (SELECT doc_id,
                              string_split(replace(text, ' ', chr(10)),
                                           chr(10)) AS ls
                       FROM documents),
            k AS (SELECT doc_id, ls,
                         list_filter(ls, (x, i) -> i = 1 OR x != ls[i-1])
                           AS kept
                  FROM l)
            SELECT doc_id,
                   CAST(len(ls) AS BIGINT) AS n_lines_in,
                   CAST(len(kept) AS BIGINT) AS n_lines_out,
                   CAST(len(ls) - len(kept) AS BIGINT) AS n_removed,
                   md5(array_to_string(kept, chr(10))) AS clean_md5
            FROM k
        """,
        "negative_sampling": """
            WITH idx AS (SELECT doc_id AS id,
                                row_number() OVER (ORDER BY doc_id) - 1
                                  AS ix
                         FROM documents),
            nn AS (SELECT count(*) AS n FROM idx),
            draws AS (
              SELECT i.id, i.ix, nn.n, j,
                     ({HEX15}) % nn.n AS draw
              FROM idx i, nn, unnest([1, 2, 3, 4]) AS t(j)),
            resolved AS (
              SELECT id, j,
                     CASE WHEN draw = ix THEN (draw + 1) % n
                          ELSE draw END AS neg_ix
              FROM draws)
            SELECT r.id AS anchor, CAST(r.j AS BIGINT) AS j,
                   x.id AS neg
            FROM resolved r JOIN idx x ON x.ix = r.neg_ix
        """.replace(
            "{HEX15}",
            _sql_hex15("md5(id::VARCHAR || ':' || j::VARCHAR || ':' || '7')"),
        ),
        "linreg": """
            WITH hourly AS (
              SELECT event_type, date_trunc('hour', ts) AS h,
                     CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
              FROM events GROUP BY 1, 2),
            hx AS (SELECT event_type, y,
                          (epoch_us(h)//1000000 // 3600) % 100000 AS x
                   FROM hourly),
            g AS (SELECT event_type, count(*) AS n,
                         sum(CAST(x AS DECIMAL(18,2))) AS sx,
                         sum(CAST(y AS DECIMAL(18,2))) AS sy,
                         sum(CAST(x AS DECIMAL(18,2))
                             * CAST(y AS DECIMAL(18,2))) AS sxy,
                         sum(CAST(x AS DECIMAL(18,2))
                             * CAST(x AS DECIMAL(18,2))) AS sxx,
                         sum(CAST(y AS DECIMAL(18,2))
                             * CAST(y AS DECIMAL(18,2))) AS syy
                  FROM hx GROUP BY 1)
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   CASE WHEN n >= 2 AND
                             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                        THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                                   9)
                   END AS slope,
                   CASE WHEN n >= 2 AND
                             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                        THEN round((CAST(sy AS DOUBLE)
                                    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                          - CAST(sx AS DOUBLE)
                                            * CAST(sx AS DOUBLE)))
                                      * CAST(sx AS DOUBLE))
                                   / CAST(n AS DOUBLE), 9)
                   END AS intercept,
                   CASE WHEN n >= 2 AND
                             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                             AND
                             (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                        THEN round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                                    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                       - CAST(sx AS DOUBLE)
                                         * CAST(sy AS DOUBLE)))
                                   / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                       - CAST(sx AS DOUBLE)
                                         * CAST(sx AS DOUBLE))
                                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                         - CAST(sy AS DOUBLE)
                                           * CAST(sy AS DOUBLE))), 9)
                   END AS r2
            FROM g
        """,
        "clustering_coeff": """
            WITH e AS (
              SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              WHERE a.l_orderkey % 2 = 0),
            deg AS (SELECT n, count(*) AS degree
                    FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
                    GROUP BY 1),
            tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                    FROM e e1
                    JOIN e e2 ON e2.a = e1.b
                    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
            pn AS (SELECT n, count(*) AS n_triangles
                   FROM (SELECT x AS n FROM tri UNION ALL
                         SELECT y FROM tri UNION ALL
                         SELECT z FROM tri)
                   GROUP BY 1)
            SELECT d.n AS node, CAST(d.degree AS BIGINT) AS degree,
                   CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
                   CASE WHEN d.degree >= 2
                        THEN round(CAST(2 * COALESCE(pn.n_triangles, 0)
                                        AS DOUBLE)
                                   / CAST(d.degree * (d.degree - 1) AS DOUBLE),
                                   9)
                   END AS coeff
            FROM deg d LEFT JOIN pn ON pn.n = d.n
        """,
        "events_stream_enrich": """
            WITH dim AS (SELECT DISTINCT user_id,
                                CAST(user_id % 5 AS BIGINT) AS segment
                         FROM events)
            SELECT d.segment,
                   CAST(count(*) AS BIGINT) AS n_purchases,
                   CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
                     AS revenue
            FROM events e JOIN dim d USING (user_id)
            WHERE e.event_type = 'purchase'
            GROUP BY 1
        """,
        "events_stream_ivm": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_value
            FROM events GROUP BY 1
        """,
        "session_baskets": """
            WITH w1 AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts)//1000000
                                  - epoch_us(lag(ts) OVER w)//1000000 > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sessed AS (
              SELECT user_id, event_type,
                     sum(new_sess) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND CURRENT ROW) AS sess
              FROM w1),
            bi0 AS (SELECT DISTINCT user_id::VARCHAR || ':' || sess::VARCHAR
                             AS basket, event_type AS item
                    FROM sessed),
            -- mirror the operator's max_basket_items=1000 exclusion
            bi AS (SELECT basket, item FROM (
                     SELECT basket, item,
                            count(*) OVER (PARTITION BY basket) AS _n
                     FROM bi0) t WHERE _n <= 1000),
            nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM bi),
            isup AS (SELECT item, count(*) AS support_i FROM bi GROUP BY 1),
            p AS (SELECT a.item AS ia, b.item AS ib, count(*) AS support
                  FROM bi a JOIN bi b
                    ON a.basket = b.basket AND a.item < b.item
                  GROUP BY 1, 2 HAVING count(*) >= 5)
            SELECT p.ia AS item_a, p.ib AS item_b,
                   CAST(p.support AS BIGINT) AS support,
                   CAST(sa.support_i AS BIGINT) AS support_a,
                   CAST(sb.support_i AS BIGINT) AS support_b,
                   round(CAST(p.support * nb.n_baskets AS DOUBLE)
                         / CAST(sa.support_i * sb.support_i AS DOUBLE), 9)
                     AS lift
            FROM p JOIN isup sa ON p.ia = sa.item
                   JOIN isup sb ON p.ib = sb.item, nb
        """,
        "repurchase_interval": """
            WITH g AS (
              SELECT date_diff('day', CAST(ts AS DATE),
                               CAST(lead(ts) OVER w AS DATE)) AS gap_days
              FROM events WHERE event_type = 'purchase'
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT CAST(count(*) AS BIGINT) AS n_intervals,
                   quantile_cont(gap_days, 0.25) AS p25_days,
                   quantile_cont(gap_days, 0.5) AS p50_days,
                   quantile_cont(gap_days, 0.75) AS p75_days,
                   CAST(max(gap_days) AS BIGINT) AS max_days
            FROM g WHERE gap_days IS NOT NULL
        """,
        "hhi_concentration": """
            WITH ps AS (SELECT l_partkey, l_suppkey,
                               CAST(sum(CAST(l_extendedprice
                                             AS DECIMAL(18,2))) * 100
                                    AS BIGINT) AS c
                        FROM lineitem GROUP BY 1, 2),
            pp AS (SELECT l_partkey, count(*) AS n_suppliers,
                          sum(c) AS s, sum(c * c) AS sq
                   FROM ps GROUP BY 1)
            SELECT l_partkey, CAST(n_suppliers AS BIGINT) AS n_suppliers,
                   round(CAST(sq AS DOUBLE)
                         / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 9)
                     AS hhi
            FROM pp WHERE n_suppliers >= 2
            ORDER BY hhi ASC, l_partkey LIMIT 25
        """,
        "dup_cluster_sizes": """
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, regexp_replace(text, ' ', '  ', 'g')
              FROM documents WHERE doc_id % 5 = 0),
            g AS (SELECT count(*) AS n FROM d
                  GROUP BY regexp_replace(lower(trim(text)),
                                          '\\s+', ' ', 'g')
                  HAVING count(*) > 1)
            SELECT CAST(n AS BIGINT) AS cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST((n - 1) * count(*) AS BIGINT)
                     AS rows_removed_by_dedup
            FROM g GROUP BY n
        """,
        "activity_heatmap": """
            SELECT strftime(ts, '%a') AS dow,
                   CAST(hour(ts) AS BIGINT) AS hour,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "pareto_80_20": """
            WITH rev AS (SELECT l_partkey,
                                CAST(sum(CAST(l_extendedprice
                                              AS DECIMAL(18,2))) * 100
                                     AS BIGINT) AS c
                         FROM lineitem GROUP BY 1),
            cum AS (SELECT l_partkey, c,
                           sum(c) OVER (ORDER BY c DESC, l_partkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW) AS cm,
                           sum(c) OVER () AS tot
                    FROM rev)
            SELECT CAST(count(*) AS BIGINT) AS n_parts,
                   CAST(least(sum(CASE WHEN cm * 10 <= tot * 8
                                       THEN 1 ELSE 0 END) + 1,
                              count(*)) AS BIGINT) AS n_parts_to_80,
                   CAST(min(tot) AS BIGINT) AS total_cents
            FROM cum
        """,
        "rank_movers": """
            WITH b AS (SELECT min(o_orderdate) AS d0, max(o_orderdate) AS d1
                       FROM orders),
            h AS (SELECT l.l_partkey, l.l_extendedprice,
                         CASE WHEN date_diff('day', b.d0, o.o_orderdate) * 2
                                   <= date_diff('day', b.d0, b.d1)
                              THEN 'H1' ELSE 'H2' END AS half
                  FROM lineitem l
                  JOIN orders o ON l.l_orderkey = o.o_orderkey, b),
            rev AS (SELECT half, l_partkey,
                           sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
                    FROM h GROUP BY 1, 2),
            rk AS (SELECT half, l_partkey,
                          row_number() OVER (PARTITION BY half
                                             ORDER BY r DESC, l_partkey)
                            AS rnk
                   FROM rev)
            SELECT h1.l_partkey,
                   CAST(h1.rnk AS BIGINT) AS rank_h1,
                   CAST(h2.rnk AS BIGINT) AS rank_h2,
                   CAST(h1.rnk - h2.rnk AS BIGINT) AS rank_delta
            FROM (SELECT * FROM rk WHERE half = 'H1') h1
            JOIN (SELECT * FROM rk WHERE half = 'H2') h2
              USING (l_partkey)
            ORDER BY abs(h1.rnk - h2.rnk) DESC, l_partkey
            LIMIT 20
        """,
        "time_weighted_avg": """
            WITH iv AS (
              SELECT event_type AS k,
                     CAST(value AS DECIMAL(18,2)) AS v,
                     epoch_us(lead(ts) OVER w)//1000000
                       - epoch_us(ts)//1000000 AS dt
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY ts))
            SELECT k AS event_type,
                   CAST(count(*) AS BIGINT) AS n_intervals,
                   CAST(sum(dt) AS BIGINT) AS total_seconds,
                   CASE WHEN sum(dt) > 0
                        THEN round(CAST(sum(v * dt) AS DOUBLE)
                                   / CAST(sum(dt) AS DOUBLE), 9)
                   END AS twa
            FROM iv WHERE dt IS NOT NULL
            GROUP BY 1
        """,
        "price_reconciliation": """
            WITH d AS (
              SELECT l_orderkey,
                     sum(CAST(round(
                       CAST(l_extendedprice AS DECIMAL(18,6))
                       * (1 - CAST(l_discount AS DECIMAL(18,6)))
                       * (1 + CAST(l_tax AS DECIMAL(18,6))), 2)
                       AS DECIMAL(18,2))) AS derived_total
              FROM lineitem GROUP BY 1),
            j AS (SELECT o.o_orderstatus,
                         CAST(o.o_totalprice AS DECIMAL(18,2)) AS stored,
                         COALESCE(d.derived_total,
                                  CAST(0 AS DECIMAL(18,2))) AS derived
                  FROM orders o LEFT JOIN d ON d.l_orderkey = o.o_orderkey)
            SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(abs(stored - derived)) AS DOUBLE)
                     AS sum_abs_delta,
                   CAST(max(abs(stored - derived)) AS DOUBLE)
                     AS max_abs_delta,
                   CAST(sum(CASE WHEN stored <> derived THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_mismatched
            FROM j GROUP BY 1
        """,
        "new_vs_returning": """
            WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                        FROM events),
            j AS (SELECT d, min(d) OVER (PARTITION BY user_id) AS cohort
                  FROM ud)
            SELECT strftime(d, '%Y-%m-%d') AS day,
                   CAST(sum(CASE WHEN d = cohort THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_new,
                   CAST(sum(CASE WHEN d <> cohort THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_returning
            FROM j GROUP BY 1
        """,
        "dau_mau": """
            WITH e AS (SELECT date_trunc('day', ts) AS h, user_id
                       FROM events),
            span AS (SELECT min(h) AS t0, max(h) AS t1 FROM e),
            grid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 DAY))
                       AS t FROM span),
            sd AS (SELECT h, count(DISTINCT user_id) AS dau
                   FROM e GROUP BY 1)
            SELECT strftime(g.t, '%Y-%m-%d') AS day,
                   CAST(COALESCE(sd.dau, 0) AS BIGINT) AS dau,
                   CAST((SELECT count(DISTINCT e2.user_id) FROM e e2
                         WHERE e2.h <= g.t
                           AND e2.h >= g.t - INTERVAL 29 DAY) AS BIGINT)
                     AS mau,
                   round(CAST(COALESCE(sd.dau, 0) AS DOUBLE)
                         / CAST((SELECT count(DISTINCT e2.user_id) FROM e e2
                                 WHERE e2.h <= g.t
                                   AND e2.h >= g.t - INTERVAL 29 DAY)
                                AS DOUBLE), 9) AS stickiness
            FROM grid g LEFT JOIN sd ON sd.h = g.t
        """,
        "cohort_ltv": """
            WITH cohorted AS (
              SELECT event_type, value, CAST(ts AS DATE) AS d,
                     min(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
                       AS cohort
              FROM events),
            weekly AS (
              SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
                     date_diff('day', cohort, d) // 7 AS week_n,
                     sum(CAST(value AS DECIMAL(18,2))) AS rev
              FROM cohorted WHERE event_type = 'purchase'
              GROUP BY 1, 2)
            SELECT cohort_day, CAST(week_n AS BIGINT) AS week_n,
                   CAST(rev AS DOUBLE) AS week_revenue,
                   CAST(sum(rev) OVER (PARTITION BY cohort_day
                                       ORDER BY week_n
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW) AS DOUBLE)
                     AS cum_revenue
            FROM weekly
        """,
        "rfm_segments": """
            WITH h AS (SELECT max(CAST(ts AS DATE)) AS horizon FROM events),
            pu AS (SELECT user_id,
                          date_diff('day', max(CAST(ts AS DATE)),
                                    (SELECT horizon FROM h)) AS recency,
                          count(*) AS frequency,
                          sum(CAST(value AS DECIMAL(18,2))) AS monetary
                   FROM events WHERE event_type = 'purchase'
                   GROUP BY 1),
            s AS (SELECT user_id, monetary,
                         ntile(5) OVER (ORDER BY recency DESC, user_id)
                           AS r_score,
                         ntile(5) OVER (ORDER BY frequency ASC, user_id)
                           AS f_score,
                         ntile(5) OVER (ORDER BY monetary ASC, user_id)
                           AS m_score
                  FROM pu)
            SELECT r_score, f_score, m_score,
                   CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(monetary) AS DOUBLE) AS revenue
            FROM s GROUP BY 1, 2, 3
        """,
        "entry_exit": """
            WITH w1 AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts)//1000000
                                  - epoch_us(lag(ts) OVER w)//1000000 > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sessed AS (
              SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                     AND CURRENT ROW) AS sess
              FROM w1),
            per_sess AS (
              SELECT user_id, sess,
                     min(struct_pack(ts := ts, event_id := event_id,
                                     event_type := event_type)) AS f,
                     max(struct_pack(ts := ts, event_id := event_id,
                                     event_type := event_type)) AS l,
                     count(*) AS n
              FROM sessed GROUP BY 1, 2),
            marked AS (SELECT f.event_type AS entry_type,
                              l.event_type AS exit_type,
                              n = 1 AS is_bounce
                       FROM per_sess),
            e AS (SELECT entry_type AS event_type, count(*) AS n_entries,
                         sum(CASE WHEN is_bounce THEN 1 ELSE 0 END)
                           AS n_bounces
                  FROM marked GROUP BY 1),
            x AS (SELECT exit_type AS event_type, count(*) AS n_exits
                  FROM marked GROUP BY 1)
            SELECT COALESCE(e.event_type, x.event_type) AS event_type,
                   CAST(COALESCE(e.n_entries, 0) AS BIGINT) AS n_entries,
                   CAST(COALESCE(x.n_exits, 0) AS BIGINT) AS n_exits,
                   CAST(COALESCE(e.n_bounces, 0) AS BIGINT) AS n_bounces
            FROM e FULL OUTER JOIN x ON e.event_type = x.event_type
        """,
        "order_lifecycle": """
            WITH po AS (
              SELECT o.o_orderpriority,
                     date_diff('day', o.o_orderdate, min(l.l_shipdate))
                       AS d_first,
                     date_diff('day', o.o_orderdate, max(l.l_shipdate))
                       AS d_last
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              GROUP BY l.l_orderkey, o.o_orderpriority, o.o_orderdate)
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
                   quantile_cont(d_first, 0.5) AS p50_days_first_ship,
                   quantile_cont(d_first, 0.9) AS p90_days_first_ship,
                   quantile_cont(d_last, 0.5) AS p50_days_complete,
                   quantile_cont(d_last, 0.9) AS p90_days_complete,
                   CAST(max(d_last) AS BIGINT) AS max_days_complete
            FROM po GROUP BY 1
        """,
        "lsh_s_curve": """
            WITH sub0 AS (SELECT doc_id, text FROM documents
                          WHERE doc_id % 5 = 0),
            var AS (SELECT doc_id + 100000 AS doc_id,
                           array_to_string(
                             toks[1:CAST(greatest(1,
                               (len(toks) * (30 + 10 * (doc_id % 7))) // 100)
                               AS BIGINT)], ' ') AS text
                    FROM (SELECT doc_id, {TOKENS} AS toks FROM sub0) tv),
            sub AS (SELECT doc_id, text FROM sub0
                    UNION ALL SELECT doc_id, text FROM var),
            sh AS (SELECT id, unnest(list_distinct(list_transform(
                     range(1, greatest(len(toks) - 4, 1) + 1),
                     i -> array_to_string(toks[i:i+4], ' ')))) AS s
                   FROM (SELECT doc_id AS id, {TOKENS} AS toks
                         FROM sub) t),
            sz AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
            ov AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
                   FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
                   GROUP BY 1, 2),
            truth AS (SELECT ov.id_a, ov.id_b,
                             least(9, (10 * c) // (x.n + y.n - c)) AS bin
                      FROM ov JOIN sz x ON ov.id_a = x.id
                              JOIN sz y ON ov.id_b = y.id),
            sig AS {SIG},
            band AS ({BAND}),
            cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                     FROM band a JOIN band b USING (band, bh)
                     WHERE a.id < b.id)
            SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(count(cand.id_a) AS BIGINT) AS n_candidates,
                   round(CAST(count(cand.id_a) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE), 9) AS capture_rate
            FROM truth LEFT JOIN cand USING (id_a, id_b)
            GROUP BY 1
        """.replace("{TOKENS}", TOKENS_SQL)
           .replace("{SIG}", _sql_minhash_sig("sub", 32, 5))
           .replace("{BAND}", _sql_minhash_band_rows("sig", 32, 8)),
        "pps_sample": """
            WITH b AS (SELECT o_orderkey, o_orderstatus,
                              CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                                         * 100) AS BIGINT) AS weight_scaled
                       FROM orders),
            c AS (SELECT *,
                         sum(weight_scaled) OVER (ORDER BY o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cw,
                         sum(weight_scaled) OVER () AS W
                  FROM b)
            SELECT o_orderkey, o_orderstatus, weight_scaled,
                   CAST((cw * 100) // W
                        - ((cw - weight_scaled) * 100) // W AS BIGINT)
                     AS n_hits
            FROM c
            WHERE (cw * 100) // W - ((cw - weight_scaled) * 100) // W >= 1
        """,
        "schema_evolution": """
            WITH evo AS (
              SELECT o_orderkey, o_orderstatus,
                     CAST(NULL AS DOUBLE) AS o_totalprice
              FROM orders WHERE o_orderkey % 2 = 0
              UNION ALL
              SELECT o_orderkey, o_orderstatus, o_totalprice
              FROM orders WHERE o_orderkey % 2 = 1)
            SELECT o_orderstatus,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(o_totalprice) AS BIGINT) AS n_with_price,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_price
            FROM evo GROUP BY 1
        """,
        "referential_integrity": """
            SELECT 'orders->customer' AS relationship,
                   CAST(count(*) AS BIGINT) AS n_orphans
            FROM orders o WHERE NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
            UNION ALL
            SELECT 'lineitem->orders',
                   CAST(count(*) AS BIGINT)
            FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
            UNION ALL
            SELECT 'lineitem->part',
                   CAST(count(*) AS BIGINT)
            FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
            UNION ALL
            SELECT 'lineitem->supplier',
                   CAST(count(*) AS BIGINT)
            FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
            UNION ALL
            SELECT 'customer->nation',
                   CAST(count(*) AS BIGINT)
            FROM customer c WHERE NOT EXISTS
              (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        """,
        "dense_index": """
            SELECT doc_id, n_chars,
                   CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1
                        AS BIGINT) AS idx
            FROM documents
        """,
        "label_separability": """
            WITH ex AS (
              SELECT vec_id, label,
                     CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
                       AS pos,
                     unnest(embedding) AS x
              FROM embeddings),
            cent AS (
              SELECT label, pos,
                     CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9)))
                          AS DOUBLE) / count(*) AS c
              FROM ex GROUP BY 1, 2),
            pair AS (
              SELECT a.label AS la, b.label AS lb,
                     round(sqrt(CAST(sum(CAST(round((a.c - b.c)
                                                    * (a.c - b.c), 9)
                                              AS DECIMAL(28,9)))
                                     AS DOUBLE)), 9) AS dist
              FROM cent a JOIN cent b
                ON a.pos = b.pos AND a.label <> b.label
              GROUP BY 1, 2),
            nearest AS (
              SELECT la AS label, lb AS nearest_label, dist AS inter_dist
              FROM (SELECT la, lb, dist,
                           row_number() OVER (PARTITION BY la
                                              ORDER BY dist ASC, lb ASC)
                             AS rn
                    FROM pair) r WHERE rn = 1),
            member AS (
              SELECT e.vec_id, e.label,
                     round(sqrt(CAST(sum(CAST(round(
                         (CAST(e.x AS DOUBLE) - c.c)
                         * (CAST(e.x AS DOUBLE) - c.c), 9)
                       AS DECIMAL(28,9))) AS DOUBLE)), 9) AS d
              FROM ex e JOIN cent c
                ON c.label = e.label AND c.pos = e.pos
              GROUP BY 1, 2),
            intra AS (
              SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
                     CAST(sum(CAST(d AS DECIMAL(28,9))) AS DOUBLE)
                       / count(*) AS im
              FROM member GROUP BY 1)
            SELECT i.label, i.n_vecs, round(i.im, 9) AS intra_mean,
                   n.nearest_label, n.inter_dist,
                   CASE WHEN i.im > 0
                        THEN round(n.inter_dist / i.im, 9) END
                     AS separation
            FROM intra i JOIN nearest n USING (label)
        """,
        "dwell_times": """
            WITH g AS (SELECT event_type,
                              epoch_us(lead(ts) OVER w)//1000000
                                - epoch_us(ts)//1000000 AS gap_s
                       FROM events
                       WINDOW w AS (PARTITION BY user_id
                                    ORDER BY ts, event_id))
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                   quantile_cont(gap_s, 0.5) AS p50_s,
                   quantile_cont(gap_s, 0.9) AS p90_s,
                   CAST(max(gap_s) AS BIGINT) AS max_s
            FROM g WHERE gap_s IS NOT NULL
            GROUP BY 1
        """,
        "transitions": """
            WITH p AS (SELECT lag(event_type) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         AS f, event_type AS t2
                       FROM events),
            c AS (SELECT f AS from_state, t2 AS to_state, count(*) AS n
                  FROM p WHERE f IS NOT NULL GROUP BY 1, 2),
            tot AS (SELECT from_state, sum(n) AS rt FROM c GROUP BY 1)
            SELECT c.from_state, c.to_state, CAST(c.n AS BIGINT) AS n,
                   round(CAST(c.n AS DOUBLE) / CAST(tot.rt AS DOUBLE), 9)
                     AS p
            FROM c JOIN tot USING (from_state)
        """,
        "gini": """
            WITH r AS (SELECT event_type AS g, value AS v,
                              row_number() OVER (PARTITION BY event_type
                                                 ORDER BY value) AS i
                       FROM events),
            a AS (SELECT g, count(*) AS n,
                         sum(CAST(v AS DECIMAL(18,2))) AS sx,
                         sum(i * CAST(v AS DECIMAL(18,2))) AS six
                  FROM r GROUP BY 1)
            SELECT g AS event_type, CAST(n AS BIGINT) AS n,
                   CAST(sx AS DOUBLE) AS total,
                   CASE WHEN n >= 2 AND CAST(sx AS DOUBLE) > 0 THEN
                        round(2.0 * CAST(six AS DOUBLE)
                              / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                              - (CAST(n AS DOUBLE) + 1.0)
                                / CAST(n AS DOUBLE), 9)
                   END AS gini
            FROM a
        """,
        "quantile_normalize": """
            WITH g AS (SELECT event_type AS gg, value AS v FROM events
                       WHERE event_id % 7 = 0),
            r AS (SELECT gg, v,
                         row_number() OVER (PARTITION BY gg ORDER BY v) AS rn,
                         count(*) OVER (PARTITION BY gg) AS ng
                  FROM g),
            p AS (SELECT v, row_number() OVER (ORDER BY v) AS pr FROM g),
            np AS (SELECT count(*) AS n FROM g),
            pos AS (SELECT gg, v,
                           CASE WHEN ng > 1
                                THEN (rn - 1) * (np.n - 1) ELSE 0 END AS num,
                           CASE WHEN ng > 1 THEN ng - 1 ELSE 1 END AS den
                    FROM r, np),
            ix AS (SELECT gg, v, 1 + num // den AS lo_idx,
                          num % den AS rem, den
                   FROM pos),
            f AS (SELECT gg, v, lo_idx, rem, den,
                         CASE WHEN rem > 0 THEN lo_idx + 1
                              ELSE lo_idx END AS hi_idx
                  FROM ix)
            SELECT f.gg AS event_type, f.v AS value,
                   round(lo.v + (hi.v - lo.v)
                         * (CAST(rem AS DOUBLE) / CAST(den AS DOUBLE)), 9)
                     AS value_qn
            FROM f JOIN p lo ON lo.pr = f.lo_idx
                   JOIN p hi ON hi.pr = f.hi_idx
        """,
        "mv_refresh_minmax": """
            WITH v2 AS (SELECT o_custkey,
                               CASE WHEN o_orderkey % 13 = 0
                                    THEN o_totalprice + 10.0
                                    ELSE o_totalprice END AS p
                        FROM orders WHERE o_custkey % 7 <> 0)
            SELECT CAST(o_custkey % 100 AS BIGINT) AS cust_bucket,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(p) AS min_val, max(p) AS max_val
            FROM v2 GROUP BY 1
        """,
        "mv_refresh": """
            WITH v2 AS (SELECT o_custkey,
                               CASE WHEN o_orderkey % 13 = 0
                                    THEN o_totalprice + 10.0
                                    ELSE o_totalprice END AS p
                        FROM orders WHERE o_custkey % 7 <> 0)
            SELECT CAST(o_custkey % 100 AS BIGINT) AS cust_bucket,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM v2 GROUP BY 1
        """,
        "winsorize": """
            WITH b AS (SELECT event_type,
                              quantile_cont(value, 0.05) AS lo_bound,
                              quantile_cont(value, 0.95) AS hi_bound
                       FROM events GROUP BY 1)
            SELECT e.event_type, min(b.lo_bound) AS lo_bound,
                   min(b.hi_bound) AS hi_bound,
                   CAST(sum(CASE WHEN e.value < b.lo_bound
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
                   CAST(sum(CASE WHEN e.value > b.hi_bound
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM events e JOIN b USING (event_type)
            GROUP BY 1
        """,
        "shard_balance": """
            WITH ranked AS (
              SELECT doc_id, n_chars,
                     row_number() OVER (ORDER BY n_chars DESC, doc_id)
                       - 1 AS rk
              FROM documents),
            dealt AS (
              SELECT doc_id, n_chars,
                     CASE WHEN rk % 16 < 8 THEN rk % 16
                          ELSE 15 - (rk % 16) END AS shard
              FROM ranked)
            SELECT shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(min(doc_id) AS BIGINT) AS min_doc_id
            FROM dealt GROUP BY shard
        """,
        "atomic_snapshot": """
            WITH fact AS (
              SELECT o_custkey % 100 AS bucket,
                     CAST(count(*) AS BIGINT) AS n_orders,
                     sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       + CAST(5.0 AS DECIMAL(18,2)) AS total
              FROM orders GROUP BY 1),
            dim AS (
              SELECT c_custkey % 100 AS bucket,
                     CAST(count(*) AS BIGINT) AS n_customers,
                     max(c_mktsegment) AS top_segment,
                     'v2' AS gen
              FROM customer GROUP BY 1)
            SELECT f.bucket, f.n_orders,
                   CAST(f.total AS DOUBLE) AS total,
                   d.n_customers, d.top_segment, d.gen,
                   CAST(2 AS BIGINT) AS fact_version,
                   CAST(2 AS BIGINT) AS dim_version
            FROM fact f JOIN dim d ON f.bucket = d.bucket
        """,
        "ktruss": _ktruss_oracle(k=4, rounds=8),
        "coreness": _coreness_oracle(rounds=20),
        "semantic_decontaminate": _oracle_semantic_decontaminate(),
        "kmv_overlap": """
            WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
            sz AS (SELECT event_type, count(*) AS n FROM u GROUP BY 1),
            ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                          count(*) AS c
                   FROM u a JOIN u b ON a.user_id = b.user_id
                    AND a.event_type < b.event_type
                   GROUP BY 1, 2)
            SELECT type_a, type_b,
                   CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
                   CAST(c AS BIGINT) AS n_common,
                   round(c / CAST(x.n + y.n - c AS DOUBLE), 9) AS j_exact,
                   1 AS within_10pct
            FROM ov JOIN sz x ON type_a = x.event_type
                    JOIN sz y ON type_b = y.event_type
        """,
        "apss_jaccard": """
            WITH d AS (SELECT doc_id, list_distinct({TOKENS}) AS toks
                       FROM documents WHERE doc_id % 5 = 0),
            tok AS (SELECT doc_id, unnest(toks) AS w FROM d),
            sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
            ov AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
                   FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
            SELECT ia AS id_a, ib AS id_b, CAST(c AS BIGINT) AS overlap,
                   CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
                   round(c / CAST(x.n + y.n - c AS DOUBLE), 9) AS jaccard
            FROM ov JOIN sz x ON ia = x.doc_id JOIN sz y ON ib = y.doc_id
            WHERE 100 * c >= 80 * (x.n + y.n - c)
        """.replace("{TOKENS}", TOKENS_SQL),
        "hll_rollup": """
            SELECT event_type,
                   CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                     AS n_shards,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS nd_users,
                   1 AS within_5pct,
                   1 AS merge_consistent
            FROM events GROUP BY event_type
        """,
        "bloom_prune_join": """
            SELECT l_returnflag, l_linestatus,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_price
            FROM lineitem
            WHERE l_partkey IN (
                SELECT p_partkey FROM part WHERE p_size <= 4)
            GROUP BY l_returnflag, l_linestatus
        """,
        "storage_compact": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     AS total_value,
                   CAST(48 AS BIGINT) AS files_before,
                   CAST(1 AS BIGINT) AS files_after,
                   CAST(2 AS BIGINT) AS version
            FROM events GROUP BY event_type
        """,
        "kcore": _sql_kcore_peel(24),
        "k_anonymity": """
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS group_size,
                   CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive,
                   CASE WHEN count(*) >= 10 THEN 1 ELSE 0 END
                     AS k_anonymous,
                   CASE WHEN count(DISTINCT c_acctbal) >= 5 THEN 1 ELSE 0 END
                     AS l_diverse
            FROM customer GROUP BY 1, 2
        """,
        "reid_summary": """
            WITH audit AS (
              SELECT count(*) AS group_size,
                     count(DISTINCT c_acctbal) AS n_sensitive
              FROM customer GROUP BY c_nationkey, c_mktsegment)
            SELECT CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(sum(group_size) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN group_size < 10
                                 THEN group_size ELSE 0 END) AS BIGINT)
                     AS rows_below_k,
                   CAST(sum(CASE WHEN n_sensitive < 5
                                 THEN group_size ELSE 0 END) AS BIGINT)
                     AS rows_below_l,
                   CAST(sum(CASE WHEN group_size = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS unique_rows
            FROM audit
        """,
        "auc_roc": """
            WITH labeled AS (
              SELECT label % 3 AS segment,
                     CAST(embedding[1] AS DOUBLE) AS s,
                     CAST(label % 2 AS BIGINT) AS y
              FROM embeddings),
            per_s AS (
              SELECT segment, s, sum(y) AS np, sum(1 - y) AS nn
              FROM labeled GROUP BY segment, s),
            cum AS (
              SELECT segment, np, nn,
                     sum(nn) OVER (PARTITION BY segment ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) - nn
                       AS nn_lt
              FROM per_s)
            SELECT segment,
                   CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(sum(nn) AS BIGINT) AS n_neg,
                   CAST(sum(2 * np * nn_lt + np * nn) AS BIGINT)
                     AS auc_num2,
                   CAST(sum(2 * np * nn_lt + np * nn) AS DOUBLE)
                     / CAST(2 * sum(np) * sum(nn) AS DOUBLE) AS auc
            FROM cum GROUP BY segment
        """,
        "ks_drift": """
            WITH t AS (SELECT value AS v,
                              CASE WHEN event_type = 'click'
                                   THEN 1 ELSE 0 END AS is_x,
                              CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END AS is_y
                       FROM events
                       WHERE event_type IN ('click', 'purchase')),
            pv AS (SELECT v, sum(is_x) AS xa, sum(is_y) AS ya
                   FROM t GROUP BY 1),
            tot AS (SELECT sum(is_x) AS n_x, sum(is_y) AS n_y FROM t),
            cum AS (SELECT sum(xa) OVER w AS cx, sum(ya) OVER w AS cy
                    FROM pv
                    WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND CURRENT ROW)),
            g AS (SELECT max(abs(cx * tot.n_y - cy * tot.n_x)) AS d_num
                  FROM cum, tot)
            SELECT CAST(g.d_num AS DOUBLE)
                     / CAST(tot.n_x * tot.n_y AS DOUBLE) AS d_stat,
                   CAST(g.d_num AS BIGINT) AS d_num,
                   CAST(tot.n_x AS BIGINT) AS n_x,
                   CAST(tot.n_y AS BIGINT) AS n_y
            FROM g, tot
        """,
        "rolling_distinct": """
            WITH e AS (SELECT date_trunc('hour', ts) AS h, user_id
                       FROM events),
            span AS (SELECT min(h) AS t0, max(h) AS t1 FROM e),
            grid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                       AS t FROM span),
            sd AS (SELECT h, count(DISTINCT user_id) AS step_distinct
                   FROM e GROUP BY 1)
            SELECT g.t,
                   CAST(COALESCE(sd.step_distinct, 0) AS BIGINT)
                     AS step_distinct,
                   CAST((SELECT count(DISTINCT e2.user_id) FROM e e2
                         WHERE e2.h <= g.t
                           AND e2.h >= g.t - INTERVAL 23 HOUR) AS BIGINT)
                     AS rolling_distinct
            FROM grid g LEFT JOIN sd ON sd.h = g.t
        """,
        "frequent_pairs": """
            WITH bi0 AS (SELECT DISTINCT l_orderkey AS basket,
                                         l_partkey AS item
                         FROM lineitem),
            -- mirror the operator's max_basket_items=1000 exclusion
            bi AS (SELECT basket, item FROM (
                     SELECT basket, item,
                            count(*) OVER (PARTITION BY basket) AS _n
                     FROM bi0) t WHERE _n <= 1000),
            nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM bi),
            isup AS (SELECT item, count(*) AS support_i FROM bi GROUP BY 1),
            p AS (SELECT a.item AS ia, b.item AS ib, count(*) AS support
                  FROM bi a JOIN bi b
                    ON a.basket = b.basket AND a.item < b.item
                  GROUP BY 1, 2 HAVING count(*) >= 3)
            SELECT p.ia AS item_a, p.ib AS item_b,
                   CAST(p.support AS BIGINT) AS support,
                   CAST(sa.support_i AS BIGINT) AS support_a,
                   CAST(sb.support_i AS BIGINT) AS support_b,
                   round(CAST(p.support * nb.n_baskets AS DOUBLE)
                         / CAST(sa.support_i * sb.support_i AS DOUBLE), 9)
                     AS lift
            FROM p JOIN isup sa ON p.ia = sa.item
                   JOIN isup sb ON p.ib = sb.item, nb
        """,
        "er_resolve": """
            WITH RECURSIVE n AS (SELECT p_name, min(p_partkey) AS pid
                                 FROM part GROUP BY 1),
            e AS (SELECT a.pid AS ia, b.pid AS ib
                  FROM n a JOIN n b
                    ON a.pid < b.pid
                   AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2),
            sym AS (SELECT ia AS a, ib AS b FROM e
                    UNION SELECT ib, ia FROM e),
            reach(id, root) AS (
              SELECT pid, pid FROM n
              UNION
              SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.id),
            ent AS (SELECT id, min(root) AS entity_id FROM reach GROUP BY 1),
            canon AS (SELECT DISTINCT ent.entity_id, n2.p_name AS canonical_key
                      FROM ent JOIN n n2 ON n2.pid = ent.entity_id)
            SELECT nn.pid, nn.p_name, ent.entity_id, canon.canonical_key
            FROM n nn JOIN ent ON nn.pid = ent.id
                      JOIN canon ON ent.entity_id = canon.entity_id
        """,
        "chi_square": """
            WITH base AS (SELECT event_type AS a,
                                 CAST(user_id % 5 AS BIGINT) AS b
                          FROM events),
            obs AS (SELECT a, b, count(*) AS o FROM base GROUP BY 1, 2),
            ra AS (SELECT a, count(*) AS ca FROM base GROUP BY 1),
            rb AS (SELECT b, count(*) AS cb FROM base GROUP BY 1),
            nn AS (SELECT count(*) AS n FROM base),
            cells AS (SELECT o.o, ra.ca, rb.cb, nn.n,
                             (o.o * nn.n - ra.ca * rb.cb)
                               * (o.o * nn.n - ra.ca * rb.cb) AS num,
                             ra.ca * rb.cb * nn.n AS den
                      FROM obs o JOIN ra USING (a) JOIN rb USING (b), nn),
            q AS (SELECT
                    (num // den) * 1000000000
                      + ((num % den) * 10000 // den) * 100000
                      + (((num % den) * 10000 % den) * 100000 // den) AS qv,
                    ((ca * cb) // n) * 1000000000
                      + (((ca * cb) % n) * 10000 // n) * 100000
                      + ((((ca * cb) % n) * 10000 % n) * 100000 // n) AS esc
                  FROM cells),
            agg AS (SELECT sum(qv) AS sq, sum(esc) AS sesc FROM q)
            SELECT CAST(agg.sq + (nn.n * 1000000000 - agg.sesc) AS DOUBLE)
                     / 1000000000.0 AS chi2,
                   CAST(agg.sq + (nn.n * 1000000000 - agg.sesc) AS BIGINT)
                     AS chi2_scaled,
                   CAST(((SELECT count(*) FROM ra) - 1)
                        * ((SELECT count(*) FROM rb) - 1) AS BIGINT) AS dof,
                   CAST(nn.n AS BIGINT) AS n,
                   CAST((SELECT count(*) FROM ra) AS BIGINT) AS n_a,
                   CAST((SELECT count(*) FROM rb) AS BIGINT) AS n_b
            FROM agg, nn
        """,
        "anomaly_mad": """
            WITH med AS (SELECT event_type,
                                quantile_cont(value, 0.5) AS med
                         FROM events GROUP BY 1),
            dev AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
                    FROM events e JOIN med m USING (event_type)),
            stats AS (SELECT event_type, min(med) AS med,
                             quantile_cont(dev, 0.5) AS mad
                      FROM dev GROUP BY 1),
            outl AS (SELECT d.event_type, count(*) AS n_outliers
                     FROM dev d JOIN stats s USING (event_type)
                     WHERE d.dev > 3.0 * s.mad GROUP BY 1)
            SELECT s.event_type, s.med, s.mad,
                   COALESCE(o.n_outliers, 0) AS n_outliers
            FROM stats s LEFT JOIN outl o USING (event_type)
        """,
        "source_text": """
            SELECT doc_id,
                   CAST(length(replace(text, chr(10), ' ')) AS BIGINT)
                     AS n_chars
            FROM documents WHERE doc_id % 11 = 0
        """,
        "source_binary": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS sha_hex
            FROM documents WHERE doc_id < 8
        """,
        "label_propagation": """
            WITH e AS (
              SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              WHERE a.l_orderkey % 4 = 0 AND b.l_orderkey % 4 = 0),
            und AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
            l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
            v1 AS (SELECT und.a AS node, l0.label, count(*) AS n
                   FROM und JOIN l0 ON und.b = l0.node GROUP BY 1, 2),
            b1 AS (SELECT node, label AS nw FROM v1
                   QUALIFY row_number() OVER (PARTITION BY node
                                              ORDER BY n DESC, label) = 1),
            l1 AS (SELECT l0.node, COALESCE(b1.nw, l0.label) AS label
                   FROM l0 LEFT JOIN b1 USING (node)),
            v2 AS (SELECT und.a AS node, l1.label, count(*) AS n
                   FROM und JOIN l1 ON und.b = l1.node GROUP BY 1, 2),
            b2 AS (SELECT node, label AS nw FROM v2
                   QUALIFY row_number() OVER (PARTITION BY node
                                              ORDER BY n DESC, label) = 1)
            SELECT l1.node, COALESCE(b2.nw, l1.label) AS label
            FROM l1 LEFT JOIN b2 USING (node)
        """,
        "bucketed_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_price,
                   CAST(0 AS INT) AS join_exchanges
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "ewma": _ewma_oracle_sql(),
        "events_stream_ewma": _ewma_oracle_sql(last_only=True),
        "session_paths": """
            WITH flagged AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sessed AS (
              SELECT user_id, ts, event_id, event_type,
                     sum(new_sess) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS session_id
              FROM flagged
            ), paths AS (
              SELECT user_id, session_id,
                     array_to_string(list_transform(list_sort(
                       list({'t': ts, 'i': event_id, 'e': event_type})),
                       s -> s.e)[1:5], '>') AS path
              FROM sessed GROUP BY user_id, session_id
            ), counted AS (
              SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1)
            SELECT path, n_sessions, rank FROM
              (SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path)
                 AS rank FROM counted) WHERE rank <= 20
        """,
        "equidepth_histogram": """
            WITH b AS (SELECT l_extendedprice AS v,
                              ntile(8) OVER (ORDER BY l_extendedprice,
                                             l_orderkey, l_linenumber)
                                AS bucket
                       FROM lineitem)
            SELECT bucket, count(*) AS n_rows,
                   min(v) AS min_val, max(v) AS max_val
            FROM b GROUP BY 1
        """,
        "random_projection": _rp_oracle_sql(),
        "pmi_bigrams": f"""
            WITH tok AS (SELECT {TOKENS_SQL} AS toks FROM documents),
            pairs AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                                    i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS p
                      FROM tok),
            big AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair
                    FROM pairs GROUP BY 1, 2),
            unic AS (SELECT w, count(*) AS c FROM
                       (SELECT unnest(toks) AS w FROM tok) GROUP BY 1),
            tu AS (SELECT CAST(sum(c) AS BIGINT) AS t_uni FROM unic),
            tb AS (SELECT CAST(sum(n_pair) AS BIGINT) AS t_big FROM big),
            scored AS (SELECT w1, w2, n_pair,
                              round(ln((CAST(n_pair AS DOUBLE) / t_big)
                                       / ((CAST(c1.c AS DOUBLE) / t_uni)
                                          * (CAST(c2.c AS DOUBLE) / t_uni))), 6)
                                AS pmi
                       FROM big JOIN unic c1 ON big.w1 = c1.w
                                JOIN unic c2 ON big.w2 = c2.w, tu, tb
                       WHERE n_pair >= 5)
            SELECT w1, w2, n_pair, pmi, rank FROM
              (SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank
               FROM scored) WHERE rank <= 20
        """,
        "skipgram_pairs": f"""
            WITH tok AS (SELECT {TOKENS_SQL} AS toks FROM documents),
            f AS (SELECT unnest(list_concat(
                     list_transform(range(1, len(toks)),
                                    i -> {{'c': toks[i], 'x': toks[i+1]}}),
                     list_transform(range(1, len(toks) - 1),
                                    i -> {{'c': toks[i], 'x': toks[i+2]}}))) AS p
                  FROM tok),
            pairs AS (SELECT p.c AS center, p.x AS context FROM f
                      UNION ALL
                      SELECT p.x AS center, p.c AS context FROM f)
            SELECT center, context, count(*) AS n_pairs
            FROM pairs GROUP BY 1, 2 HAVING count(*) >= 3
        """,
        "ngram_containment": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id <= 300
              UNION ALL
              SELECT doc_id + 200000 AS doc_id,
                     array_to_string(({TOKENS_SQL})[1:30], ' ') AS text
              FROM documents WHERE doc_id <= 300 AND doc_id % 7 = 0),
            sh AS (SELECT doc_id AS id,
                          list_distinct(list_transform(
                            range(1, greatest(len(toks) - 2, 1) + 1),
                            i -> array_to_string(toks[i:i+2], ' '))) AS sh
                   FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM corpus) t)
            SELECT * FROM (
              SELECT a.id AS id_a, b.id AS id_b,
                     round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                           / len(a.sh), 6) AS containment
              FROM sh a JOIN sh b ON a.id <> b.id)
            WHERE containment >= 0.5
        """,
        "phrase_search": f"""
            WITH post AS (SELECT doc_id, unnest(toks) AS t,
                                 generate_subscripts(toks, 1) - 1 AS pos
                          FROM (SELECT doc_id, {TOKENS_SQL} AS toks
                                FROM documents) x)
            SELECT p0.doc_id, CAST(p0.pos AS INT) AS start_pos
            FROM post p0 JOIN post p1
              ON p0.doc_id = p1.doc_id AND p1.pos = p0.pos + 1
            WHERE p0.t = 'table' AND p1.t = 'hash'
        """,
        "text_normalize": r"""
            WITH n AS (SELECT doc_id,
                              trim(regexp_replace(regexp_replace(lower(text),
                                   '[^a-z0-9\s]', '', 'g'),
                                   '\s+', ' ', 'g')) AS norm_text,
                              length(text) AS n_chars_raw
                       FROM documents)
            SELECT doc_id AS id, norm_text,
                   CAST(n_chars_raw AS BIGINT) AS n_chars_raw,
                   CAST(length(norm_text) AS BIGINT) AS n_chars_norm
            FROM n
        """,
        "pq_encode": f"""
            WITH {_PQ_EX_SQL}
            SELECT vec_id, subspace, code, CAST(dist AS DOUBLE) AS dist
            FROM enc
        """,
        "ann_pq": _ANN_PQ_SQL,
        # the cached-index variant persists codebook+codes and queries
        # the stored artifacts; results must be IDENTICAL to ann_pq
        "ann_pq_cached": _ANN_PQ_SQL,
        "table_diff": """
            WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                                 o_totalprice FROM orders),
            v1 AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
            v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                          CASE WHEN o_orderkey % 3 = 0
                               THEN o_totalprice + 1.0
                               ELSE o_totalprice END AS o_totalprice
                   FROM base WHERE o_orderkey % 5 <> 0)
            SELECT 'delete' AS change_type, * FROM v1
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2)
            UNION ALL
            SELECT 'insert' AS change_type, * FROM v2
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1)
            UNION ALL
            SELECT 'update_preimage' AS change_type, a.*
              FROM v1 a JOIN v2 b USING (o_orderkey)
              WHERE a.o_totalprice IS DISTINCT FROM b.o_totalprice
            UNION ALL
            SELECT 'update_postimage' AS change_type, b.*
              FROM v1 a JOIN v2 b USING (o_orderkey)
              WHERE a.o_totalprice IS DISTINCT FROM b.o_totalprice
        """,
        "data_constraints": """
            WITH a AS (SELECT
                count(DISTINCT o_orderkey) = count(o_orderkey) AS c0,
                count(o_orderkey) = count(*) AS c1,
                min(o_totalprice) >= 0.0 AS c2,
                sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) = 0 AS c3,
                max(o_totalprice) <= 1000.0 AS c4
              FROM orders)
            SELECT 'o_orderkey_unique' AS check_name, c0 AS passed FROM a
            UNION ALL SELECT 'o_orderkey_complete', c1 FROM a
            UNION ALL SELECT 'o_totalprice_nonneg', c2 FROM a
            UNION ALL SELECT 'o_orderstatus_domain', c3 FROM a
            UNION ALL SELECT 'o_totalprice_max_le_1000', c4 FROM a
        """,
        "tfidf_topterms": """
            WITH tok AS (SELECT doc_id, unnest({TOKENS}) AS term FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM tok GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*) AS dft FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n FROM documents),
            s AS (SELECT tf.doc_id, tf.term, tf.tf,
                         round(tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(dft AS DOUBLE)), 6)
                           AS score
                  FROM tf JOIN dfreq USING (term), n),
            r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                               ORDER BY score DESC, term) AS rank
                  FROM s)
            SELECT doc_id, term, tf, score, rank FROM r WHERE rank <= 3
        """.replace("{TOKENS}", TOKENS_SQL),
        "media_meta": """
            SELECT doc_id AS id,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                   sha256(text) AS content_hash
            FROM documents
        """,
        "quality_classifier": f"""
            WITH tok AS (SELECT doc_id AS id, {TOKENS_SQL} AS toks FROM documents),
            g AS (SELECT id, unnest(list_transform(
                    range(1, greatest(len(toks)-1,1)+1),
                    i -> array_to_string(toks[i:i+1], ' '))) AS gram FROM tok),
            b AS (SELECT id, ({_sql_hex15('mh', 0)}) % 4096 AS bucket
                  FROM (SELECT id, md5(gram) AS mh FROM g) x),
            w AS (SELECT range AS bucket,
                         CAST(CAST(range % 1000 - 500 AS DECIMAL(13,0))
                              / CAST(1000 AS DECIMAL(4,0)) AS DECIMAL(16,9)) AS weight
                  FROM range(4096))
            SELECT b.id AS doc_id, count(*) AS n_grams,
                   CAST(sum(w.weight) AS DOUBLE) AS score
            FROM b JOIN w USING (bucket)
            GROUP BY b.id
        """,
        "media_resize": """
            SELECT doc_id AS id,
                   CAST(64*64*3 AS INT) AS n_bytes,
                   substr(sha256(text), 1, 16) AS head_hex,
                   CAST(64 AS INT) AS width,
                   CAST(64 AS INT) AS height
            FROM documents
        """,
        "media_frame_sample": """
            SELECT doc_id AS id,
                   CAST(unnest(range(0, octet_length(encode(text)) % 300 + 1, 30)) AS INT)
                     AS frame_idx
            FROM documents
        """,
        "events_sliding": """
            WITH exploded AS (
              SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                             time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE]) AS window_start,
                     event_type
              FROM events)
            SELECT window_start, event_type, count(*) AS n_events
            FROM exploded GROUP BY window_start, event_type
        """,
        "events_tumbling": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sessed AS (
              SELECT user_id, ts,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM flagged)
            SELECT user_id, session_id,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events
            FROM sessed GROUP BY user_id, session_id
        """,
        "events_json": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "dedup_exact": """
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, regexp_replace(text, ' ', '  ', 'g')
              FROM documents WHERE doc_id % 5 = 0)
            SELECT doc_id FROM d
            WHERE doc_id IN (
              SELECT min(doc_id) FROM d
              GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        """,
        "dedup_groups": """
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, regexp_replace(text, ' ', '  ', 'g')
              FROM documents WHERE doc_id % 5 = 0)
            SELECT count(*) AS n_dups,
                   string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY CAST(doc_id AS VARCHAR)) AS members
            FROM d
            GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
            HAVING count(*) > 1
        """,
        "incremental_dedup": _oracle_incremental_dedup(),
        # same corpora + semantics, index-backed execution path — the
        # stored banded table must not change a single surviving row
        "incremental_dedup_cached": _oracle_incremental_dedup(),
        "ann_ivf_recall": """
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(10 * count(*) AS BIGINT) AS n_true,
                   CAST(1 AS INT) AS recall_above_random
            FROM embeddings WHERE vec_id < 5
        """,
        "approx_distinct_err": """
            SELECT count(DISTINCT l_partkey) AS nd_part,
                   count(DISTINCT l_orderkey) AS nd_order,
                   CAST(1 AS INT) AS part_within_5pct,
                   CAST(1 AS INT) AS order_within_5pct
            FROM lineitem
        """,
        "cms_token_freq": """
            WITH t AS (SELECT unnest({TOKENS}) AS item FROM documents),
            sk AS (SELECT d.d AS d,
                          ('0x' || substr(md5(item || ':' ||
                                CAST(d.d AS VARCHAR)), 1, 15))::BIGINT
                            % 1024 AS bucket,
                          count(*) AS cnt
                   FROM t
                   CROSS JOIN (SELECT unnest(range(0, 4)) AS d) d
                   GROUP BY 1, 2),
            ex AS (SELECT item, CAST(count(*) AS BIGINT) AS freq
                   FROM t GROUP BY 1 HAVING count(*) >= 64),
            est AS (SELECT ex.item, min(coalesce(sk.cnt, 0)) AS cms_est
                    FROM ex
                    CROSS JOIN (SELECT unnest(range(0, 4)) AS d) dd
                    LEFT JOIN sk ON sk.d = dd.d
                      AND sk.bucket = ('0x' || substr(md5(ex.item || ':' ||
                            CAST(dd.d AS VARCHAR)), 1, 15))::BIGINT % 1024
                    GROUP BY 1)
            SELECT ex.item, ex.freq,
                   CAST(est.cms_est AS BIGINT) AS cms_est,
                   CAST(est.cms_est - ex.freq AS BIGINT) AS overcount
            FROM ex JOIN est ON ex.item = est.item
        """.replace("{TOKENS}", TOKENS_SQL),
        "cms_join_size": """
            WITH sa AS (SELECT d.d AS d,
                               ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)
                                    || ':' || CAST(d.d AS VARCHAR)), 1, 15)
                               )::BIGINT % 2048 AS bucket,
                               count(*) AS cnt
                        FROM orders
                        CROSS JOIN (SELECT unnest(range(0, 4)) AS d) d
                        GROUP BY 1, 2),
            sb AS (SELECT d.d AS d,
                          ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                               || ':' || CAST(d.d AS VARCHAR)), 1, 15)
                          )::BIGINT % 2048 AS bucket,
                          count(*) AS cnt
                   FROM customer
                   CROSS JOIN (SELECT unnest(range(0, 4)) AS d) d
                   GROUP BY 1, 2),
            ip AS (SELECT sa.d, sum(sa.cnt * sb.cnt) AS ip
                   FROM sa JOIN sb ON sa.d = sb.d AND sa.bucket = sb.bucket
                   GROUP BY 1),
            ex AS (SELECT count(*) AS exact_join
                   FROM orders JOIN customer ON o_custkey = c_custkey)
            SELECT CAST((SELECT min(ip) FROM ip) AS BIGINT) AS join_size_est,
                   CAST(exact_join AS BIGINT) AS exact_join,
                   CAST((SELECT min(ip) FROM ip) - exact_join AS BIGINT)
                     AS overcount
            FROM ex
        """,
        "quantile_rollup": """
            SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(CAST(l_extendedprice AS DOUBLE)) AS min_price,
                   max(CAST(l_extendedprice AS DOUBLE)) AS max_price,
                   CAST(1 AS INT) AS ok_p25,
                   CAST(1 AS INT) AS ok_p50,
                   CAST(1 AS INT) AS ok_p95
            FROM lineitem GROUP BY l_returnflag
        """,
        "kmv_set_ops": """
            WITH a AS (SELECT DISTINCT event_type, user_id FROM events
                       WHERE event_id % 2 = 0),
            b AS (SELECT DISTINCT event_type, user_id FROM events
                  WHERE event_id % 3 = 0),
            na AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_a
                   FROM a GROUP BY 1),
            nb AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_b
                   FROM b GROUP BY 1),
            nu AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_union
                   FROM (SELECT * FROM a UNION SELECT * FROM b)
                   GROUP BY 1),
            ni AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_inter
                   FROM a JOIN b ON a.event_type = b.event_type
                              AND a.user_id = b.user_id
                   GROUP BY 1)
            SELECT na.event_type, n_a, n_b, n_union, n_inter,
                   CAST(1 AS INT) AS ok_a, CAST(1 AS INT) AS ok_b,
                   CAST(1 AS INT) AS ok_union, CAST(1 AS INT) AS ok_inter
            FROM na JOIN nb ON na.event_type = nb.event_type
                    JOIN nu ON na.event_type = nu.event_type
                    JOIN ni ON na.event_type = ni.event_type
        """,
        "skew_audit": """
            WITH k AS (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 'HOT'
                                   ELSE CAST(l_partkey AS VARCHAR) END AS key
                       FROM lineitem),
            per AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt
                    FROM k GROUP BY 1),
            tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
                           CAST(count(*) AS BIGINT) AS n_keys FROM per)
            SELECT key, cnt,
                   CAST((cnt * 1000000) // total_rows AS BIGINT) AS share_ppm,
                   CAST((cnt * n_keys) // total_rows AS BIGINT) AS skew_x,
                   total_rows, n_keys
            FROM per, tot
            ORDER BY cnt DESC, key ASC
            LIMIT 10
        """,
        "media_dhash": """
            WITH ids AS (SELECT doc_id AS id, doc_id AS pid FROM documents
                         UNION ALL
                         SELECT doc_id + 100000, doc_id FROM documents
                         WHERE doc_id % 10 = 0),
            dims AS (SELECT id, pid, 8 + pid % 9 AS w0, 8 + pid % 7 AS h0
                     FROM ids),
            lum AS (SELECT id, x.x AS x, y.y AS y,
                      (299*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + pid) % 256)
                     + 587*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 11 + pid) % 256)
                     + 114*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 22 + pid) % 256)
                      ) // 1000 AS l
                    FROM dims
                    CROSS JOIN (SELECT unnest(range(0, 9)) AS x) x
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y),
            bits AS (SELECT a.id, a.y, a.x,
                            CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
                     FROM lum a
                     JOIN lum b ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
                     WHERE a.x < 8),
            bands AS (SELECT id, y // 2 AS tbl,
                             CAST(sum(bit * (1 << ((y % 2) * 8 + x)))
                                  AS BIGINT) AS val
                      FROM bits GROUP BY 1, 2),
            ham AS (SELECT a.id AS id_a, b.id AS id_b,
                           CAST(sum(bit_count(xor(a.val, b.val))) AS BIGINT)
                             AS hamming
                    FROM bands a
                    JOIN bands b ON a.tbl = b.tbl AND a.id < b.id
                    GROUP BY 1, 2)
            SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        """,
        "stream_video_dedup": """
            WITH ids AS (
              SELECT doc_id AS id, doc_id AS pid,
                     CAST(3 + doc_id % 5 AS BIGINT) AS nf FROM documents
              UNION ALL
              SELECT doc_id + 100000, doc_id, 3 + doc_id % 5
              FROM documents WHERE doc_id % 10 = 0),
            dims AS (SELECT id, pid, nf, 8 + pid % 9 AS w0, 8 + pid % 7 AS h0
                     FROM ids),
            fr AS (SELECT id, w0, h0, g.g AS g, pid + 131*g.g AS e
                   FROM dims
                   CROSS JOIN LATERAL
                     (SELECT unnest(range(0, nf)) AS g) g),
            lum AS (SELECT id, g, x.x AS x, y.y AS y,
                      (299*((((x.x*w0)//9)*((y.y*h0)//8)*(e % 17 + 3)
                             + 5*((x.x*w0)//9)*(e % 11 + 1)
                             + 3*((y.y*h0)//8)*(e % 7 + 1) + e) % 256)
                     + 587*((((x.x*w0)//9)*((y.y*h0)//8)*(e % 17 + 3)
                             + 5*((x.x*w0)//9)*(e % 11 + 1)
                             + 3*((y.y*h0)//8)*(e % 7 + 1) + 11 + e) % 256)
                     + 114*((((x.x*w0)//9)*((y.y*h0)//8)*(e % 17 + 3)
                             + 5*((x.x*w0)//9)*(e % 11 + 1)
                             + 3*((y.y*h0)//8)*(e % 7 + 1) + 22 + e) % 256)
                      ) // 1000 AS l
                    FROM fr
                    CROSS JOIN (SELECT unnest(range(0, 9)) AS x) x
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y),
            bits AS (SELECT a.id, a.g, a.y, a.x,
                            CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
                     FROM lum a
                     JOIN lum b ON a.id = b.id AND a.g = b.g
                                AND a.y = b.y AND b.x = a.x + 1
                     WHERE a.x < 8),
            bands AS (SELECT id, g, y // 2 AS tbl,
                             CAST(sum(bit * (1 << ((y % 2) * 8 + x)))
                                  AS BIGINT) AS val
                      FROM bits GROUP BY 1, 2, 3)
            SELECT CAST(g AS BIGINT) AS frame_idx,
                   CAST(tbl AS BIGINT) AS band, val AS bkey,
                   CAST(min(id) AS BIGINT) AS rep_id,
                   CAST(count(*) AS BIGINT) AS n_videos
            FROM bands GROUP BY 1, 2, 3 HAVING count(*) >= 2
        """,
        "stream_audio_dedup": """
            WITH ids AS (SELECT doc_id AS id, doc_id AS pid FROM documents
                         UNION ALL
                         SELECT doc_id + 100000, doc_id FROM documents
                         WHERE doc_id % 10 = 0),
            eng AS (SELECT id, f.f AS f,
                           CAST(sum(CAST(
                             (f.f*j.j*(pid % 17 + 3) + 23*f.f*(pid % 13 + 1)
                              + 7*j.j*(pid % 11 + 1) + 31*pid) % 4001 - 2000
                             AS BIGINT) * CAST(
                             (f.f*j.j*(pid % 17 + 3) + 23*f.f*(pid % 13 + 1)
                              + 7*j.j*(pid % 11 + 1) + 31*pid) % 4001 - 2000
                             AS BIGINT)) AS BIGINT) AS e
                    FROM ids
                    CROSS JOIN (SELECT unnest(range(0, 65)) AS f) f
                    CROSS JOIN (SELECT unnest(range(0, 16)) AS j) j
                    GROUP BY id, f.f),
            bits AS (SELECT a.id, a.f AS x,
                            CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
                     FROM eng a
                     JOIN eng b ON a.id = b.id AND b.f = a.f + 1
                     WHERE a.f < 64),
            bands AS (SELECT id, x // 16 AS tbl,
                             CAST(sum(bit * (1 << (x % 16))) AS BIGINT) AS val
                      FROM bits GROUP BY 1, 2)
            SELECT CAST(tbl AS BIGINT) AS band, val AS bkey,
                   CAST(min(id) AS BIGINT) AS rep_id,
                   CAST(count(*) AS BIGINT) AS n_clips
            FROM bands GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "cross_modal_curation": """
            WITH surv AS (SELECT doc_id, text FROM documents
                          WHERE length(text) >= 240),
            tids AS (SELECT doc_id AS id, text FROM surv
                     UNION ALL
                     SELECT doc_id + 100000, text FROM surv
                     WHERE doc_id % 10 = 0),
            tgrp AS (SELECT text, count(*) AS n FROM tids GROUP BY text),
            trow AS (SELECT 'text' AS modality,
                            (SELECT count(*) FROM surv) AS n_source,
                            CAST(sum(n) AS BIGINT) AS n_corpus,
                            CAST(sum(n*(n-1)//2) AS BIGINT) AS n_pairs,
                            CAST(sum(n-1) AS BIGINT) AS n_dropped,
                            CAST(sum(n) - sum(n-1) AS BIGINT) AS n_kept,
                            CAST(0 AS BIGINT) AS full_hit,
                            CAST(0 AS BIGINT) AS prefix_hits
                     FROM tgrp),
            iids AS (SELECT doc_id AS id, doc_id AS pid FROM surv
                     UNION ALL
                     SELECT doc_id + 100000, doc_id FROM surv
                     WHERE doc_id % 10 = 0),
            idims AS (SELECT id, pid, 8 + pid % 9 AS w0, 8 + pid % 7 AS h0
                      FROM iids),
            ilum AS (SELECT id, x.x AS x, y.y AS y,
                      (299*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + pid) % 256)
                     + 587*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 11 + pid) % 256)
                     + 114*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 22 + pid) % 256)
                      ) // 1000 AS l
                    FROM idims
                    CROSS JOIN (SELECT unnest(range(0, 9)) AS x) x
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y),
            ibits AS (SELECT a.id, a.y, a.x,
                             CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
                      FROM ilum a
                      JOIN ilum b ON a.id = b.id AND a.y = b.y
                                  AND b.x = a.x + 1
                      WHERE a.x < 8),
            ibands AS (SELECT id, y // 2 AS tbl,
                              CAST(sum(bit * (1 << ((y % 2) * 8 + x)))
                                   AS BIGINT) AS val
                       FROM ibits GROUP BY 1, 2),
            ipairs AS (SELECT a.id AS id_a, b.id AS id_b
                       FROM ibands a
                       JOIN ibands b ON a.tbl = b.tbl AND a.id < b.id
                       GROUP BY 1, 2
                       HAVING sum(bit_count(xor(a.val, b.val))) <= 3),
            irow AS (SELECT 'image',
                            (SELECT count(*) FROM surv),
                            (SELECT count(*) FROM iids),
                            (SELECT count(*) FROM ipairs),
                            (SELECT count(DISTINCT id_b) FROM ipairs),
                            (SELECT count(*) FROM iids)
                              - (SELECT count(DISTINCT id_b) FROM ipairs),
                            0, 1),
            aeng AS (SELECT id, f.f AS f,
                           CAST(sum(CAST(
                             (f.f*j.j*(pid % 17 + 3) + 23*f.f*(pid % 13 + 1)
                              + 7*j.j*(pid % 11 + 1) + 31*pid) % 4001 - 2000
                             AS BIGINT) * CAST(
                             (f.f*j.j*(pid % 17 + 3) + 23*f.f*(pid % 13 + 1)
                              + 7*j.j*(pid % 11 + 1) + 31*pid) % 4001 - 2000
                             AS BIGINT)) AS BIGINT) AS e
                    FROM iids
                    CROSS JOIN (SELECT unnest(range(0, 65)) AS f) f
                    CROSS JOIN (SELECT unnest(range(0, 16)) AS j) j
                    GROUP BY id, f.f),
            abits AS (SELECT a.id, a.f AS x,
                             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
                      FROM aeng a
                      JOIN aeng b ON a.id = b.id AND b.f = a.f + 1
                      WHERE a.f < 64),
            abands AS (SELECT id, x // 16 AS tbl,
                              CAST(sum(bit * (1 << (x % 16)))
                                   AS BIGINT) AS val
                       FROM abits GROUP BY 1, 2),
            apairs AS (SELECT a.id AS id_a, b.id AS id_b
                       FROM abands a
                       JOIN abands b ON a.tbl = b.tbl AND a.id < b.id
                       GROUP BY 1, 2
                       HAVING sum(bit_count(xor(a.val, b.val))) <= 3),
            arow AS (SELECT 'audio',
                            (SELECT count(*) FROM surv),
                            (SELECT count(*) FROM iids),
                            (SELECT count(*) FROM apairs),
                            (SELECT count(DISTINCT id_b) FROM apairs),
                            (SELECT count(*) FROM iids)
                              - (SELECT count(DISTINCT id_b) FROM apairs),
                            0, 1)
            SELECT * FROM trow
            UNION ALL SELECT * FROM irow
            UNION ALL SELECT * FROM arow
        """,
        "cross_modal_incremental": """
            WITH surv AS (SELECT doc_id, text FROM documents
                          WHERE length(text) >= 240),
            newb AS (SELECT doc_id, text FROM surv WHERE doc_id % 4 = 0),
            ref AS (SELECT doc_id, text FROM surv WHERE doc_id % 4 != 0),
            counts AS (SELECT
                CAST((SELECT count(*) FROM newb)
                     + (SELECT count(*) FROM ref WHERE doc_id % 8 = 1)
                     AS BIGINT) AS n_new,
                CAST((SELECT count(*) FROM ref) AS BIGINT) AS n_ref),
            tnew AS (SELECT doc_id AS id, text FROM newb
                     UNION ALL
                     SELECT doc_id + 200000, text FROM ref
                     WHERE doc_id % 8 = 1),
            tp AS (SELECT n.id AS id_new, r.doc_id AS id_ref
                   FROM tnew n JOIN ref r ON n.text = r.text),
            trow AS (SELECT 'text' AS modality, c.n_new, c.n_ref,
                            CAST((SELECT count(*) FROM tp) AS BIGINT)
                              AS n_pairs,
                            CAST((SELECT count(DISTINCT id_new) FROM tp)
                              AS BIGINT) AS n_flagged,
                            CAST(c.n_new
                                 - (SELECT count(DISTINCT id_new) FROM tp)
                              AS BIGINT) AS n_kept,
                            CAST(0 AS BIGINT) AS full_hit,
                            CAST(0 AS BIGINT) AS prefix_hits
                     FROM counts c),
            iids AS (SELECT doc_id AS id, doc_id AS pid, 'n' AS side
                     FROM newb
                     UNION ALL
                     SELECT doc_id + 200000, doc_id, 'n' FROM ref
                     WHERE doc_id % 8 = 1
                     UNION ALL
                     SELECT doc_id, doc_id, 'r' FROM ref),
            idims AS (SELECT id, pid, side,
                             8 + pid % 9 AS w0, 8 + pid % 7 AS h0
                      FROM iids),
            ilum AS (SELECT id, side, x.x AS x, y.y AS y,
                      (299*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + pid) % 256)
                     + 587*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 11 + pid) % 256)
                     + 114*((((x.x*w0)//9)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//9)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 22 + pid) % 256)
                      ) // 1000 AS l
                    FROM idims
                    CROSS JOIN (SELECT unnest(range(0, 9)) AS x) x
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y),
            ibits AS (SELECT a.id, a.side, a.y, a.x,
                             CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
                      FROM ilum a
                      JOIN ilum b ON a.id = b.id AND a.side = b.side
                                  AND a.y = b.y AND b.x = a.x + 1
                      WHERE a.x < 8),
            ibands AS (SELECT id, side, y // 2 AS tbl,
                              CAST(sum(bit * (1 << ((y % 2) * 8 + x)))
                                   AS BIGINT) AS val
                       FROM ibits GROUP BY 1, 2, 3),
            ip AS (SELECT n.id AS id_new, r.id AS id_ref
                   FROM ibands n
                   JOIN ibands r ON n.tbl = r.tbl
                   WHERE n.side = 'n' AND r.side = 'r'
                   GROUP BY 1, 2
                   HAVING sum(bit_count(xor(n.val, r.val))) <= 3),
            irow AS (SELECT 'image', c.n_new, c.n_ref,
                            CAST((SELECT count(*) FROM ip) AS BIGINT),
                            CAST((SELECT count(DISTINCT id_new) FROM ip)
                              AS BIGINT),
                            CAST(c.n_new
                                 - (SELECT count(DISTINCT id_new) FROM ip)
                              AS BIGINT),
                            CAST(0 AS BIGINT), CAST(1 AS BIGINT)
                     FROM counts c),
            aeng AS (SELECT id, side, f.f AS f,
                           CAST(sum(CAST(
                             (f.f*j.j*(pid % 17 + 3) + 23*f.f*(pid % 13 + 1)
                              + 7*j.j*(pid % 11 + 1) + 31*pid) % 4001 - 2000
                             AS BIGINT) * CAST(
                             (f.f*j.j*(pid % 17 + 3) + 23*f.f*(pid % 13 + 1)
                              + 7*j.j*(pid % 11 + 1) + 31*pid) % 4001 - 2000
                             AS BIGINT)) AS BIGINT) AS e
                    FROM iids
                    CROSS JOIN (SELECT unnest(range(0, 65)) AS f) f
                    CROSS JOIN (SELECT unnest(range(0, 16)) AS j) j
                    GROUP BY id, side, f.f),
            abits AS (SELECT a.id, a.side, a.f AS x,
                             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
                      FROM aeng a
                      JOIN aeng b ON a.id = b.id AND a.side = b.side
                                  AND b.f = a.f + 1
                      WHERE a.f < 64),
            abands AS (SELECT id, side, x // 16 AS tbl,
                              CAST(sum(bit * (1 << (x % 16)))
                                   AS BIGINT) AS val
                       FROM abits GROUP BY 1, 2, 3),
            ap AS (SELECT n.id AS id_new, r.id AS id_ref
                   FROM abands n
                   JOIN abands r ON n.tbl = r.tbl
                   WHERE n.side = 'n' AND r.side = 'r'
                   GROUP BY 1, 2
                   HAVING sum(bit_count(xor(n.val, r.val))) <= 3),
            arow AS (SELECT 'audio', c.n_new, c.n_ref,
                            CAST((SELECT count(*) FROM ap) AS BIGINT),
                            CAST((SELECT count(DISTINCT id_new) FROM ap)
                              AS BIGINT),
                            CAST(c.n_new
                                 - (SELECT count(DISTINCT id_new) FROM ap)
                              AS BIGINT),
                            CAST(0 AS BIGINT), CAST(1 AS BIGINT)
                     FROM counts c)
            SELECT * FROM trow
            UNION ALL SELECT * FROM irow
            UNION ALL SELECT * FROM arow
        """,
        "media_audio_fingerprint": """
            WITH ids AS (SELECT doc_id AS id, doc_id AS pid FROM documents
                         UNION ALL
                         SELECT doc_id + 100000, doc_id FROM documents
                         WHERE doc_id % 10 = 0),
            eng AS (SELECT id, f.f AS f,
                           CAST(sum(CAST(
                             (f.f*j.j*(pid % 17 + 3) + 23*f.f*(pid % 13 + 1)
                              + 7*j.j*(pid % 11 + 1) + 31*pid) % 4001 - 2000
                             AS BIGINT) * CAST(
                             (f.f*j.j*(pid % 17 + 3) + 23*f.f*(pid % 13 + 1)
                              + 7*j.j*(pid % 11 + 1) + 31*pid) % 4001 - 2000
                             AS BIGINT)) AS BIGINT) AS e
                    FROM ids
                    CROSS JOIN (SELECT unnest(range(0, 65)) AS f) f
                    CROSS JOIN (SELECT unnest(range(0, 16)) AS j) j
                    GROUP BY id, f.f),
            bits AS (SELECT a.id, a.f AS x,
                            CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
                     FROM eng a
                     JOIN eng b ON a.id = b.id AND b.f = a.f + 1
                     WHERE a.f < 64),
            bands AS (SELECT id, x // 16 AS tbl,
                             CAST(sum(bit * (1 << (x % 16))) AS BIGINT) AS val
                      FROM bits GROUP BY 1, 2),
            ham AS (SELECT a.id AS id_a, b.id AS id_b,
                           CAST(sum(bit_count(xor(a.val, b.val))) AS BIGINT)
                             AS hamming
                    FROM bands a
                    JOIN bands b ON a.tbl = b.tbl AND a.id < b.id
                    GROUP BY 1, 2)
            SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        """,
        "media_video_near_dup": """
            WITH ids AS (
              SELECT doc_id AS id, doc_id AS pid,
                     CAST(3 + doc_id % 5 AS BIGINT) AS nf FROM documents
              UNION ALL
              SELECT doc_id + 100000, doc_id, 3 + doc_id % 5
              FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 200000, doc_id, 2 + doc_id % 5
              FROM documents WHERE doc_id % 20 = 0),
            dims AS (SELECT id, pid, nf, 8 + pid % 9 AS w0, 8 + pid % 7 AS h0
                     FROM ids),
            fr AS (SELECT id, w0, h0, g.g AS g, pid + 131*g.g AS e
                   FROM dims
                   CROSS JOIN LATERAL
                     (SELECT unnest(range(0, nf)) AS g) g),
            lum AS (SELECT id, g, x.x AS x, y.y AS y,
                      (299*((((x.x*w0)//9)*((y.y*h0)//8)*(e % 17 + 3)
                             + 5*((x.x*w0)//9)*(e % 11 + 1)
                             + 3*((y.y*h0)//8)*(e % 7 + 1) + e) % 256)
                     + 587*((((x.x*w0)//9)*((y.y*h0)//8)*(e % 17 + 3)
                             + 5*((x.x*w0)//9)*(e % 11 + 1)
                             + 3*((y.y*h0)//8)*(e % 7 + 1) + 11 + e) % 256)
                     + 114*((((x.x*w0)//9)*((y.y*h0)//8)*(e % 17 + 3)
                             + 5*((x.x*w0)//9)*(e % 11 + 1)
                             + 3*((y.y*h0)//8)*(e % 7 + 1) + 22 + e) % 256)
                      ) // 1000 AS l
                    FROM fr
                    CROSS JOIN (SELECT unnest(range(0, 9)) AS x) x
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y),
            bits AS (SELECT a.id, a.g, a.y, a.x,
                            CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
                     FROM lum a
                     JOIN lum b ON a.id = b.id AND a.g = b.g
                                AND a.y = b.y AND b.x = a.x + 1
                     WHERE a.x < 8),
            bands AS (SELECT id, g, y // 2 AS tbl,
                             CAST(sum(bit * (1 << ((y % 2) * 8 + x)))
                                  AS BIGINT) AS val
                      FROM bits GROUP BY 1, 2, 3),
            fham AS (SELECT a.id AS id_a, b.id AS id_b, a.g AS g,
                            CAST(sum(bit_count(xor(a.val, b.val)))
                                 AS BIGINT) AS fham
                     FROM bands a
                     JOIN bands b ON a.g = b.g AND a.tbl = b.tbl
                                  AND a.id < b.id
                     GROUP BY 1, 2, 3)
            SELECT id_a, id_b,
                   CAST(count(*) AS BIGINT) AS n_close,
                   CAST(sum(fham) AS BIGINT) AS sum_hamming
            FROM fham WHERE fham <= 3
            GROUP BY id_a, id_b
            HAVING count(*) >= 2
        """,
        "media_incremental_dedup": _MEDIA_INCR_ORACLE,
        "media_index_refresh": _MEDIA_INCR_ORACLE,
        "stream_media_refresh": _MEDIA_INCR_ORACLE,
        "media_audio_shifted": """
            WITH ids AS (
              SELECT doc_id AS id, doc_id AS pid, 0 AS off FROM documents
              UNION ALL
              SELECT doc_id + 100000, doc_id, 0 FROM documents
              WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 300000, doc_id, 8 FROM documents
              WHERE doc_id % 20 = 0),
            nfr AS (SELECT id, pid, off,
                           (2080 + pid % 509) // 16 - off AS nf
                    FROM ids),
            eng AS (SELECT n.id, f.f AS f,
                           CAST(sum(CAST(
                             ((f.f + n.off)*j.j*(n.pid % 17 + 3)
                              + 23*(f.f + n.off)*(n.pid % 13 + 1)
                              + 7*j.j*(n.pid % 11 + 1) + 31*n.pid)
                             % 4001 - 2000
                             AS BIGINT) * CAST(
                             ((f.f + n.off)*j.j*(n.pid % 17 + 3)
                              + 23*(f.f + n.off)*(n.pid % 13 + 1)
                              + 7*j.j*(n.pid % 11 + 1) + 31*n.pid)
                             % 4001 - 2000
                             AS BIGINT)) AS BIGINT) AS e
                    FROM nfr n
                    CROSS JOIN LATERAL
                      (SELECT unnest(range(0, n.nf)) AS f) f
                    CROSS JOIN (SELECT unnest(range(0, 16)) AS j) j
                    GROUP BY n.id, f.f),
            win AS (SELECT id, w.w AS g FROM nfr
                    CROSS JOIN LATERAL
                      (SELECT unnest(range(0, (nf - 65) // 8 + 1))
                       AS w) w),
            wbits AS (SELECT win.id, win.g, x.x AS x,
                             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
                      FROM win
                      CROSS JOIN (SELECT unnest(range(0, 64)) AS x) x
                      JOIN eng a ON a.id = win.id
                                 AND a.f = win.g * 8 + x.x
                      JOIN eng b ON b.id = win.id
                                 AND b.f = win.g * 8 + x.x + 1),
            bands AS (SELECT id, g, x // 16 AS tbl,
                             CAST(sum(bit * (1 << (x % 16)))
                                  AS BIGINT) AS val
                      FROM wbits GROUP BY 1, 2, 3),
            fham AS (SELECT a.id AS id_a, b.id AS id_b, k.k AS shift,
                            a.g AS g,
                            CAST(sum(bit_count(xor(a.val, b.val)))
                                 AS BIGINT) AS fham
                     FROM bands a
                     CROSS JOIN (SELECT unnest(range(-2, 3)) AS k) k
                     JOIN bands b ON a.g = b.g + k.k AND a.tbl = b.tbl
                                  AND a.id < b.id
                     GROUP BY 1, 2, 3, 4),
            ps AS (SELECT id_a, id_b, shift,
                          CAST(count(*) AS BIGINT) AS n_close,
                          CAST(sum(fham) AS BIGINT) AS sum_hamming
                   FROM fham WHERE fham <= 3
                   GROUP BY 1, 2, 3
                   HAVING count(*) >= 2),
            best AS (SELECT id_a, id_b, shift, n_close, sum_hamming,
                            row_number() OVER (
                              PARTITION BY id_a, id_b
                              ORDER BY n_close DESC, sum_hamming ASC,
                                       shift ASC) AS rk
                     FROM ps)
            SELECT id_a, id_b, CAST(shift AS BIGINT) AS shift,
                   n_close, sum_hamming
            FROM best WHERE rk = 1
        """,
        "media_video_shifted": """
            WITH ids AS (
              SELECT doc_id AS id, doc_id AS pid,
                     CAST(3 + doc_id % 5 AS BIGINT) AS nf,
                     0 AS trim FROM documents
              UNION ALL
              SELECT doc_id + 100000, doc_id, 3 + doc_id % 5, 0
              FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 300000, doc_id, 3 + doc_id % 5 - 1, 1
              FROM documents WHERE doc_id % 20 = 0),
            dims AS (SELECT id, pid, nf, trim,
                            8 + pid % 9 AS w0, 8 + pid % 7 AS h0
                     FROM ids),
            fr AS (SELECT id, w0, h0, g.g AS g,
                          pid + 131*(g.g + trim) AS e
                   FROM dims
                   CROSS JOIN LATERAL
                     (SELECT unnest(range(0, nf)) AS g) g),
            lum AS (SELECT id, g, x.x AS x, y.y AS y,
                      (299*((((x.x*w0)//9)*((y.y*h0)//8)*(e % 17 + 3)
                             + 5*((x.x*w0)//9)*(e % 11 + 1)
                             + 3*((y.y*h0)//8)*(e % 7 + 1) + e) % 256)
                     + 587*((((x.x*w0)//9)*((y.y*h0)//8)*(e % 17 + 3)
                             + 5*((x.x*w0)//9)*(e % 11 + 1)
                             + 3*((y.y*h0)//8)*(e % 7 + 1) + 11 + e) % 256)
                     + 114*((((x.x*w0)//9)*((y.y*h0)//8)*(e % 17 + 3)
                             + 5*((x.x*w0)//9)*(e % 11 + 1)
                             + 3*((y.y*h0)//8)*(e % 7 + 1) + 22 + e) % 256)
                      ) // 1000 AS l
                    FROM fr
                    CROSS JOIN (SELECT unnest(range(0, 9)) AS x) x
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y),
            bits AS (SELECT a.id, a.g, a.y, a.x,
                            CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
                     FROM lum a
                     JOIN lum b ON a.id = b.id AND a.g = b.g
                                AND a.y = b.y AND b.x = a.x + 1
                     WHERE a.x < 8),
            bands AS (SELECT id, g, y // 2 AS tbl,
                             CAST(sum(bit * (1 << ((y % 2) * 8 + x)))
                                  AS BIGINT) AS val
                      FROM bits GROUP BY 1, 2, 3),
            fham AS (SELECT a.id AS id_a, b.id AS id_b, k.k AS shift,
                            a.g AS g,
                            CAST(sum(bit_count(xor(a.val, b.val)))
                                 AS BIGINT) AS fham
                     FROM bands a
                     CROSS JOIN (SELECT unnest(range(-2, 3)) AS k) k
                     JOIN bands b ON a.g = b.g + k.k AND a.tbl = b.tbl
                                  AND a.id < b.id
                     GROUP BY 1, 2, 3, 4),
            ps AS (SELECT id_a, id_b, shift,
                          CAST(count(*) AS BIGINT) AS n_close,
                          CAST(sum(fham) AS BIGINT) AS sum_hamming
                   FROM fham WHERE fham <= 3
                   GROUP BY 1, 2, 3
                   HAVING count(*) >= 2),
            best AS (SELECT id_a, id_b, shift, n_close, sum_hamming,
                            row_number() OVER (
                              PARTITION BY id_a, id_b
                              ORDER BY n_close DESC, sum_hamming ASC,
                                       shift ASC) AS rk
                     FROM ps)
            SELECT id_a, id_b, CAST(shift AS BIGINT) AS shift,
                   n_close, sum_hamming
            FROM best WHERE rk = 1
        """,
        "media_audio_pipeline": """
            WITH ids AS (SELECT doc_id AS id, doc_id AS pid FROM documents
                         UNION ALL
                         SELECT doc_id + 100000, doc_id FROM documents
                         WHERE doc_id % 10 = 0),
            par AS (SELECT id, pid, 1040 + pid % 257 AS n FROM ids),
            feat AS (SELECT id, pid, n, n // 64 AS len_bucket,
                            round(sqrt(CAST(sum(CAST(s AS BIGINT)
                                                * CAST(s AS BIGINT))
                                            AS DOUBLE) / n), 6) AS rms,
                            max(abs(s)) AS peak,
                            round(CAST(n AS DOUBLE) * 1000 / 8000, 6) AS dur
                     FROM (SELECT id, pid, n,
                                  (i.i//16)*(i.i%16)*(pid % 17 + 3)
                                  + 23*(i.i//16)*(pid % 13 + 1)
                                  + 7*(i.i%16)*(pid % 11 + 1)
                                  + 31*pid AS raw
                           FROM par
                           CROSS JOIN LATERAL
                             (SELECT unnest(range(0, n)) AS i) i
                          ) t(id, pid, n, raw),
                          LATERAL (SELECT raw % 4001 - 2000 AS s) s
                     GROUP BY id, pid, n),
            staged AS (SELECT id, pid, len_bucket, dur, peak,
                              CASE WHEN rms >= 1140.0 THEN 1 ELSE 0 END AS q
                       FROM feat),
            surv AS (SELECT id, pid FROM staged WHERE q = 1),
            eng AS (SELECT id, f.f AS f,
                           CAST(sum(CAST(
                             (f.f*j.j*(pid % 17 + 3) + 23*f.f*(pid % 13 + 1)
                              + 7*j.j*(pid % 11 + 1) + 31*pid) % 4001 - 2000
                             AS BIGINT) * CAST(
                             (f.f*j.j*(pid % 17 + 3) + 23*f.f*(pid % 13 + 1)
                              + 7*j.j*(pid % 11 + 1) + 31*pid) % 4001 - 2000
                             AS BIGINT)) AS BIGINT) AS e
                    FROM surv
                    CROSS JOIN (SELECT unnest(range(0, 65)) AS f) f
                    CROSS JOIN (SELECT unnest(range(0, 16)) AS j) j
                    GROUP BY id, f.f),
            bits AS (SELECT a.id, a.f AS x,
                            CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
                     FROM eng a
                     JOIN eng b ON a.id = b.id AND b.f = a.f + 1
                     WHERE a.f < 64),
            bands AS (SELECT id, x // 16 AS tbl,
                             CAST(sum(bit * (1 << (x % 16))) AS BIGINT) AS val
                      FROM bits GROUP BY 1, 2),
            dropped AS (SELECT DISTINCT b.id
                        FROM bands a
                        JOIN bands b ON a.tbl = b.tbl AND a.id < b.id
                        GROUP BY a.id, b.id
                        HAVING sum(bit_count(xor(a.val, b.val))) <= 3),
            tagged AS (SELECT s.*,
                              CASE WHEN s.q = 1 AND d.id IS NULL
                                   THEN 1 ELSE 0 END AS kept
                       FROM staged s LEFT JOIN dropped d ON s.id = d.id)
            SELECT len_bucket,
                   CAST(count(*) AS BIGINT) AS n_audio,
                   CAST(sum(q) AS BIGINT) AS n_quality,
                   CAST(sum(kept) AS BIGINT) AS n_kept,
                   CASE WHEN sum(kept) > 0 THEN
                     sum(CASE WHEN kept = 1 THEN dur ELSE 0.0 END)
                     / sum(kept) END AS kept_avg_dur_ms,
                   CAST(sum(CASE WHEN kept = 1 THEN peak ELSE 0 END)
                        AS BIGINT) AS kept_sum_peak
            FROM tagged GROUP BY len_bucket
        """,
        "media_dhash_wide": """
            WITH ids AS (SELECT doc_id AS id, doc_id AS pid FROM documents
                         UNION ALL
                         SELECT doc_id + 100000, doc_id FROM documents
                         WHERE doc_id % 10 = 0),
            dims AS (SELECT id, pid, 8 + pid % 9 AS w0, 8 + pid % 7 AS h0
                     FROM ids),
            lum AS (SELECT id, x.x AS x, y.y AS y,
                      (299*((((x.x*w0)//17)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//17)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + pid) % 256)
                     + 587*((((x.x*w0)//17)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//17)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 11 + pid) % 256)
                     + 114*((((x.x*w0)//17)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//17)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 22 + pid) % 256)
                      ) // 1000 AS l
                    FROM dims
                    CROSS JOIN (SELECT unnest(range(0, 17)) AS x) x
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y),
            bits AS (SELECT a.id, a.y, a.x,
                            CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
                     FROM lum a
                     JOIN lum b ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
                     WHERE a.x < 16),
            bands AS (SELECT id, y AS tbl,
                             CAST(sum(bit * (1 << x)) AS BIGINT) AS val
                      FROM bits GROUP BY 1, 2),
            ham AS (SELECT a.id AS id_a, b.id AS id_b,
                           CAST(sum(bit_count(xor(a.val, b.val))) AS BIGINT)
                             AS hamming
                    FROM bands a
                    JOIN bands b ON a.tbl = b.tbl AND a.id < b.id
                    GROUP BY 1, 2)
            SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        """,
        "media_curation_pipeline": """
            WITH ids AS (SELECT doc_id AS id, doc_id AS pid FROM documents
                         UNION ALL
                         SELECT doc_id + 100000, doc_id FROM documents
                         WHERE doc_id % 10 = 0),
            dims AS (SELECT id, pid, 8 + pid % 9 AS w0, 8 + pid % 7 AS h0
                     FROM ids),
            px AS (SELECT id, w0, h0,
                          (x.x*y.y*(pid % 17 + 3) + 5*x.x*(pid % 11 + 1)
                           + 3*y.y*(pid % 7 + 1) + 11*c.c + pid) % 256 AS v
                   FROM dims
                   CROSS JOIN LATERAL (SELECT unnest(range(0, w0)) AS x) x
                   CROSS JOIN LATERAL (SELECT unnest(range(0, h0)) AS y) y
                   CROSS JOIN (SELECT unnest(range(0, 3)) AS c) c),
            feat AS (SELECT id, w0 AS w,
                            round(CAST(sum(v) AS DOUBLE)
                                  / (3*w0*h0*255), 6) AS mean_all,
                            round(sqrt(CAST(3*w0*h0*sum(v*v)
                                            - sum(v)*sum(v) AS DOUBLE))
                                  / (3*w0*h0*255), 6) AS std_all
                     FROM px GROUP BY id, w0, h0),
            staged AS (SELECT id, w, mean_all,
                              CASE WHEN mean_all >= 0.48
                                    AND std_all >= 0.25
                                   THEN 1 ELSE 0 END AS q
                       FROM feat),
            surv AS (SELECT d.id, d.pid, d.w0, d.h0 FROM dims d
                     JOIN staged s ON d.id = s.id AND s.q = 1),
            lum AS (SELECT id, x.x AS x, y.y AS y,
                      (299*((((x.x*w0)//17)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//17)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + pid) % 256)
                     + 587*((((x.x*w0)//17)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//17)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 11 + pid)
                            % 256)
                     + 114*((((x.x*w0)//17)*((y.y*h0)//8)*(pid % 17 + 3)
                             + 5*((x.x*w0)//17)*(pid % 11 + 1)
                             + 3*((y.y*h0)//8)*(pid % 7 + 1) + 22 + pid)
                            % 256)
                      ) // 1000 AS l
                    FROM surv
                    CROSS JOIN (SELECT unnest(range(0, 17)) AS x) x
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y),
            bits AS (SELECT a.id, a.y, a.x,
                            CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
                     FROM lum a
                     JOIN lum b ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
                     WHERE a.x < 16),
            bands AS (SELECT id, y AS tbl,
                             CAST(sum(bit * (1 << x)) AS BIGINT) AS val
                      FROM bits GROUP BY 1, 2),
            ham AS (SELECT a.id AS id_a, b.id AS id_b,
                           sum(bit_count(xor(a.val, b.val))) AS hamming
                    FROM bands a
                    JOIN bands b ON a.tbl = b.tbl AND a.id < b.id
                    GROUP BY 1, 2),
            dropped AS (SELECT DISTINCT id_b AS id FROM ham
                        WHERE hamming <= 3),
            tagged AS (SELECT s.id, s.w, s.mean_all, s.q,
                              CASE WHEN s.q = 1 AND d.id IS NULL
                                   THEN 1 ELSE 0 END AS kept
                       FROM staged s LEFT JOIN dropped d ON s.id = d.id)
            SELECT w,
                   CAST(count(*) AS BIGINT) AS n_images,
                   CAST(sum(q) AS BIGINT) AS n_quality,
                   CAST(sum(kept) AS BIGINT) AS n_kept,
                   CASE WHEN sum(kept) > 0 THEN
                     round(CAST(sum(CASE WHEN kept = 1
                                    THEN CAST(mean_all AS DECIMAL(18,6))
                                    ELSE CAST(0.0 AS DECIMAL(18,6)) END)
                                AS DOUBLE) / sum(kept), 6)
                   END AS kept_mean_all
            FROM tagged GROUP BY w
        """,
        "cms_refresh": """
            WITH t AS (SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS item
                       FROM orders),
            skb AS (SELECT d.d AS d,
                           ('0x' || substr(md5(item || ':' ||
                                 CAST(d.d AS VARCHAR)), 1, 15))::BIGINT
                             % 2048 AS bucket,
                           count(*) AS cnt
                    FROM t
                    CROSS JOIN (SELECT unnest(range(0, 4)) AS d) d
                    WHERE o_orderkey % 4 <> 0
                    GROUP BY 1, 2),
            skf AS (SELECT d.d AS d,
                           ('0x' || substr(md5(item || ':' ||
                                 CAST(d.d AS VARCHAR)), 1, 15))::BIGINT
                             % 2048 AS bucket,
                           count(*) AS cnt
                    FROM t
                    CROSS JOIN (SELECT unnest(range(0, 4)) AS d) d
                    GROUP BY 1, 2),
            ex AS (SELECT item, CAST(count(*) AS BIGINT) AS freq
                   FROM t GROUP BY 1 HAVING count(*) >= 15),
            eb AS (SELECT ex.item, min(coalesce(skb.cnt, 0)) AS e
                   FROM ex
                   CROSS JOIN (SELECT unnest(range(0, 4)) AS d) dd
                   LEFT JOIN skb ON skb.d = dd.d
                     AND skb.bucket = ('0x' || substr(md5(ex.item || ':' ||
                           CAST(dd.d AS VARCHAR)), 1, 15))::BIGINT % 2048
                   GROUP BY 1),
            ef AS (SELECT ex.item, min(coalesce(skf.cnt, 0)) AS e
                   FROM ex
                   CROSS JOIN (SELECT unnest(range(0, 4)) AS d) dd
                   LEFT JOIN skf ON skf.d = dd.d
                     AND skf.bucket = ('0x' || substr(md5(ex.item || ':' ||
                           CAST(dd.d AS VARCHAR)), 1, 15))::BIGINT % 2048
                   GROUP BY 1)
            SELECT ex.item, ex.freq,
                   CAST(eb.e AS BIGINT) AS cms_est_base,
                   CAST(ef.e AS BIGINT) AS cms_est,
                   CAST(ef.e - ex.freq AS BIGINT) AS overcount
            FROM ex JOIN eb ON ex.item = eb.item
            JOIN ef ON ex.item = ef.item
        """,
        "interval_join": """
            WITH base AS (SELECT event_id, event_type,
                                 epoch_us(ts)//1000000 AS t FROM events),
            wins AS (SELECT event_type, event_id AS win_id, t AS w_start,
                            t + (event_id % 11 + 1)*3600 AS w_end
                     FROM base WHERE event_id % 97 = 0),
            spans AS (SELECT event_type, event_id, t AS e_start,
                             t + (event_id % 5 + 1)*600 AS e_end FROM base)
            SELECT s.event_id, w.win_id,
                   CAST(least(e_end, w_end) - greatest(e_start, w_start)
                        AS BIGINT) AS overlap_s
            FROM spans s JOIN wins w ON s.event_type = w.event_type
              AND e_start <= w_end AND w_start <= e_end
        """,
        "storage_branch": """
            WITH base AS (SELECT o_orderstatus,
                                 CAST(count(*) AS BIGINT) AS n_orders,
                                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                                      AS DOUBLE) AS base_total
                          FROM orders GROUP BY 1),
            exp AS (SELECT o_orderstatus,
                           CAST(sum(CAST(CASE WHEN o_orderkey % 3 = 0
                                              THEN o_totalprice + 1.0
                                              ELSE o_totalprice END
                                         AS DECIMAL(18,2))) AS DOUBLE)
                             AS exp_total
                    FROM orders GROUP BY 1)
            SELECT base.o_orderstatus, n_orders, base_total, exp_total
            FROM base JOIN exp ON base.o_orderstatus = exp.o_orderstatus
        """,
        "approx_quantiles_err": """
            SELECT l_linestatus,
                   quantile_cont(l_quantity, 0.25) AS p25_exact,
                   quantile_cont(l_quantity, 0.5) AS p50_exact,
                   quantile_cont(l_quantity, 0.75) AS p75_exact,
                   CAST(1 AS INT) AS p25_rank_ok,
                   CAST(1 AS INT) AS p50_rank_ok,
                   CAST(1 AS INT) AS p75_rank_ok
            FROM lineitem GROUP BY l_linestatus
        """,
        "approx_distinct": """
            SELECT l_returnflag,
                   CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_part,
                   CAST(1 AS INT) AS within_10pct
            FROM lineitem GROUP BY l_returnflag
        """,
        "gopher_rules": """
            WITH t AS (SELECT doc_id, {TOKENS} AS toks FROM documents),
            m AS (SELECT doc_id,
                         len(toks) AS n,
                         coalesce(list_sum(list_transform(toks,
                             x -> len(x))), 0) AS s,
                         len(list_filter(toks,
                             x -> regexp_matches(x, '[a-z]'))) AS na,
                         len(list_intersect(list_distinct(toks),
                             ['the','of','and','to','a','in','is','it',
                              'that','for'])) AS ns
                  FROM t)
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_tokens,
                   CAST(s AS BIGINT) AS n_word_chars,
                   CASE WHEN n > 0
                        THEN round(CAST(s AS DOUBLE) / n, 6)
                        ELSE 0.0 END AS mean_word_len,
                   CAST(na AS BIGINT) AS n_alpha_tokens,
                   CAST(ns AS BIGINT) AS n_stop_distinct,
                   CAST(n >= 50 AND n <= 100000 AS INT) AS r_wordcount,
                   CAST(n > 0 AND s >= 3*n AND s <= 10*n AS INT)
                     AS r_meanlen,
                   CAST(n > 0 AND na*5 >= n*4 AS INT) AS r_alpha,
                   CAST(ns >= 2 AS INT) AS r_stop,
                   CAST(n >= 50 AND n <= 100000
                        AND n > 0 AND s >= 3*n AND s <= 10*n
                        AND na*5 >= n*4 AND ns >= 2 AS INT) AS pass_gopher
            FROM m
        """.replace("{TOKENS}", TOKENS_SQL),
        "media_decode_wav": """
            WITH dims AS (SELECT doc_id AS id, 64 + doc_id % 57 AS n,
                                 8000 + (doc_id % 4) * 2000 AS rate
                          FROM documents),
            sm AS (SELECT id, n, rate,
                          (31*id + 7*i.i) % 4001 - 2000 AS v
                   FROM dims CROSS JOIN LATERAL
                     (SELECT unnest(range(0, n)) AS i) i),
            agg AS (SELECT id, n, rate, sum(v) AS s, sum(v*v) AS q,
                           max(abs(v)) AS p
                    FROM sm GROUP BY 1, 2, 3)
            SELECT id,
                   CAST(n AS BIGINT) AS n_samples,
                   CAST(rate AS BIGINT) AS sample_rate,
                   round(n * 1000.0 / rate, 6) AS duration_ms,
                   round(CAST(s AS DOUBLE) / n, 6) AS mean_amp,
                   round(sqrt(CAST(q AS DOUBLE) / n), 6) AS rms_amp,
                   CAST(p AS BIGINT) AS peak_amp
            FROM agg
        """,
        "ohlc_bars": """
            WITH r AS (SELECT event_type,
                              date_trunc('hour', ts) AS bar_start,
                              value,
                              row_number() OVER (
                                PARTITION BY event_type,
                                             date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
                              row_number() OVER (
                                PARTITION BY event_type,
                                             date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
                       FROM events)
            SELECT event_type, bar_start,
                   max(CASE WHEN rn_a = 1 THEN value END) AS open,
                   max(value) AS high,
                   min(value) AS low,
                   max(CASE WHEN rn_d = 1 THEN value END) AS close,
                   CAST(count(*) AS BIGINT) AS n_ticks,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                     AS volume
            FROM r GROUP BY 1, 2
        """,
        "vwap_bars": """
            SELECT l_returnflag,
                   (epoch_us(l_shipdate) // 1000000) // 604800 * 604800
                     AS bar_start,
                   CAST(count(*) AS BIGINT) AS n_trades,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS notional,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS vwap
            FROM lineitem GROUP BY 1, 2
        """,
        "max_drawdown": """
            WITH base AS (SELECT user_id AS k, ts AS t, event_id AS i,
                                 CAST(value AS DECIMAL(18,6)) AS v
                          FROM events),
            curve AS (SELECT k, t, i,
                             sum(v) OVER (PARTITION BY k ORDER BY t, i
                                          ROWS UNBOUNDED PRECEDING) AS eq,
                             row_number() OVER (PARTITION BY k
                                                ORDER BY t DESC, i DESC)
                               AS rn_d
                      FROM base),
            peaked AS (SELECT k, eq, rn_d,
                              max(eq) OVER (PARTITION BY k ORDER BY t, i
                                            ROWS UNBOUNDED PRECEDING)
                                AS peak
                       FROM curve)
            SELECT k AS user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(max(CASE WHEN rn_d = 1 THEN eq END) AS DOUBLE)
                     AS final_equity,
                   CAST(max(peak) AS DOUBLE) AS peak_equity,
                   CAST(max(peak - eq) AS DOUBLE) AS max_drawdown
            FROM peaked GROUP BY k
        """,
        "semcache_subplan": """
            SELECT o_orderstatus AS key,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(0 AS INT) AS a_hit,
                   CAST(0 AS INT) AS b_full_hit,
                   CAST(1 AS INT) AS interior_hits
            FROM orders GROUP BY o_orderstatus
        """,
        "mg_heavy_hitters": """
            WITH t AS (SELECT unnest({TOKENS}) AS item FROM documents),
            tot AS (SELECT count(*) AS n FROM t)
            SELECT item, CAST(count(*) AS BIGINT) AS freq
            FROM t GROUP BY item
            HAVING count(*) >= greatest(CAST(floor(
                (SELECT n FROM tot) / 128.0) AS BIGINT), 1)
        """.replace("{TOKENS}", TOKENS_SQL),
        "mv_refresh_join": """
            WITH a2 AS (SELECT o_orderkey, o_custkey AS c_custkey,
                               CASE WHEN o_orderkey % 13 = 0
                                    THEN o_totalprice + 10.0
                                    ELSE o_totalprice END AS p
                        FROM orders WHERE o_custkey % 7 <> 0),
            b2 AS (SELECT c_custkey,
                          CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
                               ELSE c_mktsegment END AS c_mktsegment
                   FROM customer)
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM a2 JOIN b2 USING (c_custkey) GROUP BY 1
        """,
        "media_video_frames": """
            WITH dims AS (SELECT doc_id AS id, 8 + doc_id % 9 AS w,
                                 8 + doc_id % 7 AS h,
                                 3 + doc_id % 5 AS nf
                          FROM documents WHERE doc_id < 300),
            fr AS (SELECT id, w, h, f.f AS f
                   FROM dims CROSS JOIN LATERAL
                     (SELECT unnest(range(0, nf, 2)) AS f) f),
            px AS (SELECT id, w, h, f,
                          (3*x.x + 7*y.y + 11*c.c + id + 13*f) % 256 AS v
                   FROM fr
                   CROSS JOIN LATERAL (SELECT unnest(range(0, w)) AS x) x
                   CROSS JOIN LATERAL (SELECT unnest(range(0, h)) AS y) y
                   CROSS JOIN (SELECT unnest(range(0, 3)) AS c) c),
            agg AS (SELECT id, f, w, h, sum(v) AS s, sum(v*v) AS q
                    FROM px GROUP BY 1, 2, 3, 4)
            SELECT id, CAST(f AS BIGINT) AS frame_idx,
                   round(CAST(s AS DOUBLE) / (3*w*h*255), 6) AS mean_all,
                   round(sqrt(CAST(3*w*h*q - s*s AS DOUBLE))
                         / (3*w*h*255), 6) AS std_all
            FROM agg
        """,
        "media_audio_frames": """
            WITH dims AS (SELECT doc_id AS id, 64 + doc_id % 57 AS n
                          FROM documents WHERE doc_id < 200),
            sm AS (SELECT id, i.i AS i,
                          (31*id + 7*i.i) % 4001 - 2000 AS v
                   FROM dims CROSS JOIN LATERAL
                     (SELECT unnest(range(0, n)) AS i) i)
            SELECT id, CAST(i // 16 AS BIGINT) AS frame_idx,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(v*v) AS BIGINT) AS energy
            FROM sm GROUP BY 1, 2
        """,
        "feature_hash": """
            WITH t AS (SELECT doc_id, {TOKENS} AS toks FROM documents
                       WHERE doc_id < 100),
            ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            h AS (SELECT doc_id, {HEX15} % 64 AS bucket
                  FROM (SELECT doc_id, md5(tok) AS mh FROM ex) x)
            SELECT doc_id, CAST(bucket AS INT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM h GROUP BY 1, 2
        """.replace("{TOKENS}", TOKENS_SQL)
           .replace("{HEX15}", _sql_hex15("mh", 0)),
        "approx_quantiles": """
            SELECT l_linestatus,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(1 AS INT) AS p25_rank_ok,
                   CAST(1 AS INT) AS p50_rank_ok,
                   CAST(1 AS INT) AS p75_rank_ok
            FROM lineitem GROUP BY l_linestatus
        """,
        # ann_ivf_refresh probes ALL cells of the REFRESHED stored
        # index (ref build + O(batch) append), so its oracle is the
        # brute-force top-k over the MERGED corpus — which is the full
        # embeddings table, i.e. the ann_ivf invariant verbatim: any
        # vector the refresh lost/duplicated/mis-assigned, or any
        # build-vs-refresh tie-break drift, hash-mismatches.
        # ann_ivf_refresh_stream drains the same batch through
        # foreachBatch appends and probes the same refreshed index, so
        # it shares the merged-corpus brute-force oracle verbatim: a
        # dropped or double-applied micro-batch changes the posting
        # multiset and the all-cell probe's ranks hash-mismatch.
        "ann_ivf_refresh_stream": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id AS match_id, embedding AS cv
                       FROM embeddings),
                 s AS (SELECT query_id, match_id,
                              list_cosine_similarity(qv, cv) AS cos
                       FROM q, c WHERE query_id <> match_id)
            SELECT query_id, match_id, rank FROM (
              SELECT query_id, match_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, match_id) AS rank
              FROM s) t
            WHERE rank <= 10
        """,
        "ann_ivf_refresh": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id AS match_id, embedding AS cv
                       FROM embeddings),
                 s AS (SELECT query_id, match_id,
                              list_cosine_similarity(qv, cv) AS cos
                       FROM q, c WHERE query_id <> match_id)
            SELECT query_id, match_id, rank FROM (
              SELECT query_id, match_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, match_id) AS rank
              FROM s) t
            WHERE rank <= 10
        """,
        "ann_ivf": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id AS match_id, embedding AS cv
                       FROM embeddings),
                 s AS (SELECT query_id, match_id,
                              list_cosine_similarity(qv, cv) AS cos
                       FROM q, c WHERE query_id <> match_id)
            SELECT query_id, match_id, rank FROM (
              SELECT query_id, match_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, match_id) AS rank
              FROM s) t
            WHERE rank <= 10
        """,
        "dataset_split": _oracle_dataset_split(),
        "skew_salted_join": """
            WITH dim AS (SELECT o_custkey AS user_id, count(*) AS n_orders
                         FROM orders GROUP BY o_custkey)
            SELECT e.event_type, count(*) AS n_events,
                   CAST(sum(d.n_orders) AS BIGINT) AS sum_n_orders
            FROM events e JOIN dim d USING (user_id)
            GROUP BY e.event_type
        """,
        "span_dedup": _oracle_span_dedup(),
        "mixture_sample": _oracle_mixture_sample(),
        "mixture_sample_rows": _oracle_mixture_sample(rows=True),
        "minhash_candidates": _oracle_minhash_candidates(),
        "minhash_dedup": _oracle_minhash_dedup(),
        "simhash_candidates": _oracle_simhash_candidates(),
        "doc_fingerprint": _oracle_doc_fingerprint(),
        "embedding_near_dup": _oracle_embedding_near_dup(),
        "ann_lsh": _oracle_ann_lsh(),
        "ann_lsh_multiprobe": _oracle_ann_lsh_multiprobe(),
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
                 s AS (SELECT query_id, match_id,
                              list_cosine_similarity(qv, cv) AS cos
                       FROM q, c WHERE query_id <> match_id)
            SELECT query_id, match_id, rank FROM (
              SELECT query_id, match_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, match_id) AS rank
              FROM s) t
            WHERE rank <= 10
        """,
        "text_quality": f"""
            WITH t AS (SELECT doc_id, text, {TOKENS_SQL} AS toks FROM documents)
            SELECT doc_id,
                   length(text) AS n_chars_q,
                   len(toks) AS n_tokens,
                   list_sum(list_transform(toks, x -> length(x))) / len(toks) AS mean_word_len,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) AS digit_ratio,
                   len(list_distinct(list_filter(toks, x -> list_contains([{stop_en}], x)))) / len(toks) AS stopword_ratio
            FROM t
        """,
        "lang_id": f"""
            WITH scored AS (
              SELECT len(list_distinct(list_filter({TOKENS_SQL}, x -> list_contains([{lang_scores['en']}], x)))) AS s_en,
                     len(list_distinct(list_filter({TOKENS_SQL}, x -> list_contains([{lang_scores['de']}], x)))) AS s_de,
                     len(list_distinct(list_filter({TOKENS_SQL}, x -> list_contains([{lang_scores['fr']}], x)))) AS s_fr,
                     len(list_distinct(list_filter({TOKENS_SQL}, x -> list_contains([{lang_scores['es']}], x)))) AS s_es
              FROM documents)
            SELECT lang_pred, count(*) AS n_docs FROM (
              SELECT CASE
                       WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
                       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                       ELSE 'es' END AS lang_pred
              FROM scored) t
            GROUP BY lang_pred
        """,
        "token_stats": f"""
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS total_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY source
        """,
        "mr_group_reduce": """
            SELECT o_orderstatus AS key, CAST(count(*) AS VARCHAR) AS out
            FROM orders GROUP BY o_orderstatus
        """,
        "mr_reduce_by_key": """
            SELECT l_returnflag AS key,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM lineitem GROUP BY l_returnflag
        """,
        "pandas_udf_tokens": """
            SELECT doc_id,
                   CAST(len({TOKENS}) AS INT) AS n_tok
            FROM documents
        """.replace("{TOKENS}", TOKENS_SQL),
        "mr_word_count": """
            SELECT word AS key, count(*) AS value
            FROM (SELECT unnest({TOKENS}) AS word FROM documents) t
            GROUP BY word
        """.replace("{TOKENS}", TOKENS_SQL),
        "mr_cogroup": """
            WITH o AS (SELECT o_custkey AS k, count(*) AS n_orders
                       FROM orders GROUP BY 1),
                 e AS (SELECT user_id AS k, count(*) AS n_events
                       FROM events GROUP BY 1)
            SELECT coalesce(o.k, e.k) AS user_id,
                   coalesce(n_orders, 0) AS n_orders,
                   coalesce(n_events, 0) AS n_events
            FROM o FULL OUTER JOIN e USING (k)
        """,
        # Append-mode session windows ARE deterministic for a finite
        # source: Spark emits exactly the sessions the final watermark
        # (ms-floored max event time - 1h) has closed. Session merge is
        # strict (a new event at exactly start+gap opens a NEW session,
        # since windows are [start, end)); end = last event + gap.
        "events_stream_session": """
            WITH o AS (SELECT user_id, ts, event_id,
                    CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS brk
                    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (SELECT user_id, ts,
                    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
                  FROM o),
            sess AS (SELECT user_id, min(ts) AS session_start,
                            max(ts) + INTERVAL 30 MINUTE AS session_end,
                            count(*) AS n_events
                     FROM s GROUP BY user_id, sid),
            wm AS (SELECT date_trunc('millisecond', max(ts)) - INTERVAL 1 HOUR AS w FROM events)
            SELECT session_start, session_end, user_id, n_events
            FROM sess, wm WHERE session_end < wm.w
        """,
        "events_stream_stateful": """
            SELECT user_id, count(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "semcache_demo": """
            SELECT o_orderstatus AS key, count(*) AS n_orders,
                   CAST(0 AS INTEGER) AS hit_first,
                   CAST(1 AS INTEGER) AS hit_second
            FROM orders GROUP BY o_orderstatus
        """,
        "semcache_invalidate": """
            SELECT o_orderstatus AS key,
                   count(*) * (CASE WHEN o_orderstatus = 'O' THEN 2 ELSE 1 END) AS n_orders,
                   CAST(0 AS INTEGER) AS hit_first,
                   CAST(1 AS INTEGER) AS hit_second,
                   CAST(0 AS INTEGER) AS hit_third
            FROM orders GROUP BY o_orderstatus
        """,
        "events_stream_upsert": """
            SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
        """,
        "funnel": """
            WITH staged AS (
              SELECT user_id, ts, event_type,
                     min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER w AS t1
              FROM events WINDOW w AS (PARTITION BY user_id)
            ), s2 AS (
              SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                                 THEN ts END) OVER w AS t2
              FROM staged WINDOW w AS (PARTITION BY user_id)
            ), s3 AS (
              SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                                 THEN ts END) OVER w AS t3
              FROM s2 WINDOW w AS (PARTITION BY user_id)
            ), per_user AS (
              SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
              FROM s3 GROUP BY user_id)
            SELECT count(t1) AS n_view,
                   count(t2) AS n_click_after_view,
                   count(t3) AS n_purchase_after_click
            FROM per_user
        """,
        "retention_cohorts": """
            WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                        FROM events),
            j AS (SELECT user_id, d,
                         min(d) OVER (PARTITION BY user_id) AS cohort
                  FROM ud)
            SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
                   CAST(d - cohort AS INTEGER) AS day_n,
                   count(*) AS n_users
            FROM j GROUP BY 1, 2
        """,
        "pandas_udaf_gmean": """
            SELECT o_orderstatus,
                   round(exp(avg(ln(o_totalprice))), 3) AS gmean_price
            FROM orders GROUP BY o_orderstatus
        """,
        "pii_scrub": """
            WITH planted AS (
              SELECT doc_id,
                     substr(text, 1, 80) || ' Contact user' ||
                     CAST(doc_id AS VARCHAR) ||
                     '@example.com call +1 (415) 555-0199 from 192.168.1.' ||
                     CAST(doc_id % 200 AS VARCHAR) || ' acct 98765432101234.'
                       AS raw
              FROM documents WHERE doc_id <= 150)
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(raw,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                         '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                       '\\b\\d{9,}\\b', '<NUMBER>', 'g'),
                     '\\+?\\d[\\d\\s().-]{7,14}\\d', '<PHONE>', 'g')
                     AS scrubbed
            FROM planted
        """,
        "repetition_stats": """
            WITH built AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0
                          THEN substr(text,1,60) || chr(10) ||
                               substr(text,61,60) || chr(10) ||
                               substr(text,1,60)
                          ELSE substr(text,1,60) || chr(10) ||
                               substr(text,61,60) END AS t
              FROM documents WHERE doc_id <= 200),
            lines AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line
                      FROM built),
            nz AS (SELECT doc_id, line FROM lines
                   WHERE length(trim(line)) > 0),
            pl AS (SELECT doc_id, line, count(*) AS n FROM nz GROUP BY 1, 2)
            SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_lines,
                   sum(CASE WHEN n > 1 THEN n ELSE 0 END) / sum(n)
                     AS dup_line_frac,
                   sum(CASE WHEN n > 1 THEN n * length(line) ELSE 0 END)
                     / sum(n * length(line)) AS dup_char_frac
            FROM pl GROUP BY doc_id
        """,
        "hypertable_rollup": """
            SELECT date_trunc('day', ts) AS day, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
                   max(value) AS max_value
            FROM events GROUP BY 1, 2
        """,
        "scd2": """
            WITH flagged AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN row_number() OVER w = 1
                               OR lag(event_type) OVER w IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), starts AS (SELECT user_id, event_type, ts, event_id
                          FROM flagged WHERE chg = 1)
            SELECT user_id, event_type, ts AS valid_from,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS valid_to
            FROM starts
        """,
        "stratified_sample": """
            SELECT o_orderstatus, count(*) AS n_sampled,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_price
            FROM orders
            WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
                  % 100
                  < CASE o_orderstatus WHEN 'F' THEN 30 WHEN 'O' THEN 10
                                       WHEN 'P' THEN 50 ELSE 0 END
            GROUP BY o_orderstatus
        """,
        "pagerank": """
            WITH pairs AS (
              SELECT DISTINCT 's:' || l_suppkey AS sup, 'c:' || o_custkey AS cust
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ),
            edges AS (SELECT sup AS src, cust AS dst FROM pairs
                      UNION ALL SELECT cust, sup FROM pairs),
            nodes AS (SELECT DISTINCT src AS node FROM edges
                      UNION SELECT DISTINCT dst FROM edges),
            outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
            r1 AS (SELECT n.node,
                          CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
                          CAST(coalesce(sum(CAST(CAST(1.0 AS DOUBLE) / d.deg
                                                 AS DECIMAL(28,15))), 0)
                               AS DOUBLE) AS pr
                   FROM nodes n
                   LEFT JOIN edges e ON e.dst = n.node
                   LEFT JOIN outdeg d ON d.src = e.src
                   GROUP BY n.node),
            r2 AS (SELECT n.node,
                          CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
                          CAST(coalesce(sum(CAST(r.pr / d.deg
                                                 AS DECIMAL(28,15))), 0)
                               AS DOUBLE) AS pr
                   FROM nodes n
                   LEFT JOIN edges e ON e.dst = n.node
                   LEFT JOIN r1 r ON r.node = e.src
                   LEFT JOIN outdeg d ON d.src = e.src
                   GROUP BY n.node)
            SELECT node, round(pr, 6) AS pr FROM r2
        """,
        "merge_upsert": """
            WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                          FROM orders WHERE o_orderkey % 3 = 0),
            upd AS (SELECT o_orderkey, o_orderstatus,
                           o_totalprice + 10.0 AS o_totalprice
                    FROM orders
                    WHERE o_orderkey % 6 = 0 OR o_orderkey % 5 = 1)
            SELECT * FROM base
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
            UNION ALL SELECT * FROM upd
        """,
        "bm25": """
            WITH tok AS (SELECT doc_id, unnest({TOKENS}) AS t FROM documents),
            doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            nd AS (SELECT count(*) AS n,
                          CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                   FROM doclen),
            tf AS (SELECT doc_id, t, count(*) AS tf FROM tok
                   WHERE t IN ('data', 'spark', 'shuffle')
                   GROUP BY doc_id, t),
            idf AS (SELECT t, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
                    FROM (SELECT t, count(*) AS df FROM tf GROUP BY t), nd),
            scored AS (
              SELECT tf.doc_id,
                     CAST(sum(CAST(round(
                       idf.idf * (tf.tf / (tf.tf + 1.2 *
                         (0.25 + 0.75 * dl / idf.avgdl))), 9)
                       AS DECIMAL(16,9))) AS DOUBLE) AS score
              FROM tf JOIN idf USING (t) JOIN doclen USING (doc_id)
              GROUP BY tf.doc_id)
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS INTEGER) AS rank
            FROM scored
            QUALIFY rank <= 10
        """.replace("{TOKENS}", TOKENS_SQL),
        "token_entropy": """
            WITH tok AS (SELECT doc_id, unnest({TOKENS}) AS tok FROM documents),
            per_tok AS (SELECT doc_id, tok, count(*) AS c
                        FROM tok GROUP BY doc_id, tok),
            totals AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                              count(*) AS n_distinct
                       FROM per_tok GROUP BY doc_id)
            SELECT t.doc_id, t.n AS n_tokens, t.n_distinct,
                   CAST(sum(CAST(round(
                     -(CAST(p.c AS DOUBLE) / t.n)
                       * log2(CAST(p.c AS DOUBLE) / t.n), 9)
                     AS DECIMAL(16,9))) AS DOUBLE) AS entropy
            FROM per_tok p JOIN totals t USING (doc_id)
            GROUP BY t.doc_id, t.n, t.n_distinct
        """.replace("{TOKENS}", TOKENS_SQL),
        "sequence_pack": """
            WITH t AS (SELECT doc_id,
                              CAST(len({TOKENS}) AS BIGINT) AS n_tokens,
                              md5(CAST(doc_id AS VARCHAR)) AS h
                       FROM documents),
            b AS (SELECT *,
                         CAST(('0x' || substr(h, 1, 8))::BIGINT % 8 AS INTEGER)
                           AS bucket
                  FROM t),
            w AS (SELECT doc_id, bucket, n_tokens,
                         -- sum(BIGINT) is HUGEINT in DuckDB; cast back
                         -- or the schema check fails (float64 vs int64)
                         CAST(sum(n_tokens) OVER (PARTITION BY bucket
                                                  ORDER BY h, doc_id
                                                  ROWS UNBOUNDED PRECEDING)
                              AS BIGINT) AS e
                  FROM b)
            SELECT doc_id, bucket,
                   (e - n_tokens) // 256 AS bin_id,
                   (e - n_tokens) % 256 AS bin_offset,
                   n_tokens
            FROM w
        """.replace("{TOKENS}", TOKENS_SQL),
        "anomaly_zscore": """
            WITH hourly AS (SELECT event_type,
                                   date_trunc('hour', ts) AS hour_ts,
                                   count(*) AS n
                            FROM events GROUP BY 1, 2),
            stats AS (SELECT event_type, count(*) AS k,
                             sum(CAST(n AS DECIMAL(18,0))) AS s,
                             sum(CAST(n*n AS DECIMAL(28,0))) AS s2
                      FROM hourly GROUP BY event_type),
            scored AS (SELECT h.event_type, h.hour_ts, h.n,
                              round((h.n - CAST(s AS DOUBLE) / k) /
                                    sqrt((CAST(s2 AS DOUBLE)
                                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / k)
                                         / (k - 1)), 9) AS z
                       FROM hourly h JOIN stats USING (event_type))
            SELECT event_type,
                   strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour, n, z
            FROM scored WHERE abs(z) >= 2.0
        """,
        "time_travel": """
            WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                          FROM orders WHERE o_orderkey % 4 = 0),
            upd AS (SELECT o_orderkey, o_orderstatus,
                           o_totalprice + 5.0 AS o_totalprice
                    FROM orders WHERE o_orderkey % 8 = 0)
            SELECT *, 'current' AS state FROM (
              SELECT * FROM base
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
              UNION ALL SELECT * FROM upd)
            UNION ALL
            SELECT *, 'v1' AS state FROM base
        """,
        "events_stream_join": """
            SELECT a.user_id AS user_id,
                   a.event_id AS event_a, b.event_id AS event_b
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
            WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        """,
        "events_stream_dedup": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "source_xml": """
            SELECT o_orderstatus, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders WHERE o_orderkey % 7 = 0 GROUP BY o_orderstatus
        """,
        "source_csv": """
            SELECT o_orderstatus, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders WHERE o_orderkey % 7 = 0 GROUP BY o_orderstatus
        """,
        "source_json": """
            SELECT o_orderstatus, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders WHERE o_orderkey % 7 = 0 GROUP BY o_orderstatus
        """,
        "source_orc": """
            SELECT o_orderstatus, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders WHERE o_orderkey % 7 = 0 GROUP BY o_orderstatus
        """,
        "udtf_ngrams": """
            WITH t AS (SELECT doc_id, {TOKENS} AS toks
                       FROM documents WHERE doc_id <= 50),
            b AS (SELECT doc_id,
                         unnest(list_transform(
                           range(1, len(toks)),
                           i -> {'p': i - 1, 'bg': toks[i] || ' ' || toks[i+1]})) AS s
                  FROM t WHERE len(toks) > 1)
            SELECT doc_id, CAST(s.p AS BIGINT) AS pos, s.bg AS bigram FROM b
        """.replace("{TOKENS}", TOKENS_SQL),
        "triangle_count": """
            WITH e AS (
              SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
            nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e),
            tri AS (
              SELECT count(*) AS n_triangles
              FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
            SELECT (SELECT count(*) FROM nodes) AS n_nodes,
                   (SELECT count(*) FROM e) AS n_edges,
                   (SELECT n_triangles FROM tri) AS n_triangles
        """,
        "decontaminate": """
            WITH b AS (
              SELECT DISTINCT
                     unnest(list_transform(
                       range(1, greatest(len(toks) - 7, 1) + 1),
                       i -> array_to_string(toks[i:i+7], ' '))) AS g
              FROM (SELECT {TOKENS} AS toks FROM documents
                    WHERE doc_id % 20 = 0) t),
            corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
              UNION ALL
              SELECT doc_id + 100000, 'leaked eval excerpt follows ' || text
              FROM documents WHERE doc_id % 20 = 0),
            c AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       range(1, greatest(len(toks) - 7, 1) + 1),
                       i -> array_to_string(toks[i:i+7], ' ')))) AS g
              FROM (SELECT doc_id, {TOKENS} AS toks FROM corpus) t)
            SELECT c.doc_id, count(*) AS n_hits
            FROM c JOIN b USING (g) GROUP BY c.doc_id
        """.replace("{TOKENS}", TOKENS_SQL),
        "semantic_incremental_dedup": _XSEM_ORACLE,
        "semantic_incremental_scaled": _XSEM_ORACLE,
        "semdedup": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            planted AS (SELECT vec_id + 100000 AS vec_id,
                               list_transform(v, x -> x * 1.1) AS v
                        FROM e WHERE vec_id % 20 = 0),
            allv AS (SELECT * FROM e UNION ALL SELECT * FROM planted),
            cents AS (SELECT vec_id AS cell, v AS centroid
                      FROM e WHERE vec_id < 8),
            scored AS (SELECT a.vec_id, a.v, c.cell,
                              list_cosine_similarity(a.v, c.centroid) AS sim
                       FROM allv a, cents c),
            assigned AS (SELECT vec_id, v, cell FROM scored
                         QUALIFY row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY sim DESC, cell) = 1),
            dropped AS (SELECT DISTINCT b.vec_id AS did
                        FROM assigned a JOIN assigned b
                          ON a.cell = b.cell AND a.vec_id < b.vec_id
                        WHERE list_cosine_similarity(a.v, b.v) >= 0.95)
            SELECT s.vec_id, s.cell,
                   CASE WHEN d.did IS NULL THEN 1 ELSE 0 END AS kept
            FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.did
        """,
        "semdedup_scaled": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            planted AS (SELECT vec_id + 100000 AS vec_id,
                               list_transform(v, x -> x * 1.1) AS v
                        FROM e WHERE vec_id % 20 = 0),
            allv AS (SELECT * FROM e UNION ALL SELECT * FROM planted),
            cents AS (SELECT vec_id AS cell, v AS centroid
                      FROM e WHERE vec_id < 8),
            scored AS (SELECT a.vec_id, a.v, c.cell,
                              list_cosine_similarity(a.v, c.centroid) AS sim
                       FROM allv a, cents c),
            assigned AS (SELECT vec_id, v, cell FROM scored
                         QUALIFY row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY sim DESC, cell) = 1),
            dropped AS (SELECT DISTINCT b.vec_id AS did
                        FROM assigned a JOIN assigned b
                          ON a.cell = b.cell AND a.vec_id < b.vec_id
                        WHERE list_cosine_similarity(a.v, b.v) >= 0.95)
            SELECT s.vec_id, s.cell,
                   CASE WHEN d.did IS NULL THEN 1 ELSE 0 END AS kept
            FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.did
        """,
        "semdedup_autoscale": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            planted AS (SELECT vec_id + 100000 AS vec_id,
                               list_transform(v, x -> x * 1.1) AS v
                        FROM e WHERE vec_id % 20 = 0),
            allv AS (SELECT * FROM e UNION ALL SELECT * FROM planted),
            nc AS (SELECT CAST(ceil(count(*) / 64.0) AS BIGINT) AS k
                   FROM allv),
            cents0 AS (SELECT vec_id AS cell, v AS centroid FROM allv
                       WHERE vec_id < (SELECT k FROM nc)),
            s1 AS (SELECT a.vec_id AS vid, a.v, c.cell,
                          list_cosine_similarity(a.v, c.centroid) AS sim
                   FROM allv a, cents0 c),
            a1 AS (SELECT vid, v, cell FROM s1
                   QUALIFY row_number() OVER (PARTITION BY vid
                                              ORDER BY sim DESC, cell) = 1),
            m1 AS (SELECT cell,
                          CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS pos,
                          unnest(v) AS x
                   FROM a1),
            c1 AS (SELECT cell, pos,
                          CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE)
                            / count(*) AS c_val
                   FROM m1 GROUP BY cell, pos),
            cents1 AS (SELECT cell, list(c_val ORDER BY pos) AS centroid
                       FROM c1 GROUP BY cell),
            scored AS (SELECT a.vec_id, a.v, c.cell,
                              list_cosine_similarity(a.v, c.centroid) AS sim
                       FROM allv a, cents1 c),
            assigned AS (SELECT vec_id, v, cell FROM scored
                         QUALIFY row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY sim DESC, cell) = 1),
            dropped AS (SELECT DISTINCT b.vec_id AS did
                        FROM assigned a JOIN assigned b
                          ON a.cell = b.cell AND a.vec_id < b.vec_id
                        WHERE list_cosine_similarity(a.v, b.v) >= 0.95)
            SELECT s.vec_id, s.cell,
                   CASE WHEN d.did IS NULL THEN 1 ELSE 0 END AS kept
            FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.did
        """,
        "bpe_train": f"""
            WITH {_BPE_VOCAB_CTES}
            SELECT word, freq, syms FROM s2
        """,
        "bpe_encode": f"""
            WITH {_BPE_VOCAB_CTES},
            dtok AS (SELECT doc_id, toks,
                            unnest(range(1, len(toks) + 1)) AS pos
                     FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents) t),
            enc AS (SELECT d.doc_id, d.pos,
                           coalesce(v.syms,
                                    array_to_string(list_transform(
                                      range(1, len(d.word) + 1),
                                      i -> d.word[i:i]), ' ')) AS syms
                    FROM (SELECT doc_id, pos, toks[pos] AS word FROM dtok) d
                    LEFT JOIN s2 v USING (word)),
            agg AS (SELECT doc_id,
                           count(*) AS n_tokens,
                           sum(len(string_split(syms, ' '))) AS n_syms,
                           string_agg(syms, ' ' ORDER BY pos) AS encoded
                    FROM enc GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(a.n_syms, 0) AS BIGINT) AS n_syms,
                   coalesce(a.encoded, '') AS encoded
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "chunking": """
            WITH t AS (SELECT doc_id, {TOKENS} AS toks FROM documents),
            s AS (SELECT doc_id, toks,
                         1 + CAST(ceil(greatest(len(toks) - 64, 0) / 48.0)
                                  AS INTEGER) AS nst
                  FROM t),
            c AS (SELECT doc_id, toks, unnest(range(0, nst)) AS ci FROM s)
            SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
                   array_to_string(toks[ci*48+1 : ci*48+64], ' ') AS chunk_text,
                   CAST(len(toks[ci*48+1 : ci*48+64]) AS BIGINT) AS n_tokens
            FROM c
        """.replace("{TOKENS}", TOKENS_SQL),
        "group_sample": """
            SELECT o_orderpriority, o_orderkey, CAST(rk AS INTEGER) AS sample_rank
            FROM (
              SELECT o_orderpriority, o_orderkey,
                     row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
                     ) AS rk
              FROM orders)
            WHERE rk <= 5
        """,
        "unigram_logprob": """
            WITH tok AS (
              SELECT doc_id, unnest({TOKENS}) AS tok FROM documents),
            vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
            tot AS (SELECT sum(cnt) AS total FROM vocab),
            lm AS (SELECT tok,
                          CAST(round(ln(CAST(cnt AS DOUBLE) / total), 9)
                               AS DECIMAL(16,9)) AS lp
                   FROM vocab, tot)
            SELECT doc_id, count(*) AS n_tokens,
                   round(CAST(sum(lp) AS DOUBLE) / count(*), 9) AS avg_logprob
            FROM tok JOIN lm USING (tok) GROUP BY doc_id
        """.replace("{TOKENS}", TOKENS_SQL),
        "embedding_centroids": """
            WITH ex AS (
              SELECT label,
                     CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
                     unnest(embedding) AS x
              FROM embeddings)
            SELECT label, pos,
                   CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
                     / count(*) AS centroid_val,
                   count(*) AS n_vecs
            FROM ex GROUP BY label, pos
        """,
        "kmeans_step": """
            WITH cents AS (SELECT vec_id AS cell, embedding AS centroid
                           FROM embeddings WHERE vec_id < 8),
            scored AS (SELECT e.vec_id, e.embedding, c.cell,
                              list_cosine_similarity(e.embedding, c.centroid) AS sim
                       FROM embeddings e, cents c),
            assigned AS (SELECT vec_id, embedding, cell FROM scored
                         QUALIFY row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY sim DESC, cell) = 1),
            ex AS (SELECT cell,
                          CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
                          unnest(embedding) AS x
                   FROM assigned)
            SELECT cell, pos,
                   CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
                     / count(*) AS c_val,
                   count(*) AS n_members
            FROM ex GROUP BY cell, pos
        """,
        "kmeans_iter2": """
            WITH e AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            cents0 AS (SELECT vid AS cell, v AS centroid FROM e WHERE vid < 8),
            s1 AS (SELECT e.vid, e.v, c.cell,
                          list_cosine_similarity(e.v, c.centroid) AS sim
                   FROM e, cents0 c),
            a1 AS (SELECT vid, v, cell FROM s1
                   QUALIFY row_number() OVER (PARTITION BY vid
                                              ORDER BY sim DESC, cell) = 1),
            m1 AS (SELECT cell,
                          CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS pos,
                          unnest(v) AS x
                   FROM a1),
            c1 AS (SELECT cell, pos,
                          CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE)
                            / count(*) AS c_val
                   FROM m1 GROUP BY cell, pos),
            cents1 AS (SELECT cell, list(c_val ORDER BY pos) AS centroid
                       FROM c1 GROUP BY cell),
            s2 AS (SELECT e.vid, e.v, c.cell,
                          list_cosine_similarity(e.v, c.centroid) AS sim
                   FROM e, cents1 c),
            a2 AS (SELECT vid, v, cell FROM s2
                   QUALIFY row_number() OVER (PARTITION BY vid
                                              ORDER BY sim DESC, cell) = 1),
            m2 AS (SELECT cell,
                          CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS pos,
                          unnest(v) AS x
                   FROM a2)
            SELECT cell, pos,
                   CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE)
                     / count(*) AS c_val,
                   count(*) AS n_members
            FROM m2 GROUP BY cell, pos
        """,
        "pretrain_filter": """
            WITH q AS (
              SELECT doc_id, source, text,
                     len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                     x -> x <> '')) AS n_tokens,
                     CASE WHEN length(text) > 0
                          THEN length(regexp_replace(text, '[^0-9]', '', 'g'))
                               / CAST(length(text) AS DOUBLE)
                          ELSE 0 END AS digit_ratio,
                     CASE WHEN length(text) > 0
                          THEN length(regexp_replace(text, '[^A-Z]', '', 'g'))
                               / CAST(length(text) AS DOUBLE)
                          ELSE 0 END AS upper_ratio
              FROM documents),
            kept AS (SELECT * FROM q
                     WHERE n_tokens >= 5 AND digit_ratio < 0.2 AND upper_ratio < 0.3),
            winners AS (SELECT min(doc_id) AS doc_id FROM kept
                        GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
            SELECT source, count(*) AS n_docs_kept
            FROM kept WHERE doc_id IN (SELECT doc_id FROM winners)
            GROUP BY source
        """,
        "media_decode": """
            WITH h AS (SELECT doc_id AS id, sha256(text) AS hx FROM documents)
            SELECT id,
                   round(('0x' || substr(hx, 1, 2))::INT / 255.0
                       + ('0x' || substr(hx, 3, 2))::INT / 255.0
                       + ('0x' || substr(hx, 5, 2))::INT / 255.0
                       + ('0x' || substr(hx, 7, 2))::INT / 255.0
                       + ('0x' || substr(hx, 9, 2))::INT / 255.0
                       + ('0x' || substr(hx, 11, 2))::INT / 255.0
                       + ('0x' || substr(hx, 13, 2))::INT / 255.0
                       + ('0x' || substr(hx, 15, 2))::INT / 255.0, 6) AS feat_sum
            FROM h
        """,
        "storage_layouts": """
            WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                              CAST(count(DISTINCT o_orderkey) AS BIGINT)
                                AS n_keys,
                              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                                   AS DOUBLE) AS sum_price
                       FROM orders)
            SELECT l.layout, a.n_rows, a.n_keys, a.sum_price
            FROM (VALUES ('compacted'), ('sorted'), ('zorder'))
                   AS l(layout), a
        """,
        "ann_int8": """
            WITH ex AS (
              SELECT vec_id,
                     CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
                       AS pos,
                     CAST(CAST(CAST(unnest(embedding) AS DOUBLE)
                               AS DECIMAL(18,9)) * 1000000000 AS BIGINT)
                       AS i
              FROM embeddings),
            sc AS (SELECT max(abs(i)) AS s FROM ex),
            coded AS (SELECT ex.vec_id, ex.pos,
                             CASE WHEN s = 0 THEN 0
                                  ELSE greatest(-127, least(127,
                                       (i + s) * 127 // s - 127))
                             END AS code
                      FROM ex, sc),
            norms AS (SELECT vec_id AS match_id,
                             sum(code * code) AS nc
                      FROM coded GROUP BY 1),
            dots AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                            sum(q.code * c.code) AS dot
                     FROM coded q JOIN coded c USING (pos)
                     WHERE q.vec_id < 5
                     GROUP BY 1, 2),
            scored AS (SELECT d.query_id, d.match_id, d.dot,
                              CAST(d.dot AS DOUBLE) / sqrt(CAST(n.nc AS DOUBLE))
                                AS score
                       FROM dots d JOIN norms n USING (match_id)
                       WHERE n.nc > 0)
            SELECT query_id, match_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, match_id)
                        AS BIGINT) AS rank,
                   CAST(dot AS BIGINT) AS dot
            FROM scored
            QUALIFY rank <= 10
        """,
        "int8_quantize": """
            WITH ex AS (
              SELECT vec_id,
                     CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
                       AS pos,
                     CAST(CAST(CAST(unnest(embedding) AS DOUBLE)
                               AS DECIMAL(18,9)) * 1000000000 AS BIGINT)
                       AS i
              FROM embeddings),
            rng AS (SELECT pos, min(i) AS lo, max(i) AS hi
                    FROM ex GROUP BY 1),
            coded AS (SELECT ex.vec_id, ex.pos,
                             CASE WHEN hi = lo THEN 0
                                  ELSE (i - lo) * 255 // (hi - lo)
                             END AS code
                      FROM ex JOIN rng USING (pos))
            SELECT vec_id,
                   array_to_string(list(code ORDER BY pos), ',') AS codes,
                   CAST(count(*) AS BIGINT) AS n_dims
            FROM coded GROUP BY 1
        """,
        "shortest_path": """
            WITH RECURSIVE e AS (
              SELECT src, dst, min(w) AS w FROM (
                SELECT p_partkey % 60 AS src,
                       (p_partkey // 60) % 60 AS dst,
                       p_partkey % 7 + 1 AS w
                FROM part) t
              WHERE src <> dst GROUP BY 1, 2),
            walk(node, d, hops) AS (
              SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
              UNION ALL
              SELECT e.dst, walk.d + e.w, walk.hops + 1
              FROM walk JOIN e ON e.src = walk.node
              WHERE walk.hops < 4)
            SELECT node, CAST(min(d) AS BIGINT) AS dist
            FROM walk GROUP BY 1
        """,
        "events_stream_asof": """
            WITH dim AS (
              SELECT DISTINCT event_type,
                     date_trunc('week', ts) AS eff_ts,
                     (epoch_us(date_trunc('week', ts))//1000000 // 604800)
                       % 7 + 1 AS factor
              FROM events
              WHERE (epoch_us(date_trunc('week', ts))//1000000 // 604800)
                      % 3 = 0),
            m AS (SELECT e.event_id, e.event_type, e.value,
                         max(d.eff_ts) AS m_ts
                  FROM events e
                  JOIN dim d ON d.event_type = e.event_type
                            AND d.eff_ts <= e.ts
                  GROUP BY 1, 2, 3),
            j AS (SELECT m.event_type, m.value * d.factor AS adj
                  FROM m JOIN dim d ON d.event_type = m.event_type
                                   AND d.eff_ts = m.m_ts)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(adj AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_adj
            FROM j GROUP BY 1
        """,
        "substring_dedup": """
            WITH tok AS (SELECT doc_id, {TOKENS} AS toks FROM documents),
            win AS (SELECT doc_id,
                           unnest(range(1, greatest(len(toks) - 9, 0) + 1))
                             AS s,
                           toks
                    FROM tok),
            wn AS (SELECT doc_id, s,
                          array_to_string(toks[s:s+9], ' ') AS w
                   FROM win),
            hv AS (SELECT doc_id, s, {HEX15} AS h
                   FROM (SELECT doc_id, s, md5(w) AS mh FROM wn) x),
            duph AS (SELECT h FROM hv GROUP BY h HAVING count(*) >= 2),
            dw AS (SELECT doc_id, s,
                          row_number() OVER (PARTITION BY h
                                             ORDER BY doc_id, s) AS rn
                   FROM hv SEMI JOIN duph USING (h)),
            cov0 AS (SELECT DISTINCT doc_id, unnest(range(s, s + 10))
                       AS ti
                     FROM dw WHERE rn >= 2),
            wcov AS (SELECT DISTINCT doc_id, unnest(range(s, s + 10))
                       AS ti
                     FROM dw WHERE rn = 1),
            cov AS (SELECT doc_id, ti
                    FROM cov0 ANTI JOIN wcov USING (doc_id, ti)),
            tp AS (SELECT doc_id, r.i AS ti, toks[r.i] AS tk
                   FROM tok CROSS JOIN LATERAL
                     (SELECT unnest(range(1, len(toks) + 1)) AS i) r),
            kept AS (SELECT tp.doc_id, tp.ti, tp.tk
                     FROM tp ANTI JOIN cov USING (doc_id, ti)),
            rebuilt AS (SELECT doc_id,
                               string_agg(tk, ' ' ORDER BY ti) AS text,
                               count(*) AS n_kept
                        FROM kept GROUP BY doc_id)
            SELECT t.doc_id, coalesce(r.text, '') AS text,
                   CAST(len(t.toks) AS BIGINT) AS n_tokens,
                   CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT)
                     AS n_tokens_removed
            FROM tok t LEFT JOIN rebuilt r USING (doc_id)
        """.replace("{TOKENS}", TOKENS_SQL)
           .replace("{HEX15}", _sql_hex15("mh", 0)),
        "media_decode_bmp": """
            WITH dims AS (SELECT doc_id AS id, 8 + doc_id % 9 AS w,
                                 8 + doc_id % 7 AS h
                          FROM documents),
            px AS (SELECT id, w, h, c.c AS c,
                          (3*x.x + 7*y.y + 11*c.c + id) % 256 AS v
                   FROM dims
                   CROSS JOIN LATERAL (SELECT unnest(range(0, w)) AS x) x
                   CROSS JOIN LATERAL (SELECT unnest(range(0, h)) AS y) y
                   CROSS JOIN (SELECT unnest(range(0, 3)) AS c) c),
            agg AS (SELECT id, w, h,
                           sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS sr,
                           sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS sg,
                           sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS sb,
                           sum(v) AS s, sum(v*v) AS q
                    FROM px GROUP BY 1, 2, 3)
            SELECT id,
                   round(CAST(sr AS DOUBLE) / (w*h*255), 6) AS mean_r,
                   round(CAST(sg AS DOUBLE) / (w*h*255), 6) AS mean_g,
                   round(CAST(sb AS DOUBLE) / (w*h*255), 6) AS mean_b,
                   round(CAST(s AS DOUBLE) / (3*w*h*255), 6) AS mean_all,
                   round(sqrt(CAST(3*w*h*q - s*s AS DOUBLE))
                         / (3*w*h*255), 6) AS std_all,
                   round(CAST(w AS DOUBLE) / h, 6) AS aspect,
                   round(w / 1000.0, 6) AS w_scaled,
                   round(h / 1000.0, 6) AS h_scaled
            FROM agg
        """,
        "media_resize_bmp": """
            WITH dims AS (SELECT doc_id AS id, 8 + doc_id % 9 AS w0,
                                 8 + doc_id % 7 AS h0
                          FROM documents),
            px AS (SELECT id, c.c AS c,
                          (3*((x.x*w0)//12) + 7*((y.y*h0)//10)
                           + 11*c.c + id) % 256 AS v
                   FROM dims
                   CROSS JOIN (SELECT unnest(range(0, 12)) AS x) x
                   CROSS JOIN (SELECT unnest(range(0, 10)) AS y) y
                   CROSS JOIN (SELECT unnest(range(0, 3)) AS c) c),
            agg AS (SELECT id,
                           sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS sr,
                           sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS sg,
                           sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS sb,
                           sum(v) AS s, sum(v*v) AS q
                    FROM px GROUP BY 1)
            SELECT id,
                   round(CAST(sr AS DOUBLE) / (120*255), 6) AS mean_r,
                   round(CAST(sg AS DOUBLE) / (120*255), 6) AS mean_g,
                   round(CAST(sb AS DOUBLE) / (120*255), 6) AS mean_b,
                   round(CAST(s AS DOUBLE) / (360*255), 6) AS mean_all,
                   round(sqrt(CAST(360*q - s*s AS DOUBLE))
                         / (360*255), 6) AS std_all,
                   round(CAST(12 AS DOUBLE) / 10, 6) AS aspect,
                   round(12 / 1000.0, 6) AS w_scaled,
                   round(10 / 1000.0, 6) AS h_scaled
            FROM agg
        """,
        # no oracle (genuinely approximate): approx_distinct (HLL),
        # approx_quantiles (mergeable sketch), ann_ivf (approximate by
        # construction; recall pinned in tests)
    }
