"""Derive a 10x scale-up of /root/testdata/sf0.1 for the bench's
sf-scaling probe (VERDICT r5 task 5). No sf1 driver data exists in
this sandbox, so the probe input is a REPLICATED derivative — used
ONLY to measure time ratios (does a plan scale ~linearly in data?),
never for correctness oracles, which always run on driver-generated
parquet.

Replication semantics (R = 10 replicas, r = 0..9), chosen so the
statistical structure that drives plan cost is preserved, not
distorted:

- TPC-H keys shift by a power-of-10 offset per replica, consistently
  across PK and FK sides, so joins keep exactly the same fan-out and
  selectivity (10x rows, 10x distinct keys). nation/region stay fixed
  (TPC-H dimensions do not scale).
- documents: doc_id shifts; for r > 0 every token gets a "~r" suffix,
  so cross-replica shingles/tokens are disjoint — the DUP RATE and
  near-dup structure stay identical to sf0.1 (each replica contains
  the same internal duplicates) instead of every doc gaining 9
  artificial exact copies, which would superlinearly explode any
  dedup candidate volume by construction rather than by plan quality.
- embeddings: vec_id shifts; vectors are dimension-rolled by 7*r for
  r > 0, preserving the marginal distribution and per-replica
  neighborhood structure while decorrelating replicas (a straight
  copy would make every vector have 9 cosine-1.0 twins).
- events: event_id/user_id shift -> 10x users over the same time
  range, i.e. 10x per-window density, which is what a 10x corpus
  means for windowed aggregation cost.

Run: python tools/make_scaled_sf.py [out_dir] [replicas] [tables]
(defaults: /root/repo/benchdata/sf1, 10, all tables). The 100x tier
(VERDICT r6 task 5) derives documents/embeddings only:
python tools/make_scaled_sf.py /root/repo/benchdata/sf10 100 \\
    documents,embeddings
Idempotent: skips tables already present.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from eclipse_spark.session import EngineConfig, get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
R = 10

# power-of-10 offsets comfortably above each table's max key at sf0.1
OFF = {
    "o_orderkey": 1_000_000,
    "c_custkey": 100_000,
    "s_suppkey": 10_000,
    "p_partkey": 100_000,
    "event_id": 1_000_000,
    "user_id": 10_000,
    # 1M (not 100k) so the registry's planted-duplicate shift — every
    # near-dup query plants copies at id + 100_000 — can NEVER alias a
    # replica's original ids: originals live at r*1M + [0, ~5k), plants
    # at r*1M + 100k + [0, ~5k), disjoint for every r (ADVICE r10: the
    # old 100k offset made every replica-r plant collide with a
    # replica-(r+1) original at the probe tiers, distorting the
    # measured dedup workload)
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
}


def _shift(df: DataFrame, r: int, cols: list[str]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.col(c) + F.lit(r * OFF[c]))
    return df


def _replicate(df: DataFrame, shift_cols: list[str], extra=None) -> DataFrame:
    parts = []
    for r in range(R):
        p = _shift(df, r, shift_cols)
        if extra is not None:
            p = extra(p, r)
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _perturb_text(df: DataFrame, r: int) -> DataFrame:
    if r == 0:
        return df
    # suffix every token: replica shingle spaces are disjoint
    return df.withColumn(
        "text", F.regexp_replace("text", r"(\S+)", rf"$1~{r}")
    )


def _roll_vec(df: DataFrame, r: int) -> DataFrame:
    if r == 0:
        return df
    # 64 distinct rolls; replicas 64.. reverse first so every r < 128
    # gets a DISTINCT norm/marginal-preserving transform (plain roll
    # alone would give replicas r and r+64 identical vectors — exact
    # cosine-1.0 twins distorting the near-dup structure at 100x)
    k = (7 * r) % 64
    col = "reverse(embedding)" if r >= 64 else "embedding"
    if k == 0:
        return df.withColumn("embedding", F.expr(col))
    return df.withColumn(
        "embedding",
        F.expr(
            f"concat(slice({col}, {k + 1}, size(embedding) - {k}), "
            f"slice({col}, 1, {k}))"
        ),
    )


def main(out_dir: str, replicas: int = R, tables: list[str] | None = None) -> None:
    global R
    R = replicas
    spark = get_spark(EngineConfig(app_name="make_scaled_sf"))
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)

    plans = {
        "region": lambda df: df,
        "nation": lambda df: df,
        "customer": lambda df: _replicate(df, ["c_custkey"]),
        "supplier": lambda df: _replicate(df, ["s_suppkey"]),
        "part": lambda df: _replicate(df, ["p_partkey"]),
        "orders": lambda df: _replicate(df, ["o_orderkey", "c_custkey"]),
        "lineitem": lambda df: _replicate(
            df, ["o_orderkey", "p_partkey", "s_suppkey"]
        ),
        "events": lambda df: _replicate(df, ["event_id", "user_id"]),
        "documents": lambda df: _replicate(df, ["doc_id"], _perturb_text),
        "embeddings": lambda df: _replicate(df, ["vec_id"], _roll_vec),
    }
    # orders/lineitem share o_custkey/l_* names differing from OFF keys
    renames = {
        "orders": {"o_custkey": "c_custkey"},
        "lineitem": {
            "l_orderkey": "o_orderkey",
            "l_partkey": "p_partkey",
            "l_suppkey": "s_suppkey",
        },
    }
    for table, plan in plans.items():
        if tables is not None and table not in tables:
            continue
        dst = os.path.join(out_dir, f"{table}.parquet")
        if os.path.exists(dst):
            print(f"skip {table} (exists)")
            continue
        df = spark.read.parquet(os.path.join(SRC, f"{table}.parquet"))
        ren = renames.get(table, {})
        for orig, canon in ren.items():
            df = df.withColumnRenamed(orig, canon)
        out = plan(df)
        for orig, canon in ren.items():
            out = out.withColumnRenamed(canon, orig)
        out.write.mode("overwrite").parquet(dst)
        print(f"wrote {table}: {spark.read.parquet(dst).count()} rows")
    spark.stop()


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/repo/benchdata/sf1",
        int(sys.argv[2]) if len(sys.argv) > 2 else R,
        sys.argv[3].split(",") if len(sys.argv) > 3 else None,
    )
