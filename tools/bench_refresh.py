"""Steady-state refresh bench tier (VERDICT r13 task 1).

The refresh family is deliberately excluded from bench.py's headliners:
each self-contained registry query rebuilds its stored index artifact
every call, so a headline number would measure index CONSTRUCTION, not
the steady-state refresh the operators exist for. This harness measures
the number the production story actually rests on, in two phases:

- BUILD (recorded informationally, outside the timer): construct each
  stored artifact ONCE into a scratch catalog — the banded dHash
  fingerprint index (multimodal.dhash_index_ref), the banded MinHash
  index (dedup.minhash_index_ref), the SemDeDup centroid table, and the
  IVF centroid + posting tables (similarity.ivf_index).
- REFRESH (warm run + min-of-3, noop sink, full materialization): ONLY
  the daily-batch work — synthesize/sign/assign the new batch and join
  it against the stored artifact. The reference corpus's bytes are
  never re-scanned by any timed run (that is the design claim this
  artifact converts into a measured wall-clock).

Corpora shapes mirror the registry queries exactly (media_index_refresh
/ stream_media_refresh / incremental_dedup_cached /
semantic_incremental_dedup / ann_ivf_refresh), so each number
corresponds 1:1 to a driver-green correctness row. Work counters are
deterministic row counts, so a future round can separate plan drift
from host noise.

Writes bench_refresh.json at the repo root; bench.py merges it into
bench_full.json (like bench_scaling.json) and SCALE.md references it.

Run: python tools/bench_refresh.py   (env: SPARK_GRAFT_SF_DIR, default
/root/testdata/sf0.1; SPARK_GRAFT_CPUS, default all cores)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from eclipse_spark.operators import dedup
from eclipse_spark.operators import multimodal as mm
from eclipse_spark.operators import similarity as sim
from eclipse_spark.session import EngineConfig, get_spark
from eclipse_spark.storage import Catalog
from eclipse_spark.streaming import windows as sw


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, n: int = 3) -> list[float]:
    """One untimed warm run adjacent to the clock (bench.py's rule:
    codegen JIT / footer cache are not properties of the refresh),
    then n timed runs."""
    fn()
    runs: list[float] = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        runs.append(round(time.perf_counter() - t0, 3))
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark(EngineConfig(app_name="eclipse_spark_bench_refresh"))
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    results: dict[str, dict] = {}
    work_root = tempfile.mkdtemp(prefix="eclipse_bench_refresh_")
    try:
        cat = Catalog(spark, os.path.join(work_root, "cat"))

        # ---- media_index_refresh (batch, stored dHash index) --------
        ids = docs.select(F.col("doc_id").alias("id"))
        ref_ids = ids.filter(F.col("id") % 4 != 0)
        new_ids = ids.filter(F.col("id") % 4 == 0)
        ref_imgs = mm.encode_textured_bmp(ref_ids)
        new_imgs = mm.encode_textured_bmp(new_ids).unionByName(
            ref_imgs.filter(F.col("id") % 8 == 1).select(
                (F.col("id") + 100000).alias("id"), "bytes"
            )
        )
        t0 = time.perf_counter()
        mm.dhash_index_ref(
            cat, mm.dhash_bands(ref_imgs), table="bench_dhash_idx"
        )
        build_media = round(time.perf_counter() - t0, 3)
        index = cat.get_table("bench_dhash_idx")

        def _media_refresh() -> None:
            _noop(
                mm.dhash_pairs_against_index(
                    mm.dhash_bands(new_imgs), index, max_hamming=3
                )
            )

        runs = _timed(_media_refresh)
        results["media_index_refresh"] = {
            "build_sec": build_media,
            "refresh_runs": runs,
            "refresh_sec": min(runs),
            "work": {
                "n_ref": ref_ids.count(),
                "n_new_batch": new_imgs.count(),
                "n_pairs": mm.dhash_pairs_against_index(
                    mm.dhash_bands(new_imgs), index, max_hamming=3
                ).count(),
            },
        }

        # O(batch) demonstration: SAME stored index, a ~10x smaller
        # daily batch (id % 40 == 0 instead of % 4 == 0, plants
        # scaled the same way) — the refresh wall must track BATCH
        # size with the reference corpus held fixed, which is the
        # whole 100 TB refresh claim in one controlled measurement
        # (at production batch:corpus ratios the denominator keeps
        # growing while this timed path does not).
        small_ids = ids.filter(F.col("id") % 40 == 0)
        small_imgs = mm.encode_textured_bmp(small_ids).unionByName(
            ref_imgs.filter(F.col("id") % 80 == 1).select(
                (F.col("id") + 100000).alias("id"), "bytes"
            )
        )

        def _media_refresh_small() -> None:
            _noop(
                mm.dhash_pairs_against_index(
                    mm.dhash_bands(small_imgs), index, max_hamming=3
                )
            )

        runs_small = _timed(_media_refresh_small)
        results["media_index_refresh_batch10"] = {
            "build_sec": build_media,  # same stored index — not rebuilt
            "refresh_runs": runs_small,
            "refresh_sec": min(runs_small),
            "work": {
                "n_ref": ref_ids.count(),
                "n_new_batch": small_imgs.count(),
                "n_pairs": mm.dhash_pairs_against_index(
                    mm.dhash_bands(small_imgs), index, max_hamming=3
                ).count(),
            },
        }

        # ---- stream_media_refresh (one-trigger drain vs same index) -
        raw_schema = docs.schema
        docs_glob = os.path.join(sf_dir, "documents.*")

        def _stream_refresh_factory(name: str):
            def _run() -> None:
                new_s = (
                    sw.stream_from_parquet(spark, docs_glob, raw_schema)
                    .filter(F.col("doc_id") % 4 == 0)
                    .select(F.col("doc_id").alias("id"))
                )
                plant_s = (
                    sw.stream_from_parquet(spark, docs_glob, raw_schema)
                    .filter(
                        (F.col("doc_id") % 4 != 0) & (F.col("doc_id") % 8 == 1)
                    )
                    .select(F.col("doc_id").alias("id"))
                )
                imgs = mm.encode_textured_bmp(new_s).unionByName(
                    mm.encode_textured_bmp(plant_s).select(
                        (F.col("id") + 100000).alias("id"), "bytes"
                    )
                )
                pairs = mm.dhash_pairs_against_index_stream(
                    mm.dhash_bands(imgs), index, max_hamming=3
                )
                sw.run_stream_to_memory(pairs, name, "complete")
                spark.catalog.dropTempView(name)

            return _run

        # unique memory-sink name per run (the table is dropped after
        # each drain; names still kept distinct for safety)
        stream_runs: list[float] = []
        _stream_refresh_factory("bench_smr_warm")()
        for i in range(3):
            fn = _stream_refresh_factory(f"bench_smr_{i}")
            t0 = time.perf_counter()
            fn()
            stream_runs.append(round(time.perf_counter() - t0, 3))
        results["stream_media_refresh"] = {
            "build_sec": build_media,  # shares the stored index above
            "refresh_runs": stream_runs,
            "refresh_sec": min(stream_runs),
            "work": results["media_index_refresh"]["work"],
        }

        # ---- incremental_dedup_cached (stored MinHash index) ---------
        d = docs.select("doc_id", "text")
        ref_docs = d.filter(F.col("doc_id") < 250)
        new_docs = d.filter(F.col("doc_id") >= 250).unionByName(
            ref_docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.regexp_replace("text", " ", "  ").alias("text"),
            )
        )
        t0 = time.perf_counter()
        dedup.minhash_index_ref(
            cat, ref_docs, table="bench_minhash_idx", portable=True
        )
        build_minhash = round(time.perf_counter() - t0, 3)
        mh_index = cat.get_table("bench_minhash_idx")

        def _minhash_refresh() -> None:
            _noop(
                dedup.minhash_dedup_against_index(
                    new_docs, mh_index, ref_docs, threshold=0.8, portable=True
                )
            )

        runs = _timed(_minhash_refresh)
        results["incremental_dedup_cached"] = {
            "build_sec": build_minhash,
            "refresh_runs": runs,
            "refresh_sec": min(runs),
            "work": {
                "n_ref": ref_docs.count(),
                "n_new_batch": new_docs.count(),
                "n_kept": dedup.minhash_dedup_against_index(
                    new_docs, mh_index, ref_docs, threshold=0.8, portable=True
                ).count(),
            },
        }

        # ---- semantic_incremental_dedup (stored centroid table) ------
        e = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        ref_e = e.filter(F.col("vec_id") % 4 != 0)
        new_e = e.filter(F.col("vec_id") % 4 == 0).unionByName(
            ref_e.filter(F.col("vec_id") % 8 == 1).select(
                (F.col("vec_id") + 100000).alias("vec_id"),
                F.transform("embedding", lambda x: x * F.lit(1.1)).alias(
                    "embedding"
                ),
            )
        )
        t0 = time.perf_counter()
        cat.put(
            "bench_sem_cents",
            e.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("cell"),
                F.col("embedding").alias("centroid"),
            ),
        )
        build_sem = round(time.perf_counter() - t0, 3)
        cents = cat.get("bench_sem_cents")

        def _sem_refresh() -> None:
            _noop(dedup.semantic_dedup_against(new_e, ref_e, cents, threshold=0.95))

        runs = _timed(_sem_refresh)
        results["semantic_incremental_dedup"] = {
            "build_sec": build_sem,
            "refresh_runs": runs,
            "refresh_sec": min(runs),
            # NOTE: the embedding tier's stored artifact is the centroid
            # table; ref-side assignment recomputes per refresh (the
            # documented semantic_dedup_against lifecycle — assignments
            # are persisted within a call and released on exit).
            "work": {
                "n_ref": ref_e.count(),
                "n_new_batch": new_e.count(),
                "n_out": dedup.semantic_dedup_against(
                    new_e, ref_e, cents, threshold=0.95
                ).count(),
            },
        }

        # ---- ann_ivf_refresh (stored IVF index; probe timed too) -----
        ref_v = emb.filter(F.col("vec_id") % 4 != 0)
        new_v = emb.filter(F.col("vec_id") % 4 == 0)
        qs = emb.filter(F.col("vec_id") < 5)
        t0 = time.perf_counter()
        sim.ivf_index(cat, ref_v, table="bench_ivf", n_cells=16)
        build_ivf = round(time.perf_counter() - t0, 3)

        # probe FIRST (against the clean post-build index): the
        # steady-state query-batch latency over the stored tables
        post = cat.get("bench_ivf_postings")
        ivf_cents = cat.get("bench_ivf_centroids")

        def _probe() -> None:
            _noop(
                sim.ivf_topk_stored(qs, post, ivf_cents, k=10, n_probe=4)
            )

        probe_runs = _timed(_probe)
        results["ann_ivf_stored_probe"] = {
            "build_sec": build_ivf,
            "refresh_runs": probe_runs,
            "refresh_sec": min(probe_runs),
            "work": {"n_queries": qs.count(), "n_postings": post.count()},
        }

        # refresh LAST for this family: each timed append mutates the
        # posting table (same batch re-appended — identical work per
        # run, which is what the timer wants; the table is scratch)
        def _ivf_refresh() -> None:
            sim.ivf_refresh(cat, new_v, table="bench_ivf")

        runs = _timed(_ivf_refresh)
        results["ann_ivf_refresh"] = {
            "build_sec": build_ivf,
            "refresh_runs": runs,
            "refresh_sec": min(runs),
            "work": {
                "n_ref": ref_v.count(),
                "n_new_batch": new_v.count(),
                "n_cells": 16,
            },
        }

        # streaming face: one-trigger drain of the same batch through
        # foreachBatch appends (micro-batch machinery + the same
        # assignment/append work; the drain mutates the scratch index
        # per run — identical work each run, which is what the timer
        # wants)
        emb_schema = emb.schema
        emb_glob = os.path.join(sf_dir, "embeddings.*")

        def _ivf_stream_refresh() -> None:
            stream = sw.stream_from_parquet(
                spark, emb_glob, emb_schema
            ).filter(F.col("vec_id") % 4 == 0)
            sim.ivf_refresh_stream(cat, stream, table="bench_ivf")

        runs_stream = _timed(_ivf_stream_refresh)
        results["ann_ivf_refresh_stream"] = {
            "build_sec": build_ivf,
            "refresh_runs": runs_stream,
            "refresh_sec": min(runs_stream),
            "work": results["ann_ivf_refresh"]["work"],
        }

        # O(batch) demonstration for the search side: same stored
        # centroids, a ~10x smaller vector batch appended
        small_v = emb.filter(F.col("vec_id") % 40 == 0)

        def _ivf_refresh_small() -> None:
            sim.ivf_refresh(cat, small_v, table="bench_ivf")

        runs_small = _timed(_ivf_refresh_small)
        results["ann_ivf_refresh_batch10"] = {
            "build_sec": build_ivf,
            "refresh_runs": runs_small,
            "refresh_sec": min(runs_small),
            "work": {
                "n_ref": ref_v.count(),
                "n_new_batch": small_v.count(),
                "n_cells": 16,
            },
        }
    finally:
        for t in ("bench_dhash_idx", "bench_minhash_idx"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(work_root, ignore_errors=True)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = {
        "metric": "refresh_steady_state",
        "unit": "sec",
        "sf": sf,
        "queries": results,
        "note": (
            "build_sec = one-time stored-artifact construction (outside "
            "the timer); refresh_sec = min-of-3 steady-state refresh "
            "(warm run adjacent), full materialization via noop sink; "
            "the reference corpus is never re-scanned by a timed run "
            "except incremental_dedup_cached's documented candidate-"
            "verify re-read (semi-joined to the tiny candidate id set)."
        ),
    }
    with open(os.path.join(here, "bench_refresh.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "metric": "refresh_steady_state",
                "sf": sf,
                "refresh_sec": {
                    k: v["refresh_sec"] for k, v in results.items()
                },
                "build_sec": {k: v["build_sec"] for k, v in results.items()},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
